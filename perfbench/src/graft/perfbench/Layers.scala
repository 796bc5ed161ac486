package graft.perfbench

import graft.Profile

/** Per-layer numbers of a traced body. Counters and times are per pass of
  * the workload's mix (totals divided by the passes run); `op.<name>_s` is
  * the median latency of that op; `exec.peak_mem_bytes` is the largest
  * operator peak seen.
  */
object Layers {
  /** Span name → layer: `op:<name>`, `stage.<name>`, `model.<job>` … */
  private def layerOf(name: String): String = name.takeWhile(c => c != '.' && c != ':')

  val SelfLayers = Seq("op", "stage", "model", "quality", "tables", "semantic", "queries")

  def report(w: Workload, recs: Seq[Main.Rec], passes: Int, spans: Seq[Span],
             acc: Profile.Acc, jobs: JobLog, plans: PlanLog, stub: Option[LlmStub],
             gc: Double, wallTraced: Double, wallPlain: Double, appendedFrom: Int,
             put: (String, Double, String) => Unit): Unit = {
    val n = passes.toDouble
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def clip(s: Span, iv: Seq[(Long, Long)]) =
      iv.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }.filter(x => x._1 < x._2)
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    def root(id: Int): Int = byId.get(id) match {
      case Some(s) if s.parent != 0 => root(s.parent)
      case _ => id
    }
    val jobList = jobs.synchronized(jobs.jobs.values.toVector)
    val ops = spans.filter(_.name.startsWith("op:"))

    // driver self time: op time with no job of the op running
    val opJobs = jobList.filter(j => j.end >= 0 && j.span != 0).groupBy(j => root(j.span))
    val driverSelf = ops.map { s =>
      (s.end - s.start) - Tracer.covered(clip(s, opJobs.getOrElse(s.id, Nil).map(j => (j.start, j.end))))
    }.sum / 1e9
    put("driver.jobs", acc.jobs.get / n, "count")
    put("driver.stages", acc.stages.get / n, "count")
    put("driver.tasks", acc.tasks.get / n, "count")
    put("driver.plan_s", plans.sums("driver.plan_s") / n, "s")
    put("driver.self_s", driverSelf / n, "s")

    put("queries.build_s", total("queries.build"), "s")
    put("queries.exec_s", total("queries.exec"), "s")
    put("semantic.compile_s", total("semantic.compile"), "s")
    put("semantic.exec_s", total("semantic.exec"), "s")

    val sql = (k: String) => plans.sums(k) / n
    put("scan.bytes", acc.input.get / n, "bytes")
    put("scan.rows", sql("scan.rows"), "count")
    put("scan.time_s", sql("scan.time_s"), "s")
    put("codegen.stages", sql("codegen.stages"), "count")
    put("codegen.stage_s", sql("codegen.stage_s"), "s")
    put("exchange.write_bytes", sql("exchange.write_bytes"), "bytes")
    put("exchange.read_bytes", sql("exchange.read_bytes"), "bytes")
    put("exchange.write_s", sql("exchange.write_s"), "s")
    put("exchange.fetch_wait_s", sql("exchange.fetch_wait_s"), "s")
    put("aggregate.time_s", sql("aggregate.time_s"), "s")
    put("spill.bytes", sql("spill.bytes"), "bytes")
    put("exec.peak_mem_bytes", plans.peakMem.toDouble, "bytes")
    put("executor.run_s", acc.taskTimeMs.get / 1e3 / n, "s")
    put("executor.cpu_s", jobs.cpuNs / 1e9 / n, "s")
    put("jvm.gc_s", gc / n, "s")
    put("ingest.csv_bytes", sql("ingest.csv_bytes"), "bytes")
    put("ingest.scan_s", sql("ingest.scan_s"), "s")

    val daily = w match { case d: Daily => Some(d); case _ => None }
    val appended = daily.fold(Seq.empty[Long])(_.appended.drop(appendedFrom).toSeq)
    put("model.games_dim_s", total("model.games_dim"), "s")
    put("model.aux_dims_s", total("model.aux_dims"), "s")
    put("model.reviews_fact_s", total("model.reviews_fact"), "s")
    put("model.rows_appended", appended.sum / n, "count")

    val (busy, inflight) = stub.fold((0.0, 0.0))(_.busy)
    val requests = stub.fold(0L)(_.requests.get)
    val texts = stub.fold(0L)(_.texts.get)
    put("ai.requests", requests / n, "count")
    put("ai.texts", texts / n, "count")
    put("ai.requests_per_row", if (texts == 0) 0.0 else requests.toDouble / texts, "ratio")
    put("ai.busy_s", busy / n, "s")
    put("ai.inflight_mean", inflight, "ratio")
    put("ai.errors", stub.fold(0L)(_.errors.get) / n, "count")

    // per DAG run: stage wall over DAG wall, and the longest dependency path
    val stageSecs = ops.map(op => children.getOrElse(op.id, Nil)
      .filter(_.name.startsWith("stage.")).map(s => s.name -> s.seconds).toMap)
    val dagRuns = ops.zip(stageSecs).filter(_._2.nonEmpty)
    put("pipeline.overlap",
      if (dagRuns.isEmpty) 0.0 else dagRuns.map(_._2.values.sum).sum / dagRuns.map(_._1.seconds).sum, "ratio")
    val paths = stageSecs.filter(_.nonEmpty).map { s =>
      def g(k: String) = s.getOrElse(s"stage.$k", 0.0)
      math.max(g("dimensions"), g("reviews_fact")) + g("quality_checks") + g("semantic_layer")
    }
    put("pipeline.critical_path_s", if (paths.isEmpty) 0.0 else paths.sorted.apply(paths.size / 2), "s")

    // the gate checks the whole fact: the rows landed so far in the pass
    val checked = recs.zip(appended).groupBy(_._1.pass).values
      .map(_.map(_._2).scanLeft(0L)(_ + _).tail.sum).sum
    val violations = recs.flatMap(_.error).collect {
      case m if m.contains("DQViolationException") => "(\\d+) rows failed".r.findFirstMatchIn(m).fold(0L)(_.group(1).toLong)
    }.sum
    put("quality.gate_s", total("quality.gate"), "s")
    put("quality.rows_checked", checked / n, "count")
    put("quality.violations", violations / n, "count")

    // a save is the root SQL execution of a table write; its commit is
    // the part after the last job of any execution under that root
    val execs = jobs.synchronized(jobs.execs.toMap)
    val saves = execs.values.filter(_.write).map(_.root).toSet.toSeq
      .flatMap(execs.get).filter(e => e.end >= 0)
    val saveS = saves.map(e => e.end - e.start).sum / 1e9
    val commitS = saves.map { e =>
      val under = execs.collect { case (id, x) if x.root == e.root => id }.toSet
      val lastJob = jobList.filter(j => under.contains(j.exec) && j.end >= 0).map(_.end)
      e.end - (if (lastJob.isEmpty) e.start else math.min(e.end, lastJob.max))
    }.sum / 1e9
    val userBytes = daily.fold(0L)(d => recs.map(r => d.landedBytes(r.op.stripPrefix("dag_day").toInt)).sum)
    put("tables.save_s", saveS / n, "s")
    put("tables.commit_s", commitS / n, "s")
    put("tables.load_s", total("tables.load"), "s")
    put("tables.files_written", sql("tables.files_written"), "count")
    put("tables.bytes_written", jobs.bytesWritten / n, "bytes")
    put("tables.bytes_per_user_byte", if (userBytes == 0) 0.0 else jobs.bytesWritten.toDouble / userBytes, "ratio")

    // self time: a span's duration less what its child spans cover
    SelfLayers.foreach { l =>
      val self = spans.filter(s => layerOf(s.name) == l).map { s =>
        (s.end - s.start) - Tracer.covered(clip(s, children.getOrElse(s.id, Nil).map(c => (c.start, c.end))))
      }.sum / 1e9
      put(s"self.${l}_s", self / n, "s")
    }

    w.mix.foreach { op =>
      val lat = recs.filter(_.op == op).map(_.latency).sorted
      put(s"op.${op}_s", if (lat.isEmpty) 0.0 else lat(lat.size / 2), "s")
    }
    put("trace.overhead_pct", (wallTraced / wallPlain - 1) * 100, "%")
  }
}

package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.Sessions
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** One workload of a closed loop, one client: ops run back to back. */
trait Workload {
  /** The op names of one pass. */
  def mix: Seq[String]
  /** The order of one pass. */
  def order(rng: scala.util.Random): Seq[String] = rng.shuffle(mix)
  /** Untimed reset before each pass. */
  def startPass(): Unit = ()
  /** Runs one op (timed) and returns its output check (untimed). */
  def run(op: String): () => Option[String]
  def close(): Unit = ()
}

/** Benchmark driver, one JVM per run:
  * `Main <workload> <seed> <seconds> <trace 0|1> <tables dir> <oracle dir> <result file>`.
  *
  * Sessions come from `graft.core.Sessions.local`, so the plans measured
  * are the plans the system ships. Set-up is timed apart from the body;
  * the body runs whole passes over the workload's mix until `seconds`
  * have passed. With trace 1 an untraced body runs first, then a traced
  * one gives the per-layer numbers and the tracing overhead.
  */
object Main {
  final case class Rec(op: String, pass: Int, latency: Double, cpu: Double, error: Option[String])

  private val SessionStarts = 3

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow: Double = osBean.getProcessCpuTime / 1e9
  private def gcNow: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def make(workload: String, spark: SparkSession, tables: String, oracle: String,
                   nproc: Int, tr: Tracer): Workload = workload match {
    case "daily_pipeline" => new Daily(spark, tables, nproc, tr)
    case "analyst_queries" => new Catalog(spark, tables, oracle, Catalog.analyst, tr)
    case "train_prep" => new Catalog(spark, tables, oracle, Catalog.trainPrep, tr)
  }

  private def runOp(w: Workload, tr: Tracer, op: String, pass: Int): Rec = {
    val c0 = cpuNow
    val t0 = System.nanoTime()
    var check: () => Option[String] = () => None
    var error: Option[String] = None
    tr(s"op:$op") {
      try check = w.run(op)
      catch { case scala.util.control.NonFatal(e) => error = Some(s"threw $e") }
    }
    val latency = (System.nanoTime() - t0) / 1e9
    val cpu = cpuNow - c0
    if (error.isEmpty)
      error = try check() catch { case scala.util.control.NonFatal(e) => Some(s"check threw $e") }
    Rec(op, pass, latency, cpu, error)
  }

  /** Untimed warm-up: JIT, codegen, relation memos, state the ops build. */
  private def warmUp(w: Workload, tr: Tracer, nproc: Int): Unit = {
    w.startPass()
    w match {
      case d: Daily =>
        val full = d.batchSize
        d.batchSize = Daily.WarmUpBatch
        d.mix.foreach(runOp(w, tr, _, -1))
        d.batchSize = full
      case _ =>
        // the catalog ops are read-only, so they warm up side by side
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
        try w.mix.map(op => pool.submit(() => runOp(w, tr, op, -1))).foreach(_.get())
        finally pool.shutdown()
    }
  }

  /** Class-list training for the JVM's class-data-sharing archive: one
    * warm-up of every workload on small inputs, then exit. `args` are
    * `workload=tables=oracle` triples.
    */
  private def cdsTraining(args: Seq[String]): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = Sessions.local(nproc, "perfbench")
    val tr = new Tracer(spark.sparkContext, enabled = false)
    args.map(_.split("=")).foreach { case Array(workload, tables, oracle) =>
      val w = make(workload, spark, tables, oracle, nproc, tr)
      try warmUp(w, tr, nproc) finally w.close()
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.head == "--cds-training") return cdsTraining(args.tail.toSeq)
    val Array(workload, seedArg, secondsArg, traceArg, tables, oracle, out) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val nproc = Runtime.getRuntime.availableProcessors
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      println(f"[perfbench] +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs $name")

    // session start, repeated; the last session is the one measured
    val starts = (1 to SessionStarts).map { i =>
      val t0 = System.nanoTime()
      val s = Sessions.local(nproc, "perfbench")
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SessionStarts) s.stop()
      dt
    }
    val spark = SparkSession.active
    phase("sessions started")
    val sc = spark.sparkContext
    val tr = new Tracer(sc, enabled = false)
    val w = make(workload, spark, tables, oracle, nproc, tr)
    phase("workload ready")
    val t0 = System.nanoTime()
    warmUp(w, tr, nproc)
    val setup = median(starts) + (System.nanoTime() - t0) / 1e9

    def body(salt: Int): (Seq[Rec], Int) = {
      val rng = new scala.util.Random(seed * 1000003L + salt)
      val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]
      val start = System.nanoTime()
      var pass = 0
      while (pass == 0 || System.nanoTime() - start < seconds * 1e9) {
        w.startPass()
        w.order(rng).foreach(op => recs += runOp(w, tr, op, pass))
        pass += 1
      }
      (recs.toSeq, pass)
    }

    phase("warmed up")
    val (plain, _) = body(0)
    phase("body done")
    println("[perfbench] op seconds: " + w.mix.map(op =>
      f"$op=${median(plain.filter(_.op == op).map(_.latency))}%.2f").mkString(" "))
    val result = new java.util.LinkedHashMap[String, Any]()
    val metrics = new java.util.LinkedHashMap[String, Any]()
    def put(name: String, value: Double, unit: String): Unit =
      metrics.put(name, java.util.Map.of("value", value, "unit", unit))
    val perPass = (recs: Seq[Rec], f: Rec => Double) =>
      w.mix.map(op => median(recs.filter(_.op == op).map(f))).sum
    val wall = perPass(plain, _.latency)
    var recs = plain

    if (!traced) {
      val lat = plain.map(_.latency).sorted
      val n = lat.size
      // the highest percentile with at least ten samples above it; below
      // 21 samples that is under the median (the fastest op of an
      // 11-op pass), which is no tail, so the slowest op stands in
      val (tailK, tailName) =
        if (n >= 21) (n - 11, s"p${(100.0 * (n - 10) / n).floor.toInt}") else (n - 1, "max")
      put("setup_s", setup, "s")
      put("wall_s", wall, "s")
      put("cpu_s", perPass(plain, _.cpu), "s")
      put("op_p50_s", median(lat), "s")
      put("op_tail_s", lat(tailK), "s")
      put("peak_rss_mb", peakRssMb, "MB")
      println(f"[perfbench] $workload: $n ops; op_tail_s is $tailName of $n; " +
        f"setup_s = median of $SessionStarts session starts ${starts.map(x => f"$x%.3f").mkString("/")} + warm-up")
    } else {
      val acc = new graft.Profile.Acc
      val jobs = new JobLog
      val plans = new PlanLog
      sc.addSparkListener(acc)
      sc.addSparkListener(jobs)
      spark.listenerManager.register(plans)
      val stub = w match { case d: Daily => Some(d.stub); case _ => None }
      stub.foreach(_.reset())
      val appended0 = w match { case d: Daily => d.appended.size; case _ => 0 }
      tr.enabled = true
      val gc0 = gcNow
      val (tracedRecs, passes) = body(1)
      val gc = gcNow - gc0
      tr.enabled = false
      org.apache.spark.perfbench.Bus.drain(sc)
      recs = plain ++ tracedRecs
      Layers.report(w, tracedRecs, passes, tr.spans.toSeq, acc, jobs, plans, stub, gc,
        wallTraced = perPass(tracedRecs, _.latency), wallPlain = wall,
        appendedFrom = appended0, put)
    }

    val failures = recs.filter(_.error.isDefined)
    val selfTest = w match { case d: Daily => d.selfTest(); case _ => Nil }
    phase("checked")
    failures.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, fs) =>
      println(s"[perfbench] FAIL $op (${fs.size}x): ${fs.head.error.get.take(400)}")
    }
    selfTest.foreach(m => println(s"[perfbench] FAIL self-test: $m"))
    println(f"[perfbench] error_rate = ${failures.size}/${recs.size} = ${failures.size.toDouble / recs.size}%.4f")
    w.close()
    spark.stop()

    result.put("correct", failures.isEmpty && selfTest.isEmpty)
    result.put("attempted", recs.size)
    result.put("failed", failures.size)
    result.put("metrics", metrics)
    new ObjectMapper().writeValue(new java.io.File(out), result)
    phase("stopped")
  }
}

package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Epoch nanoseconds on the monotonic clock, comparable with the
  * millisecond timestamps Spark puts on scheduler events.
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + base
}

final case class Span(id: Int, parent: Int, name: String, start: Long) {
  var end: Long = 0L
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's own calls into each layer: op → pipeline
  * stage → layer call. The current span id rides the Spark local property
  * [[Tracer.Key]], so every job a span submits is attributed to it. One
  * client thread makes all calls, so a plain stack suffices. Disabled, it
  * only runs the body.
  */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, stack.headOption.fold(0)(_.id), name, Clock.now)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = Clock.now
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer {
  val Key = "perfbench.span"

  /** Length of the union of [a, b) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }
}

/** Job intervals by span and SQL execution, plus the stage counters that
  * `graft.Profile.Acc` does not keep (executor CPU, bytes written).
  */
final class JobLog extends SparkListener {
  final case class Job(span: Int, exec: Long, start: Long) { var end: Long = -1L }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  final case class Exec(root: Long, write: Boolean, start: Long) { var end: Long = -1L }
  /** SQL executions by id; nested ones name their root execution. */
  val execs = mutable.Map.empty[Long, Exec]
  var cpuNs = 0L
  var bytesWritten = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = Job(prop(Tracer.Key).fold(0)(_.toInt),
      prop("spark.sql.execution.id").fold(-1L)(_.toLong), e.time * 1000000L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = Exec(s.rootExecutionId.getOrElse(s.executionId),
        writes(s.sparkPlanInfo), s.time * 1000000L)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time * 1000000L)
    }
    case _ =>
  }

  private def writes(p: SparkPlanInfo): Boolean =
    JobLog.Write.findFirstIn(p.nodeName).isDefined || p.children.exists(writes)
}

object JobLog {
  /** Plan nodes of a table write. */
  val Write = "Execute (InsertIntoHadoopFsRelation|CreateDataSourceTableAsSelect|SaveAsV1Table)Command".r
}

/** Per-operator SQL metrics read from each finished query's AQE-final
  * executed plan, summed into the layer counters.
  */
final class PlanLog extends QueryExecutionListener {
  val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var peakMem = 0L

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    sums("driver.plan_s") += Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1e3
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    walk(qe.executedPlan, seen)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).fold(0L)(_.value)

  private def isCsvScan(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec => f.relation.fileFormat.isInstanceOf[CSVFileFormat]
    case _ => false
  }

  /** A codegen stage's own operators: its subtree up to stage inputs,
    * plus a row-based file scan feeding it directly.
    */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case i: InputAdapter => Seq(i) ++ Seq(i.child).collect { case f: FileSourceScanExec => f }
    case _: QueryStageExec | _: ShuffleExchangeExec => Seq(p)
    case other => other +: other.children.flatMap(stageNodes)
  }

  /** Cached relations' plans run once, on the first action that reads
    * them; later readers see the same finished plan, counted once.
    */
  private val cachedPlans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])

  private def walk(p: SparkPlan, seen: java.util.Set[SparkPlan]): Unit =
    if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, seen)
        case s: QueryStageExec => walk(s.plan, seen)
        case _: ReusedExchangeExec => () // its metrics belong to the original
        case c: CommandResultExec => walk(c.commandPhysicalPlan, seen)
        case i: InMemoryTableScanExec =>
          if (cachedPlans.add(i.relation.cachedPlan)) walk(i.relation.cachedPlan, seen)
        case _ =>
      }
      p match {
        case w: WholeStageCodegenExec =>
          val t = metric(w, "pipelineTime") / 1e3
          sums("codegen.stages") += 1
          sums("codegen.stage_s") += t
          if (stageNodes(w.child).exists(isCsvScan)) sums("ingest.scan_s") += t
        case f: FileSourceScanExec =>
          sums("scan.rows") += metric(f, "numOutputRows")
          sums("scan.time_s") += metric(f, "scanTime") / 1e3
          if (isCsvScan(f)) sums("ingest.csv_bytes") += metric(f, "filesSize")
        case e: ShuffleExchangeExec =>
          sums("exchange.write_bytes") += metric(e, "shuffleBytesWritten")
          sums("exchange.write_s") += metric(e, "shuffleWriteTime") / 1e9
          sums("exchange.read_bytes") +=
            metric(e, "remoteBytesRead") + metric(e, "localBytesRead")
          sums("exchange.fetch_wait_s") += metric(e, "fetchWaitTime") / 1e3
        case a: BaseAggregateExec =>
          sums("aggregate.time_s") += metric(a, "aggTime") / 1e3
        case w @ (_: DataWritingCommandExec | _: ExecutedCommandExec)
            if w.metrics.contains("numOutputBytes") =>
          sums("tables.files_written") += metric(w, "numFiles")
        case _ =>
      }
      sums("spill.bytes") += metric(p, "spillSize")
      peakMem = math.max(peakMem, metric(p, "peakMemory"))
      (p.children ++ p.subqueries).foreach(walk(_, seen))
    }
}

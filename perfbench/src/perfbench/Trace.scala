package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JSON-object builder for one trace record. */
private[perfbench] final class Rec(kind: String) {
  private val sb = new StringBuilder(s"""{"kind":${Rec.str(kind)}""")
  def num(k: String, v: Double): Rec = { sb.append(s",${Rec.str(k)}:$v"); this }
  def num(k: String, v: Long): Rec = { sb.append(s",${Rec.str(k)}:$v"); this }
  def str(k: String, v: String): Rec = { sb.append(s",${Rec.str(k)}:${Rec.str(v)}"); this }
  def raw(k: String, json: String): Rec = { sb.append(s",${Rec.str(k)}:$json"); this }
  override def toString: String = sb.toString + "}"
}

private[perfbench] object Rec {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** Records kept in memory and written out once, as JSON lines. */
class Sink {
  private val records = new ConcurrentLinkedQueue[String]()

  def add(r: Rec): Unit = records.add(r.toString)

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try records.asScala.foreach(w.println) finally w.close()
  }
}

/** Spans around calls into the program's layers, plus (when tracing is on)
  * the counts Spark publishes on its own channels. Everything is kept in
  * memory and written out once, when the run ends.
  *
  * A span holds name, start, end, parent and run id; times are
  * `System.nanoTime` (for durations) and epoch milliseconds (to attribute
  * listener events, which carry epoch-millisecond timestamps).
  */
final class Trace(val runId: String, val enabled: Boolean) extends Sink {
  private var nextId = 0
  private var stack: List[Int] = Nil

  /** Time `f` as a span named `name` under the innermost open span. In an
    * untraced run the span is still timed (the harness needs durations)
    * but not recorded.
    */
  def span[A](name: String, attrs: (String, String)*)(f: => A): (A, Double) = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val rules = if (enabled) Trace.graftRuleTotals() else null
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try f finally stack = stack.tail
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    if (enabled) {
      val r = new Rec("span").num("id", id.toLong).num("parent", parent.toLong)
        .str("name", name).str("run", runId)
        .num("start_ns", t0).num("end_ns", t1)
        .num("start_ms", ms0).num("end_ms", ms1)
      attrs.foreach { case (k, v) => r.str(k, v) }
      val after = Trace.graftRuleTotals()
      r.num("graft_rule_ns", after._1 - rules._1)
        .num("graft_rule_runs", after._2 - rules._2)
        .num("graft_rule_effective", after._3 - rules._3)
      add(r)
    }
    (out, (t1 - t0) / 1e9)
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new Trace.Jobs(this))
    spark.listenerManager.register(new Trace.Queries(this))
    spark.streams.addListener(new Trace.Streams(this))
  }
}

object Trace {
  private val RuleLine = """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r

  /** (total ns, runs, effective runs) summed over `graft.*` rules, read
    * from Catalyst's rule-execution meter (JVM-wide, so callers diff two
    * readings around one operation).
    */
  def graftRuleTotals(): (Long, Long, Long) = {
    var ns, runs, eff = 0L
    RuleExecutor.dumpTimeSpent().linesIterator.foreach {
      case RuleLine(rule, _, total, effRuns, allRuns) if rule.startsWith("graft.") =>
        ns += total.toLong; runs += allRuns.toLong; eff += effRuns.toLong
      case _ =>
    }
    (ns, runs, eff)
  }

  /** Every physical node of an executed plan: through AQE's final plan,
    * its query stages, reused exchanges and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** The id of the `QueryExecution` an execution-end event carries (the
    * field is not public; -1 if absent), which ties the listener's
    * per-query record to the execution's start time.
    */
  private def queryExecutionId(e: SparkListenerSQLExecutionEnd): Long =
    try {
      val f = classOf[SparkListenerSQLExecutionEnd].getDeclaredField("qe")
      f.setAccessible(true)
      Option(f.get(e)).map(_.asInstanceOf[QueryExecution].id).getOrElse(-1L)
    } catch { case _: ReflectiveOperationException => -1L }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Jobs, stages and their aggregated task metrics. */
  final class Jobs(t: Trace) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      t.add(new Rec("job_start").num("job", e.jobId.toLong).num("ms", e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val r = new Rec("stage").num("stage", s.stageId.toLong)
        .num("submit_ms", s.submissionTime.getOrElse(0L))
        .num("done_ms", s.completionTime.getOrElse(0L))
        .num("tasks", s.numTasks.toLong)
      Option(s.taskMetrics).foreach { m =>
        r.num("run_ms", m.executorRunTime).num("cpu_ns", m.executorCpuTime)
          .num("gc_ms", m.jvmGCTime)
          .num("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
          .num("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
          .num("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      t.add(r)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        t.add(new Rec("sql_start").num("exec", s.executionId).num("ms", s.time))
      case s: SparkListenerSQLExecutionEnd =>
        t.add(new Rec("sql_end").num("exec", s.executionId).num("ms", s.time)
          .num("qe", queryExecutionId(s)))
      case _ =>
    }
  }

  /** Planning phases, graft exec nodes, scans and writes per execution. */
  final class Queries(t: Trace) extends QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)

    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phaseMs(p: String): Double =
        phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val all = nodes(qe.executedPlan)
      val scans = all.collect { case s: FileSourceScanExec => s }
      val writes = all.collect { case w: DataWritingCommandExec => w }
      val rawScanRows = scans.filter(_.relation.partitionSchema.fieldNames
        .contains("dia")).map(metric(_, "numOutputRows")).sum
      val kind =
        if (writes.nonEmpty) "write"
        else if (all.exists(_.isInstanceOf[ExecutedCommandExec])) "command"
        else "query"
      t.add(new Rec("query").num("qe", qe.id)
        .str("plan", kind).num("duration_ms", durationNs / 1e6)
        .num("analysis_ms", phaseMs("analysis"))
        .num("optimize_ms", phaseMs("optimization"))
        .num("physical_plan_ms", phaseMs("planning"))
        .num("graft_exec_nodes",
          all.count(_.getClass.getName.startsWith("graft.")).toLong)
        .num("scan_nodes", scans.size.toLong)
        .num("scan_files", scans.map(metric(_, "numFiles")).sum)
        .num("scan_rows", scans.map(metric(_, "numOutputRows")).sum)
        .num("raw_scan_rows", rawScanRows)
        .num("scan_bytes", scans.map(metric(_, "filesSize")).sum)
        .num("scan_ms", scans.map(s => metric(s, "scanTime") +
          metric(s, "metadataTime")).sum)
        .num("files_written", writes.map(w => metric(w, "numFiles")).sum)
        .num("partitions_written", writes.map(w => metric(w, "numParts")).sum)
        .num("bytes_written", writes.map(w => metric(w, "numOutputBytes")).sum))
    }
  }

  /** Per-trigger progress of streaming queries. */
  final class Streams(t: Trace) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val r = new Rec("progress").num("batch", p.batchId)
        .num("ms", java.time.Instant.parse(p.timestamp).toEpochMilli)
        .num("input_rows", p.numInputRows)
      Seq("latestOffset", "addBatch", "walCommit", "commitOffsets")
        .foreach(k => r.num(k, d.getOrElse(k, 0L)))
      t.add(r)
    }
  }
}

package perfbench

import scala.io.Source

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` starts it with a run directory that
  * holds `plan.tsv` (every seeded input choice, made in Python) and gets
  * back `result.jsonl` (timings and the outputs to check) and, when
  * tracing, `trace.jsonl`.
  *
  *   perfbench.Main <mode> <runDir> <cores> <seconds> <trace 0|1>
  *
  * `mode` is a workload name, or `setup` to stop once the session is
  * ready (the set-up probe).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(mode, dir, coresArg, secondsArg, traceArg) = args
    val cores = coresArg.toInt
    val out = new Sink
    val trace = new Trace(dir, enabled = traceArg == "1")
    val spark = session(dir, cores)
    out.add(new Rec("ready").num("ns", System.nanoTime()))
    if (mode != "setup") {
      trace.install(spark)
      val plan = Plan.read(s"$dir/plan.tsv")
      val ctx = Ctx(spark, dir, plan, (secondsArg.toDouble * 1e9).toLong, trace, out)
      mode match {
        case "etl_incremental" => Workloads.incremental(ctx)
        case "query_mix" => Workloads.queryMix(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out.add(new Rec("rss").num("peak_kb", peakRssKb()))
    }
    if (trace.enabled) {
      spark.stop() // drains the listener bus, so the trace is complete
      trace.write(s"$dir/trace.jsonl")
    }
    out.write(s"$dir/result.jsonl")
    // nothing of the session outlives the run directory, which the caller
    // deletes, so an untraced run skips Spark's orderly shutdown
    Runtime.getRuntime.halt(0)
  }

  /** A session configured as `graft.Bench` configures its own, with every
    * on-disk location inside the run directory.
    */
  def session(dir: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sessionState // builds the session state, installing the extensions
    spark
  }

  /** Peak resident set of this JVM (`VmHWM`), in kB. */
  def peakRssKb(): Long =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}

/** Seeded inputs for one run, one `key<TAB>value…` line each. */
final case class Plan(lines: Seq[Array[String]]) {
  def one(key: String): String = all(key).head.head
  def all(key: String): Seq[Array[String]] =
    lines.filter(_.head == key).map(_.tail)
  def list(key: String): Seq[String] = one(key).split(",").toSeq
}

object Plan {
  def read(path: String): Plan = {
    val src = Source.fromFile(path, "UTF-8")
    try Plan(src.getLines().filter(_.nonEmpty).map(_.split("\t")).toVector)
    finally src.close()
  }
}

final case class Ctx(spark: SparkSession, dir: String, plan: Plan,
                     budgetNs: Long, trace: Trace, out: Sink)

package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.{DiskannIndex, DiskannParams}

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. `--seconds` sizes the fixed schedule (the number
  * of operations, at a rate calibrated on a 4-core host); it is never a
  * deadline, so the same arguments always run the same operations. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
  }
}

/** What one workload hands back: metrics in order and operation counts. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Count one checked operation; a false `ok` is a correctness failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.length < 20) failures += what
    }
  }

  def failureSample: Seq[String] = failures.toSeq

  /** Figures printed beside the result but never part of it: sample counts
    * and breakdowns that help read a metric. */
  val diagnostics = mutable.LinkedHashMap.empty[String, Double]
  def note(name: String, value: Double): Unit = diagnostics(name) = value

  def json: String = metrics.keys.map { n =>
    val (v, u) = metrics(n)
    s""""$n":{"value":${Stats.num(v)},"unit":"$u"}"""
  }.mkString("{", ",", "}")
}

/** The end-to-end metrics, the same in every workload, and the timed index
  * build both workloads share. */
object Serving {
  val WarmRows = 1000
  val Shards = 4

  /** CREATE INDEX as the workloads time it: an untimed build of a small
    * index from rows of its own, so that the timed build runs JIT-compiled
    * code instead of competing with the compiler threads for the cores its
    * tasks run on (cold, the 8,000-row build took twice as long); then the
    * timed build of `table` into `path`. Returns its wall time in seconds. */
  def build(ctx: Ctx, layers: Layers, gen: Gen, table: DataFrame, rows: Int,
      labels: Boolean, path: String): Double = {
    import ctx._
    def params(n: Int) = DiskannParams(metric = "cosine", partitioner = "ivf",
      shardTargetRows = (n + Shards - 1) / Shards)
    val labelCol = if (labels) Some("labels") else None
    val warm = Gen.table(spark, s"$work/warm_corpus", gen.rows(gen.stream(7), WarmRows).toIndexedSeq)
    DiskannIndex.build(warm, "id", "vec", labelCol, s"$work/warm_index", params(WarmRows))
    val t0 = System.nanoTime()
    layers.build {
      tracer.span("index.build") {
        DiskannIndex.build(table, "id", "vec", labelCol, path, params(rows))
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    log(f"built $rows rows in $s%.2f s")
    s
  }

  def put(rep: Report, setupS: Double, queryMs: Seq[Double],
      recall: Double, scheduleS: Double): Unit = {
    rep.put("setup_s", setupS, "s")
    rep.put("query_p50_ms", Stats.median(queryMs), "ms")
    rep.put("query_p90_ms", Stats.quantile(queryMs, 0.9), "ms")
    rep.put("recall_at_10", recall, "fraction")
    rep.put("schedule_s", scheduleS, "s")
  }
}

final class Ctx(val args: Args, val spark: SparkSession, val probe: SparkProbe,
    val tracer: Tracer) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  val work: String = args.work
  val sentinel = mutable.ArrayBuffer.empty[Double]

  /** The `graft.Bench` host-speed sentinel: a fixed CPU + scheduler job. It
    * is a diagnostic only; no metric is scaled, discounted or gated by it. */
  def recordSentinel(): Unit = {
    val t0 = System.nanoTime()
    spark.range(1L << 22).selectExpr("sum(id)").collect()
    sentinel += (System.nanoTime() - t0) / 1e9
  }

  /** Seconds from JVM start to now: the set-up time when called right
    * before the first timed operation. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Progress line on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit = Console.err.println(f"[graftbench ${sinceJvmStart()}%7.2f s] $msg")

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
}

object Main {
  val workloads: Map[String, Ctx => Report] = Map(
    "ann_serve" -> AnnServe.run,
    "ingest_fresh" -> IngestFresh.run)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val body = workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; one of ${workloads.keys.mkString(", ")}"))
    val cpus = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the probe's bookkeeping is only read by a traced run, so only a traced
    // run pays for it
    val probe = new SparkProbe(spark.sparkContext)
    if (args.trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    val ctx = new Ctx(args, spark, probe, new Tracer(args.trace))
    val report = body(ctx)
    val diag = s"""{"diagnostics":{"workload":"${args.workload}","seed":${args.seed},""" +
      s""""cpus":${ctx.cpus},"trace":${args.trace},""" +
      s""""sentinel_s":${ctx.sentinel.map(Stats.num).mkString("[", ",", "]")},""" +
      report.diagnostics.map { case (k, v) => s""""$k":${Stats.num(v)},""" }.mkString +
      s""""failures":${report.failureSample.map(s => "\"" + Stats.esc(s) + "\"").mkString("[", ",", "]")}}}"""
    println(diag)
    if (args.trace)
      ctx.tracer.write(new java.io.File(args.work, "trace.jsonl"), diag)
    println(s"""{"metrics":${report.json},"attempted":${report.attempted},"failed":${report.failed}}""")
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (type 7, as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

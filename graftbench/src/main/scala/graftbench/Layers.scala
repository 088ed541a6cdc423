package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.functions.VectorKernels
import graft.functions.Sbq.SbqModel
import graft.index.{DiskannIndex, GraphSearcher, SearchStats}
import graft.sources.TableResolver

/** Per-layer samples of a traced run, taken the same way in every workload
  * so that each workload reports every per-layer metric. Untraced, every
  * wrapper only runs its body and nothing is recorded. */
final class Layers(ctx: Ctx, path: String, k: Int, searchListSize: Int, rescore: Int) {
  import ctx._
  private val on = tracer.enabled
  private val metaMs = ArrayBuffer.empty[Double]
  private val traverseMs = ArrayBuffer.empty[Double]
  private val floorMs = ArrayBuffer.empty[Double]
  private val visited = ArrayBuffer.empty[Double]
  private val quantized = ArrayBuffer.empty[Double]
  private val exact = ArrayBuffer.empty[Double]
  private val queryJobs = ArrayBuffer.empty[Double]
  private val queryGapMs = ArrayBuffer.empty[Double]
  private val deltaRows = ArrayBuffer.empty[Double]
  private val buildWindows = ArrayBuffer.empty[(Long, Long)]
  private var rebuilt = 0L
  private var compactJobs = 0L
  private var written = 0L
  private var schedule: (SparkCounts, Long, Long) = _
  private var scheduleDelta: (SparkCounts, Long, Long) = _

  private def files(): Map[String, Long] = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }
  }

  /** Run a write and count the bytes of new or changed files under the
    * index directory. */
  def write[T](f: => T): T =
    if (!on) f
    else {
      val before = files()
      val out = f
      written += files().collect { case (p, n) if !before.get(p).contains(n) => n }.sum
      out
    }

  /** The initial index build: a write whose build phases are recorded. */
  def build[T](f: => T): T =
    if (!on) f
    else {
      val w0 = System.currentTimeMillis()
      val out = write(f)
      buildWindows += ((w0, System.currentTimeMillis()))
      out
    }

  /** A compaction: a build, plus the jobs it ran and the shards whose build
    * id it changed. */
  def compact(f: => Unit): Unit =
    if (!on) f
    else {
      val ids0 = DiskannIndex.loadMeta(spark, path).shardBuildIds
      val c0 = probe.counts()
      build(f)
      compactJobs += (probe.counts() - c0).jobs
      val ids1 = DiskannIndex.loadMeta(spark, path).shardBuildIds
      rebuilt += ids1.indices.count(s => s >= ids0.length || ids0(s) != ids1(s))
    }

  /** One timed point query with `pending` delta rows: its Spark jobs and
    * driver gap, then its pieces repeated directly (metadata reads and a
    * warm traversal of every cached shard). What the query spent outside
    * both is the driver floor. */
  def query[T](v: Array[Float], labels: Array[Short], pending: Int)(f: => T): T =
    if (!on) f
    else {
      val c0 = probe.counts()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = f
      val ms = Stats.ms(t0)
      val w1 = System.currentTimeMillis()
      queryJobs += (probe.counts() - c0).jobs.toDouble
      queryGapMs += probe.driverGapMs(w0, w1).toDouble
      deltaRows += pending.toDouble

      val m0 = System.nanoTime()
      val (meta, tombs) = tracer.span("index.meta") {
        DiskannIndex.resolveRoot(spark, path)
        val tombs = DiskannIndex.loadTombstones(spark, path)
        (DiskannIndex.loadMeta(spark, path), tombs)
      }
      val mMs = Stats.ms(m0)
      val st = new SearchStats
      val s0 = System.nanoTime()
      tracer.span("index.traverse") {
        (0 until meta.numShards).foreach { shard =>
          GraphSearcher.peek(s"$path#$shard#${meta.shardBuildIds(shard)}").foreach {
            _.search(v, k, searchListSize, rescore, labels, tombs.contains,
              VectorKernels.cosineDist, st)
          }
        }
      }
      val tMs = Stats.ms(s0)
      metaMs += mMs; traverseMs += tMs; floorMs += ms - mMs - tMs
      visited += st.nodesVisited.toDouble
      quantized += st.quantizedCmps.toDouble
      exact += st.exactCmps.toDouble
      out
    }

  def scheduleStart(): Unit =
    if (on) schedule = (probe.counts(), System.currentTimeMillis(), gcMs())

  def scheduleEnd(): Unit =
    if (on) {
      val (c0, w0, g0) = schedule
      val w1 = System.currentTimeMillis()
      scheduleDelta = (probe.counts() - c0, probe.driverGapMs(w0, w1), gcMs() - g0)
    }

  /** Put every per-layer metric. `buildS` is the timed build's wall time,
    * `ops` counts the timed operations, `userBytes` the bytes of user
    * vectors given to the index (corpus and appends), `liveRows` the rows
    * live at the end. */
  def put(rep: Report, buildS: Double, ops: Long, corpusDir: String,
      vecs: Array[Array[Float]], userBytes: Long, liveRows: Int): Unit = if (on) {
    def mean(xs: Seq[Double]) = xs.sum / xs.length
    val (d, gapMs, gc) = scheduleDelta
    rep.put("index.build_s", buildS, "s")
    BuildPhases.put(rep, probe, buildWindows.toSeq)
    rep.put("index.meta_ms", Stats.median(metaMs.toSeq), "ms")
    rep.put("index.traverse_ms", Stats.median(traverseMs.toSeq), "ms")
    rep.put("index.nodes_visited", mean(visited.toSeq), "count")
    rep.put("index.quantized_cmps", mean(quantized.toSeq), "count")
    rep.put("index.exact_cmps", mean(exact.toSeq), "count")
    val meta = DiskannIndex.loadMeta(spark, path)
    Kernels.put(rep, vecs, SbqModel(meta.modelCount, meta.modelMean, meta.modelM2,
      meta.bitsPerDim))
    rep.put("driver.query_floor_ms", Stats.median(floorMs.toSeq), "ms")
    rep.put("spark.jobs_per_query", mean(queryJobs.toSeq), "count")
    rep.put("spark.driver_gap_ms_per_query", mean(queryGapMs.toSeq), "ms")
    rep.put("spark.jobs_per_op", d.jobs.toDouble / ops, "count")
    rep.put("spark.tasks_per_op", d.tasks.toDouble / ops, "count")
    rep.put("spark.executor_run_ms_per_op", d.runMs.toDouble / ops, "ms")
    rep.put("spark.executor_cpu_ms_per_op", d.cpuNs / 1e6 / ops, "ms")
    rep.put("spark.driver_gap_ms_per_op", gapMs.toDouble / ops, "ms")
    // Catalyst phases of every query execution of the run, set-up included:
    // the point path plans none, so the timed schedule alone can read 0
    val all = probe.counts()
    rep.put("catalyst.analysis_ms", all.analysisMs.toDouble, "ms")
    rep.put("catalyst.optimization_ms", all.optimizationMs.toDouble, "ms")
    rep.put("catalyst.planning_ms", all.planningMs.toDouble, "ms")
    rep.put("sources.resolve_ms", Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      TableResolver.parquet(spark, corpusDir)
      Stats.ms(t0)
    }), "ms")
    rep.put("streaming.fresh_delta_rows", mean(deltaRows.toSeq), "count")
    rep.put("compact.shards_rebuilt", rebuilt.toDouble, "count")
    rep.put("compact.jobs", compactJobs.toDouble, "count")
    rep.put("storage.write_amp", written.toDouble / userBytes, "ratio")
    rep.put("storage.bytes_per_vector", files().values.sum.toDouble / liveRows, "bytes")
    rep.put("jvm.gc_ms_per_op", gc.toDouble / ops, "ms")
  }
}

/** Wall time of each DiskANN build phase, from the job groups the library
  * names with `DiskannIndex.PhasePrefix`: the mean over the given windows
  * (the initial build and each compaction). */
object BuildPhases {
  def put(rep: Report, probe: SparkProbe, windows: Seq[(Long, Long)]): Unit = {
    import DiskannIndex._
    def per(phase: String): Double = windows.map { case (t0, t1) =>
      probe.busyMs(t0, t1, PhasePrefix + phase) }.sum.toDouble / windows.length
    rep.put("index.build_train_ms", per(PhaseTraining), "ms")
    rep.put("index.build_graph_ms", per(PhaseBuilding), "ms")
    rep.put("index.build_finalize_ms", per(PhaseFinalizing), "ms")
  }
}

/** Per-call cost of the distance, Hamming and quantization kernels over
  * corpus vectors: the median of five timed sweeps, in nanoseconds. */
object Kernels {
  def put(rep: Report, vecs: Array[Array[Float]], model: SbqModel): Unit = {
    val n = math.min(2048, vecs.length)
    val codes = Array.tabulate(n)(i => model.quantize(VectorKernels.normalize(vecs(i))))
    def perCall(calls: Int)(f: Int => Double): Double =
      Stats.median((0 until 5).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < calls) { sink += f(i); i += 1 }
        (System.nanoTime() - t0).toDouble / calls
      })
    val pairs = n * 16
    rep.put("functions.cosine_ns", perCall(pairs)(i =>
      VectorKernels.cosineDist(vecs(i % n), vecs((i * 7 + 1) % n))), "ns")
    rep.put("functions.hamming_ns", perCall(pairs)(i =>
      VectorKernels.hamming(codes(i % n), codes((i * 7 + 1) % n)).toDouble), "ns")
    rep.put("functions.quantize_ns", perCall(n)(i =>
      model.quantize(vecs(i)).length.toDouble), "ns")
  }

  /** Kernel results land here so the JIT cannot drop the timed calls. */
  private var sink = 0.0
}

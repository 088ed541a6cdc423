package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import graft.functions.{Sbq, VectorKernels}
import graft.functions.Sbq.SbqModel

/** Build/search parameters (defaults = reference defaults, BASELINE.md). */
case class DiskannParams(
    metric: String = "cosine",
    numNeighbors: Int = 50, // R
    searchListSize: Int = 100, // L (build)
    maxAlpha: Double = 1.2,
    bitsPerDim: Option[Int] = None,
    storage: String = "sbq", // "sbq" | "plain"
    /** Matryoshka truncation (SURVEY.md §4.1): build the graph + codes on a
      * prefix slice of the vector; rescoring always uses full vectors. */
    numDimsToIndex: Option[Int] = None,
    /** target rows per shard; shard graphs must fit executor heap. At 100 TB
      * this yields thousands of independent shards built in parallel. */
    shardTargetRows: Long = 1L << 20,
    /** "hash": shards are random; every query searches every shard (recall ==
      * single-graph recall, cost O(numShards) per query). "ivf": shard =
      * nearest of numShards k-means centroids; queries may then probe only
      * the `nProbe` nearest shards — the scale path that keeps per-query cost
      * O(nProbe) when numShards is in the thousands. */
    partitioner: String = "hash",
    /** When set (with partitioner="ivf"), centroids are md5-rank-picked rows
      * ([[graft.operators.Similarity.trainIvfDeterministic]]) instead of
      * k-means: weaker coarse quantization, but the shard assignment and
      * probe choice become exactly recomputable by an external SQL engine,
      * so even PRUNED (approximate) routed results can be hash-verified. */
    ivfSeed: Option[String] = None)

/**
 * Sharded StreamingDiskANN-style index as Spark jobs (SURVEY.md §3.1 build
 * plan, §2.5 G8 replacement).
 *
 * Build dataflow: job 1 trains the SBQ quantizer (one-pass distributed
 * Welford); job 2 hash-shards rows by id and builds an independent Vamana
 * sub-graph per shard inside `mapPartitions` (no shared state — the
 * DSM/condvar coordination of the reference's parallel build is replaced by
 * Spark partitioning); the nodes table is written as Parquet partitioned by
 * shard, plus a 1-row `_meta` Parquet sidecar (replaces the versioned meta
 * page, meta_page.rs:179-210).
 *
 * Serving: each shard is searched independently (quantized traversal + exact
 * rescore) and per-shard top-k results are merged with a final window — the
 * classic partial/final top-k, which is Spark's native TakeOrdered shape.
 * Searching all shards and unioning is an over-approximation of single-graph
 * search, so recall is ≥ the per-shard recall.
 */
object DiskannIndex {
  import WriteOnceFiles.DeltaRow

  private val nodeSchema = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("node", IntegerType, nullable = false),
    StructField("row_id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("code", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("labels", ArrayType(ShortType, containsNull = false), nullable = true),
    StructField("neighbors", ArrayType(IntegerType, containsNull = false), nullable = false)))

  /** Build-time option validation — parity with the reference's hard errors
    * (build.rs:264-292, meta_page.rs:325-337): an invalid configuration must
    * fail the build up front, never silently produce a different-quality
    * index. */
  private[graft] def validateBuildOptions(params: DiskannParams, metric: Metric,
      hasLabels: Boolean, dimsToIndex: Int): Unit = {
    require(params.storage == "sbq" || params.storage == "plain",
      s"unknown storage type '${params.storage}' (expected sbq | plain)")
    if (metric == Metric.InnerProduct && params.storage == "plain")
      throw new IllegalArgumentException( // build.rs:264-266
        "Inner product distance type is not supported with plain storage")
    if (hasLabels && params.storage == "plain")
      throw new IllegalArgumentException( // build.rs:285-287
        "Labeled filtering is not supported with plain storage")
    if (dimsToIndex <= 0) // build.rs:272-274 (covers the empty-input build)
      throw new IllegalArgumentException("No dimensions to index")
    if (dimsToIndex > graft.sources.EmbeddingSources.MaxDims)
      throw new IllegalArgumentException( // build.rs:276-278
        s"Too many dimensions to index (max is ${graft.sources.EmbeddingSources.MaxDims})")
    if (params.storage == "plain" &&
        dimsToIndex > graft.sources.EmbeddingSources.MaxDimsPlain)
      throw new IllegalArgumentException( // build.rs:280-284
        "Too many dimensions to index with plain storage (max is " +
          s"${graft.sources.EmbeddingSources.MaxDimsPlain}); use storage=sbq instead")
    params.bitsPerDim.foreach { b =>
      require(b == 1 || b == 2, s"bitsPerDim must be 1 or 2, got $b")
      if (b > 1 && dimsToIndex > 930)
        throw new IllegalArgumentException( // meta_page.rs:325-328
          "SBQ with more than 1 bit per dimension is not supported for more than 930 dimensions")
      if (b > 1 && params.storage != "sbq")
        throw new IllegalArgumentException( // meta_page.rs:329-334
          "SBQ with more than 1 bit per dimension requires sbq storage")
    }
  }

  /** Build phases, mirroring `ambuildphasename` (build.rs:1154-1167). Each
    * Spark job launched by [[build]] runs inside a job group named
    * `"<PhasePrefix><phase> [<path>]"`, so progress is observable from any
    * SparkListener / the Spark UI — the AM progress-reporting analog (G10). */
  val PhasePrefix = "graft diskann build: "
  val PhaseTraining = "training quantizer"
  val PhaseBuilding = "building graph"
  val PhaseFinalizing = "finalizing graph"

  private def inPhase[T](spark: SparkSession, phase: String, path: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$PhasePrefix$phase", s"$PhasePrefix$phase [$path]",
      interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  def build(df: DataFrame, idCol: String, vecCol: String, labelsCol: Option[String],
      path: String, params: DiskannParams = DiskannParams()): Unit =
    // the whole build holds the path's writer lease: an in-place rebuild
    // racing a concurrent append/compact on the same artifact would
    // otherwise interleave the scrub below with their generation installs
    // (build from compact targets a fresh tmp dir — its lease is trivially
    // uncontended, no deadlock with the compact's own lock)
    try WriterLock.withLease(spark = df.sparkSession, path = path) {
      buildLeased(df, idCol, vecCol, labelsCol, path, params)
    } catch {
      case e: Throwable =>
        // a rejected/failed FIRST build must not leave an empty artifact
        // dir behind (the lease file's parent-mkdir creates it) — "nothing
        // was written" stays literally true for validation rejections
        try {
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(
            df.sparkSession.sessionState.newHadoopConf())
          if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false)
        } catch { case _: Throwable => () }
        throw e
    }

  private def buildLeased(df: DataFrame, idCol: String, vecCol: String,
      labelsCol: Option[String], path: String, params: DiskannParams): Unit = {
    val spark = df.sparkSession
    val metric = Metric(params.metric)

    // NULL vectors are never indexed (build.rs:493-498)
    val base0 = df.select(
      col(idCol).cast(LongType).as("row_id"),
      col(vecCol).as("vec"),
      labelsCol.map(c => col(c).cast(ArrayType(ShortType)))
        .getOrElse(lit(null).cast(ArrayType(ShortType))).as("labels"))
      .filter(col("vec").isNotNull)

    // validate options against the indexed width: the declared Matryoshka
    // slice, or (one cheap limit-1 job) the width of the first stored vector
    val checkedDims = params.numDimsToIndex.getOrElse(
      inPhase(spark, PhaseTraining, path) {
        base0.select(size(col("vec")).as("d")).head(1).headOption
          .map(_.getInt(0)).getOrElse(0)
      })
    validateBuildOptions(params, metric, labelsCol.isDefined, checkedDims)

    // a rebuild REPLACES the artifact (the TextIndex/Dedup builder rule):
    // stale `versions/` generations WIN root resolution over the flat
    // nodes/_meta this build writes, so leaving them would serve the OLD
    // index after a "successful" rebuild; stale tombstones/delta from the
    // previous life must not leak into the new one either. Compaction is
    // unaffected — it builds into a fresh tmp dir that has none of these.
    //
    // The scrub ORDER is the crash contract: an in-place rebuild is
    // deliberately NOT atomic (CREATE INDEX semantics — a failed CREATE
    // leaves no index; atomic replacement is what REINDEX/compact's
    // tmp+install path is for), so a mid-rebuild crash must fail LOUD, not
    // serve stale state. Deleting versions/ and then the flat `_meta`
    // FIRST makes every reader's loadMeta throw until the new `_meta`
    // lands at the very end of the build — the failure mode is "no index
    // here", never "old index serving without its tombstones" (silent
    // resurrection of deleted rows). The scrub itself runs only when any
    // of the stale state exists, so plain first builds skip the extra IO.
    {
      val p0 = new org.apache.hadoop.fs.Path(path)
      val fs0 = p0.getFileSystem(spark.sessionState.newHadoopConf())
      val stale = Seq("versions", "tombstones", "delta", "_meta", "labelstats")
        .map(d => new org.apache.hadoop.fs.Path(s"$path/$d"))
        .filter(fs0.exists)
      stale.foreach(d => fs0.delete(d, true))
      // version numbering restarts; cached per-root state (tier manifests,
      // label counts) keyed on recreated root strings must not survive
      TierManifest.invalidateUnder(path)
      labelCountsCache.synchronized {
        val it = labelCountsCache.keySet().iterator()
        while (it.hasNext) if (it.next().startsWith(path)) it.remove()
      }
    }

    // cosine: the graph/quantizer operate on normalized vectors
    // (preprocess_cosine, pg_vector.rs:153-155) but the nodes table stores
    // the RAW vectors — rescoring and SQL-visible distances are computed on
    // the original data, exactly like the reference's heap fetch (S5).
    graft.functions.VectorFunctions.register(spark)
    val dimsToIndex = params.numDimsToIndex.getOrElse(0) // 0 = full width
    val slicedBase = if (dimsToIndex > 0)
      base0.withColumn("vec", slice(col("vec"), 1, dimsToIndex))
    else base0
    val trainBase = if (metric == Metric.Cosine)
      slicedBase.withColumn("vec", graft.functions.VectorFunctions.vec_normalize(col("vec")))
    else slicedBase
    val base = base0

    val useSbq = params.storage == "sbq"
    val model: SbqModel = if (useSbq)
      inPhase(spark, PhaseTraining, path) { Sbq.train(trainBase, "vec", params.bitsPerDim) }
    else null
    val modelBc = spark.sparkContext.broadcast(model)

    val n = model match {
      case null => inPhase(spark, PhaseTraining, path) { base.count() }
      case m => m.count
    }
    val numShards = math.max(1, math.ceil(n.toDouble / params.shardTargetRows).toInt)
    val hasLabels = labelsCol.isDefined
    val r = params.numNeighbors
    val l = params.searchListSize
    val alpha = params.maxAlpha

    def toBuildSpace(v: Array[Float]): Array[Float] =
      BuildSpace(v, dimsToIndex, metric)

    val ivfModel: graft.operators.Similarity.IvfModel =
      if (params.partitioner == "ivf") inPhase(spark, PhaseTraining, path) {
        params.ivfSeed match {
          case Some(seed) => graft.operators.Similarity.trainIvfDeterministic(
            trainBase, "row_id", "vec", numShards, seed)
          case None => graft.operators.Similarity.trainIvf(trainBase, "vec",
            numShards, sampleSize = math.min(numShards * 256, 1 << 16),
            rows = Some(n))
        }
      }
      else null
    val sharded = if (ivfModel != null) {
      val mBc = spark.sparkContext.broadcast(ivfModel)
      val assign = udf((v: mutable.Seq[Float]) =>
        mBc.value.nearest(toBuildSpace(v.toArray), 1)(0))
      base.withColumn("shard", assign(col("vec"))).repartition(numShards, col("shard"))
    } else base
      .withColumn("shard", pmod(xxhash64(col("row_id")), lit(numShards)).cast(IntegerType))
      .repartition(numShards, col("shard"))

    val nodes = buildShardNodes(sharded, metric, modelBc, hasLabels,
      dimsToIndex, r, l, alpha)

    inPhase(spark, PhaseBuilding, path) {
      nodes.write.mode("overwrite").partitionBy("shard").parquet(s"$path/nodes")
    }

    // per-label node counts (the reference's contsel selectivity input,
    // mod.rs:243-256): one tiny (label, cnt) parquet per generation. Readers
    // treat it as OPTIONAL (older generations lack it), so this is an
    // additive layout change — the residual over-fetch loop uses it to
    // bound a labeled query's reachable population. Counted from the nodes
    // table JUST WRITTEN (a labels-column-pruned scan of local parquet),
    // never by re-evaluating `base` — the caller's lineage can be an
    // arbitrary corpus-sized pipeline (compact passes a join+union over
    // everything), and re-running it for a count would double build IO.
    // explicit schema on every read of the just-written nodes dir: a full
    // rebuild to ZERO rows (vacuum-everything REINDEX) writes no part
    // files, and schema inference would abort the build here — leaving the
    // index permanently un-vacuumable
    if (hasLabels)
      spark.read.schema(nodeSchema).parquet(s"$path/nodes")
        .select(explode(col("labels")).as("label"))
        .groupBy(col("label")).agg(count(lit(1)).as("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/labelstats")

    // per-shard cluster radii (IVF only): max build-space Euclidean distance
    // from a member to its centroid, from ONE column-pruned pass over the
    // nodes table just written — the sound input to radius shard pruning
    // ([[radiusShardsFor]]). Hash shards are random, their "radius" covers
    // the space, so nothing is stored (empty = pruning off).
    val shardRadii: Array[Double] =
      if (ivfModel == null) Array.emptyDoubleArray
      else {
        val cBc = spark.sparkContext.broadcast(ivfModel.centroids)
        val radiiMap = spark.read.schema(nodeSchema).parquet(s"$path/nodes")
          .select(col("shard"), col("vec")).rdd.map { row =>
            val s = row.getInt(0)
            val bv = toBuildSpace(row.getAs[mutable.Seq[Float]](1).toArray)
            (s, math.sqrt(VectorKernels.l2sq(bv, cBc.value(s))))
          }.reduceByKey(math.max).collectAsMap()
        Array.tabulate(numShards)(s => radiiMap.getOrElse(s, 0.0))
      }

    // per-shard exact row counts (round 11): one tiny column-pruned
    // aggregate over the nodes table just written — makes shard emptiness
    // decidable from the meta alone (see IndexMeta.shardRows)
    val shardRowCounts: Array[Long] = {
      val m = spark.read.schema(nodeSchema).parquet(s"$path/nodes")
        .groupBy(col("shard")).agg(count(lit(1)).as("c")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      Array.tabulate(numShards)(s => m.getOrElse(s, 0L))
    }

    // meta sidecar as a 1-row parquet (no JSON dependency, schema-checked).
    // buildId is a fresh epoch per (re)build and shardBuildIds one epoch PER
    // SHARD: executor caches key on (index path, shard, shard epoch), so a
    // rebuild naturally misses every executor's cache for the rebuilt
    // shards — and incremental compaction, which copies untouched shards
    // verbatim, KEEPS their epochs, so their warm decoded graphs survive
    // the generation change (no driver-to-executor invalidation broadcast;
    // the analog of the reference bumping the meta page version).
    import spark.implicits._
    val genId = java.util.UUID.randomUUID().toString
    val meta = IndexMeta(params.metric, params.storage, r, l, alpha, numShards,
      n, hasLabels,
      if (model != null) model.bitsPerDim else 0,
      if (model != null) model.count else 0L,
      if (model != null) model.mean else Array.emptyDoubleArray,
      if (model != null) model.m2 else Array.emptyDoubleArray, dimsToIndex,
      params.partitioner,
      if (ivfModel != null) ivfModel.centroids else Array.empty[Array[Float]],
      params.shardTargetRows, genId,
      Array.fill(numShards)(genId), Array.fill(numShards)(""), shardRadii,
      shardRowCounts, n)
    inPhase(spark, PhaseFinalizing, path) {
      Seq(meta).toDF().coalesce(1).write.mode("overwrite").parquet(s"$path/_meta")
    }
    seedMeta(spark, path, meta)
    GraphSearcher.invalidate(path)
    // a full rebuild at the same path changes numRows arbitrarily — the
    // planner's cost-gate cache must re-read it (compact/drop already do)
    graft.plans.KnnCost.invalidate(path)
  }

  /** Per-shard Vamana graph build over a (row_id, vec, labels, shard)
    * DataFrame already repartitioned by shard — the compute kernel of
    * [[build]]. A task may receive >1 shard (hash collisions across shard
    * keys); shards group locally and build independently ([[buildShard]]). */
  private def buildShardNodes(sharded: DataFrame, metric: Metric,
      modelBc: org.apache.spark.broadcast.Broadcast[SbqModel],
      hasLabels: Boolean, dimsToIndex: Int,
      r: Int, l: Int, alpha: Double): DataFrame =
    sharded.mapPartitions { it =>
      val byShard = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Array[Float], Array[Short])]]
      it.foreach { row =>
        val shard = row.getAs[Int]("shard")
        val vec = row.getAs[mutable.Seq[Float]]("vec").toArray
        val lbs = row.getAs[mutable.Seq[Short]]("labels") match {
          case null => null
          case s => LabelSets.normalize(s.toArray)
        }
        byShard.getOrElseUpdate(shard, new mutable.ArrayBuffer) +=
          ((row.getAs[Long]("row_id"), vec, lbs))
      }
      val m = modelBc.value
      byShard.iterator.flatMap { case (shard, rows) =>
        buildShard(shard, rows, metric, m, hasLabels, dimsToIndex, r, l, alpha)
      }
    }(org.apache.spark.sql.Encoders.row(nodeSchema))

  /** One shard's graph built from scratch over its (row_id, vec, labels)
    * rows, as node rows — shared by [[build]] and the compaction's rebuilt
    * and split shards ([[rebuildShardsInto]]). */
  private def buildShard(shard: Int,
      rowsBuf: mutable.ArrayBuffer[(Long, Array[Float], Array[Short])],
      metric: Metric, m: SbqModel, hasLabels: Boolean, dimsToIndex: Int,
      r: Int, l: Int, alpha: Double): Iterator[Row] = {
    // deterministic insert order: ascending row_id (start-node election
    // and tie-breaks reproducible across runs — SURVEY.md §7.3)
    val rows = rowsBuf.sortInPlaceBy(_._1)
    val vecs = rows.map(_._2).toArray
    val sliced = if (dimsToIndex > 0) vecs.map(_.take(dimsToIndex)) else vecs
    val buildVecs =
      if (metric == Metric.Cosine) sliced.map(graft.functions.VectorKernels.normalize)
      else sliced
    val lbs = if (hasLabels) rows.map(t => Option(t._3).getOrElse(Array.emptyShortArray)).toArray else null
    // SBQ build runs in Hamming space over the codes (D8/D9 parity): the
    // graph must be navigable under the metric the serving traversal
    // actually uses, not the full-precision one.
    val shardCodes = if (m != null) buildVecs.map(m.quantize) else null
    val builder = new VamanaBuilder(buildVecs, lbs, metric, r, l, alpha,
      shardCodes).build()
    rows.indices.iterator.map { i =>
      Row(shard, i, rows(i)._1, vecs(i),
        if (shardCodes != null) shardCodes(i) else null,
        if (lbs != null) lbs(i) else null,
        builder.neighborsOf(i))
    }
  }

  case class IndexMeta(metric: String, storage: String, numNeighbors: Int,
      searchListSize: Int, maxAlpha: Double, numShards: Int, numRows: Long,
      hasLabels: Boolean, bitsPerDim: Int, modelCount: Long,
      modelMean: Array[Double], modelM2: Array[Double], dimsToIndex: Int,
      partitioner: String, centroids: Array[Array[Float]],
      shardTargetRows: Long, buildId: String,
      /** per-shard cache epoch: fresh UUID when a shard's graph is
        * (re)built, PRESERVED when incremental compaction carries the shard
        * forward unchanged — executor caches stay warm across generations
        * for untouched shards */
      shardBuildIds: Array[String],
      /** per-shard data MANIFEST (the Iceberg-style metadata-only commit):
        * where shard s's parquet files physically live. "" = this
        * generation's own `nodes/shard=s`; "." = the flat (pre-versioning)
        * index root; "versions/v%09d" = the generation that last REBUILT the
        * shard, relative to the index path. Incremental compaction installs
        * a new generation by writing only the rebuilt shards and pointing
        * the rest here — no copy of the untouched 100 TB ever happens. */
      shardDirs: Array[String],
      /** per-shard cluster radius (IVF only; empty = unknown): max EUCLIDEAN
        * distance in BUILD SPACE from a member to its centroid. Upper bound
        * maintained across compactions (delta grows it, tombstones only
        * tighten the true value), which makes [[radiusShardsFor]]'s triangle
        * inequality SOUND: a shard with d(q, c_s) - radius_s > r cannot hold
        * any row within r of q. */
      shardRadii: Array[Double] = Array.emptyDoubleArray,
      /** per-shard EXACT row count (round 11; empty = unknown, pre-round-11
        * generations). Makes shard emptiness decidable from the meta alone
        * — a tombstone wipe can rebuild a shard to zero rows, whose missing
        * partition dir is otherwise indistinguishable from a GC'd one
        * (deciding "empty" from the filesystem under a racing GC can
        * silently truncate results). Maintained exactly across incremental
        * compactions from the fold arithmetic; unknown (legacy) metas are
        * backfilled at their first incremental compact. */
      shardRows: Array[Long] = Array.emptyLongArray,
      /** row count at the last FULL build (round 12; 0 = unknown, pre-
        * round-12 generations). A full build trains the SBQ quantizer and
        * elects the IVF centroids from exactly these rows; incremental
        * folds grow numRows but carry this (and the frozen models)
        * unchanged — so `(numRows - fullBuildRows) / fullBuildRows` is the
        * model-staleness fraction [[graft.streaming.StreamingIngest
        * .maybeCompact]] uses to escalate a fold into an automatic REINDEX.
        * The reference never retrains (aminsert freezes the quantizer
        * forever, build.rs:464-535); at 100 TB streaming that is a
        * measured recall leak (StreamingSpec endurance gate), hence the
        * trigger. */
      fullBuildRows: Long = 0L) {
    /** The params this index was built with (minus the SBQ auto-default
      * already resolved into bitsPerDim) — compaction/rebuild starts here so
      * storage type, quantization width and graph shape survive. */
    def toParams: DiskannParams = DiskannParams(
      metric = metric,
      numNeighbors = numNeighbors,
      searchListSize = searchListSize,
      maxAlpha = maxAlpha,
      bitsPerDim = if (storage == "sbq" && bitsPerDim > 0) Some(bitsPerDim) else None,
      storage = storage,
      numDimsToIndex = if (dimsToIndex > 0) Some(dimsToIndex) else None,
      shardTargetRows = shardTargetRows,
      partitioner = partitioner)

    /** The frozen SBQ quantizer; null for plain storage. */
    def sbqModel: SbqModel =
      if (storage == "sbq") SbqModel(modelCount, modelMean, modelM2, bitsPerDim)
      else null
  }

  /**
   * Resolve the ACTIVE root of an index. Fresh builds use the flat layout
   * (`path/nodes` + `path/_meta`); compaction installs rebuilt generations as
   * `path/versions/v%09d` and the highest version wins. A version directory
   * only ever appears via one atomic `FileSystem.rename` of a fully-written
   * build (the object-store-safe replacement for the old local-only
   * backup-and-rename swap), so this listing can never observe a torn index,
   * and readers that resolved the previous version keep a complete directory
   * — compaction preserves one prior generation as a grace window.
   */
  def resolveRoot(spark: SparkSession, path: String): String = {
    val vdir = new org.apache.hadoop.fs.Path(path, "versions")
    val fs = fileSystem(spark, vdir)
    try {
      val vs = fs.listStatus(vdir).map(_.getPath.getName).filter(_.matches("v\\d{9}"))
      if (vs.isEmpty) path else s"$path/versions/${vs.max}"
    } catch { case _: java.io.FileNotFoundException => path }
  }

  /**
   * Installed generations of a versioned index, oldest first (empty for a
   * never-compacted flat index). Each entry is a full index root — pass
   * `s"$path/versions/$v"` to [[search]]/[[loadMeta]] to TIME-TRAVEL to
   * that generation: compaction keeps the superseded generation on disk as
   * the in-flight-reader grace window, so the previous snapshot stays
   * queryable until the next compaction prunes it.
   */
  def listVersions(spark: SparkSession, path: String): Seq[String] = {
    val vdir = new org.apache.hadoop.fs.Path(path, "versions")
    val fs = fileSystem(spark, vdir)
    try fs.listStatus(vdir).map(_.getPath.getName)
      .filter(_.matches("v\\d{9}")).sorted.toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  // the session's Hadoop conf of the latest application; see fileSystem
  @volatile private var hadoopConf: (String, org.apache.hadoop.conf.Configuration) = null

  /** `p`'s FileSystem for the metadata listings of the serving path. The
    * session's Hadoop conf is a fresh copy of the context's, about 0.2 ms a
    * call, more than the listing it serves; so it is built once per
    * application, and `getFileSystem` still goes through Hadoop's cache,
    * keyed by scheme, authority and user. A Hadoop key set in the session
    * conf after the first listing does not reach these listings. */
  private[graft] def fileSystem(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem = {
    val app = spark.sparkContext.applicationId
    var c = hadoopConf
    if (c == null || c._1 != app) {
      c = (app, spark.sessionState.newHadoopConf())
      hadoopConf = c
    }
    p.getFileSystem(c._2)
  }

  private val GenDirRe = "^(.*)/versions/v\\d{9}$".r

  /** The index path that owns generation root `genRoot` (identity for a
    * flat, never-compacted index). Manifest entries are relative to THIS, so
    * resolution works the same whether the caller passed the index path or
    * time-traveled directly to a `versions/v%09d` dir. */
  private[graft] def indexRootOf(genRoot: String): String = genRoot match {
    case GenDirRe(p) => p
    case _ => genRoot
  }

  /** `genRoot` as a manifest entry: "." for the flat index root, else the
    * "versions/v%09d" suffix. */
  private[graft] def relGenOf(genRoot: String): String = genRoot match {
    case GenDirRe(_) => genRoot.substring(indexRootOf(genRoot).length + 1)
    case _ => "."
  }

  /** Physical generation root holding shard `s`'s data per `meta`'s
    * manifest, for an index whose ACTIVE root is `root`. */
  private[graft] def shardGenRoot(root: String, meta: IndexMeta, s: Int): String =
    meta.shardDirs(s) match {
      case "" => root
      case "." => indexRootOf(root)
      case rel => s"${indexRootOf(root)}/$rel"
    }

  /**
   * Session-local memo of the resolved per-generation nodes scan, keyed on
   * the nodes directory's mtime (the [[ParquetMetaCache]] discipline): a
   * generation's `nodes/` is WRITE-ONCE (appends land under `delta/`,
   * deletes under `tombstones/`, compaction installs a NEW root), yet every
   * `spark.read.parquet` builds a fresh file index — at production shard
   * counts that is a full parallel leaf-file LISTING of every shard
   * directory on EVERY serving query (measured: a 485 ms 317-path listing
   * job per execution on the 500-shard fixture — the single largest cost
   * of the warm many-shards serve). Reusing the resolved DataFrame reuses
   * its InMemoryFileIndex, so warm serves skip the listing entirely; an
   * in-place rebuild recreates the directory and bumps its mtime, which
   * invalidates naturally. Metadata memoization only — no rows are cached.
   */
  // round-16 hardening (ADVICE): (a) the validity token is the generation's
  // BUILD ID, not the nodes dir's mtime — a UUID minted per (re)build, so a
  // same-second in-place rebuild invalidates exactly, and object stores
  // whose directory mtimes are 0 / don't track children (S3A) can never
  // alias two generations; (b) the session key is applicationId (unique per
  // context — identityHashCode can be reused after a GC'd session and would
  // serve a DataFrame bound to a dead context); (c) bounded access-order
  // LRU — compaction installs a new root per swap, so an unbounded map
  // retains one resolved file index per DEAD generation for the JVM's life.
  private val nodesDfCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (String, DataFrame)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, DataFrame)]): Boolean =
        size() > 64
    })
  private def nodesBaseDf(spark: SparkSession, base: String,
      genFp: String): DataFrame = {
    val dirStr = s"$base/nodes"
    // a DataFrame is bound to its context: key per applicationId so a fresh
    // session (tests stop/start many) never serves a stale plan
    val key = s"${spark.sparkContext.applicationId}#$dirStr"
    val hit = nodesDfCache.get(key)
    if (hit != null && hit._1 == genFp) hit._2
    else {
      val df = spark.read.schema(nodeSchema).parquet(dirStr)
      nodesDfCache.put(key, (genFp, df))
      df
    }
  }

  /**
   * Manifest-aware nodes scan: the rows of exactly `shards`, with the
   * `shard` partition column, wherever each shard's files physically live.
   * One pruned whole-dir scan per distinct REFERENCED generation (almost
   * always 1–2), unioned — never a file copy, and stale same-numbered shard
   * dirs in old generations (superseded by a later rebuild) are excluded by
   * the per-base pruning filter. Falls back to the plain single-dir read
   * when the manifest references nothing (fresh build / full rebuild).
   */
  private[graft] def nodesDf(spark: SparkSession, root: String,
      meta: IndexMeta, shards: Seq[Int]): DataFrame = {
    // empty shard list (e.g. an empty query batch routed nowhere): empty
    // result with the nodes schema — resolve through ALL shards so the
    // schema read works even when this generation's own nodes dir holds no
    // files (manifest-era generations materialize only rebuilt shards)
    if (shards.isEmpty)
      return nodesDf(spark, root, meta, 0 until meta.numShards)
        .filter(lit(false))
    val all = shards == (0 until meta.numShards)
    // EXPLICIT schema, not inference: a generation whose only affected
    // shard rebuilt to ZERO rows (a tombstone wipe of a whole shard) has a
    // nodes dir with no part files at all — inference throws
    // UNABLE_TO_INFER_SCHEMA and every read of the generation dies. With
    // the declared schema an empty dir is just an empty scan (and every
    // non-empty read skips the footer-sampling inference job too). The
    // `shard` field doubles as the partition-dir column; `code`/`labels`
    // are nullable, so files from generations that predate a column read
    // back as nulls.
    if (meta.shardDirs.forall(_.isEmpty)) {
      val df = nodesBaseDf(spark, root, meta.buildId)
      if (all) df
      else df.filter(col("shard").isin(shards.map(Integer.valueOf): _*))
    } else {
      shards.groupBy(s => shardGenRoot(root, meta, s)).toSeq.sortBy(_._1)
        .map { case (base, ss) =>
          // a referenced base generation's nodes are identified by ITS OWN
          // buildId (loadMetaAt is memoized on the _meta listing, so this
          // is one cheap LIST, not a Spark job) — meta.buildId would be the
          // CURRENT generation's id and miss an in-place rewrite of the base
          val baseFp =
            if (base == root) meta.buildId
            else loadMetaAt(spark, base).buildId
          nodesBaseDf(spark, base, baseFp)
            .filter(col("shard").isin(ss.map(Integer.valueOf): _*))
        }
        .reduce(_ unionByName _)
    }
  }

  /**
   * Incremental compaction — the LSM-style answer to "aminsert updates the
   * live graph in place", in two passes. Every delta row routes to exactly
   * one shard by the build's own rule (nearest frozen centroid for ivf,
   * pmod(xxhash64(row_id)) for hash), so only shards that RECEIVE delta rows
   * or LOSE tombstoned rows get graph work. Writes a complete new index root
   * at `dstPath`.
   *
   * PASS 1 (planning) runs at most two small actions, both bounded by
   * |tombstones| + |delta|: every delta row's (row_id, shard, build-space
   * distance to its centroid), from one read of the delta; and the main
   * row_ids found in the broadcast tombstone ∪ delta ids, from a
   * column-pruned scan. From these and the meta's exact `shardRows` the
   * driver derives, with no further job: the delta rows kept (each row_id
   * once — at-least-once replays collapse; never a tombstoned row, an
   * append-then-delete must not resurrect; never a row main already holds,
   * the crash-window re-fold keeps the MAIN copy), each shard's tombstone
   * hits, post-fold size and new radius, and so which shards
   *
   *  - FOLD: a shard that only receives delta rows keeps its frozen graph
   *    and has them inserted ([[foldShard]], the reference's aminsert /
   *    Graph::insert, build.rs:464-557) — O(inserted · search) graph work;
   *  - REBUILD: a shard losing tombstoned rows rebuilds from (survivors ∪
   *    delta) in row_id order (removal shifts the node indices its edges
   *    point at) — always with the FROZEN quantizer and centroids from
   *    `meta`, since retraining would invalidate every untouched shard;
   *  - SPLIT: an ivf shard growing past `graft.compact.maxShardGrowth`
   *    (default 2.0) × shardTargetRows re-clusters its own members into
   *    ceil(total/target) sub-centroids (sampled Lloyd over build-space
   *    vectors) and rebuilds as that many sub-shards; sub 0 keeps the old
   *    id, the rest take fresh ids past numShards. O(hot shard), so a
   *    skewed append stream keeps compaction O(ingest window) instead of an
   *    O(corpus) re-shard (`graft.compact.shardSplit=false` refuses
   *    instead). A HASH index cannot split one shard — its routing bakes in
   *    numShards — so an overgrown hash shard returns None and the caller
   *    answers with the FULL rebuild;
   *  - stay CARRIED: every untouched shard is a MANIFEST reference
   *    (shardDirs) with its cache epoch preserved — no copy.
   *
   * PASS 2 (folding) is one job: each affected shard's frozen node rows and
   * its routed delta rows meet in one task per target shard, which drops
   * tombstoned and non-kept rows, then folds, rebuilds or builds a split
   * sub-shard; one `partitionBy("shard")` write covers every shard.
   *
   * Split shards are then re-measured (radius and rows, one pass over the
   * written sub-shards) and gated for PROGRESS: a point mass no centroid
   * router can subdivide leaves a sub-shard past the cap, and the split
   * refuses (None, full rebuild) instead of minting empty shards forever.
   * Every other shard's rows and radius come from the pass-1 arithmetic.
   * A fresh `_meta` (new buildId) finalizes the root.
   *
   * Returns (shard ids needing cache invalidation, the meta written) on
   * success.
   */
  private[graft] def rebuildShardsInto(spark: SparkSession, srcRoot: String,
      meta: IndexMeta, delta: DataFrame, tombstones: Set[Long],
      dstPath: String): Option[(Seq[Int], IndexMeta)] = {
    val sc = spark.sparkContext
    val metric = Metric(meta.metric)
    val dims = meta.dimsToIndex
    // (shard, build-space distance to its centroid; 0 for hash shards)
    val routed: org.apache.spark.sql.Column =
      if (meta.partitioner == "ivf") {
        val ivfBc = sc.broadcast(
          graft.operators.Similarity.IvfModel(meta.centroids))
        udf((v: mutable.Seq[Float]) => {
          val bv = BuildSpace(v.toArray, dims, metric)
          val s = ivfBc.value.nearest(bv, 1)(0)
          (s, math.sqrt(VectorKernels.l2sq(bv, ivfBc.value.centroids(s))))
        }).apply(col("vec"))
      } else struct(
        pmod(xxhash64(col("row_id")), lit(meta.numShards)).cast(IntegerType).as("_1"),
        lit(0.0).as("_2"))
    val deltaRouted = delta.filter(col("vec").isNotNull)
      .select(col("row_id").cast(LongType).as("row_id"), col("vec"),
        col("labels").cast(ArrayType(ShortType)).as("labels"),
        routed.as("r"))
    val existing = nodesDf(spark, srcRoot, meta, 0 until meta.numShards)

    // ---- pass 1: planning ----
    val deltaHits: Array[(Long, Int, Double)] =
      deltaRouted.select(col("row_id"), col("r._1"), col("r._2")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val probeIds = tombstones ++ deltaHits.iterator.map(_._1)
    val mainHits: Array[(Long, Int)] =
      if (probeIds.isEmpty) Array.empty
      else {
        val idsBc = sc.broadcast(probeIds)
        val probed = udf((id: Long) => idsBc.value.contains(id))
        existing.select(col("row_id"), col("shard"))
          .filter(probed(col("row_id"))).collect()
          .map(r => (r.getLong(0), r.getInt(1)))
      }
    val inMain = mainHits.iterator.map(_._1).toSet
    val tombByShard: Map[Int, Long] = mainHits.toSeq
      .filter(h => tombstones(h._1)).groupMapReduce(_._2)(_ => 1L)(_ + _)
    // each kept row_id once; a replay whose copies route apart keeps the
    // copy in the lowest shard
    val kept: Map[Long, Int] = deltaHits.toSeq
      .filter(h => !tombstones(h._1) && !inMain(h._1))
      .groupMapReduce(_._1)(_._2)(math.min)
    val deltaByShard: Map[Int, Long] =
      kept.values.toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
    val deltaMax: Map[Int, Double] = deltaHits.toSeq
      .filter(h => kept.get(h._1).contains(h._2))
      .groupMapReduce(_._2)(_._3)(math.max)
    val affected = (deltaByShard.keySet ++ tombByShard.keySet).toSeq.sorted
    val newRows = meta.numRows - tombByShard.valuesIterator.sum +
      deltaByShard.valuesIterator.sum
    // exact old sizes from the meta; a pre-round-11 meta (counts unknown)
    // is BACKFILLED with one count over the existing nodes, paid once per
    // legacy index, so it gains the exact counts (and the empty-shard fast
    // answer) at its first incremental compact
    val oldRows: Array[Long] =
      if (meta.shardRows.length == meta.numShards) meta.shardRows
      else {
        val m = existing.groupBy(col("shard")).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        Array.tabulate(meta.numShards)(s => m.getOrElse(s, 0L))
      }
    def postFoldRows(s: Int): Long = oldRows(s) -
      tombByShard.getOrElse(s, 0L) + deltaByShard.getOrElse(s, 0L)
    val growthCap = (spark.conf.get("graft.compact.maxShardGrowth", "2.0")
      .toDouble * meta.shardTargetRows).toLong
    val oversized = affected.filter(s => postFoldRows(s) > growthCap)
    val splitOn = meta.partitioner == "ivf" && meta.centroids.nonEmpty &&
      spark.conf.get("graft.compact.shardSplit", "true").toBoolean
    if (oversized.nonEmpty && !splitOn) return None
    val foldSet: Set[Int] =
      if (spark.conf.get("graft.compact.insertFold", "true").toBoolean)
        affected.filter(s => !oversized.contains(s) &&
          !tombByShard.contains(s) && deltaByShard.contains(s)).toSet
      else Set.empty

    val tombBc = sc.broadcast(tombstones)
    val keptBc = sc.broadcast(kept)
    val keep = udf((id: Long, s: Int) => keptBc.value.get(id).contains(s))
    val fresh = deltaRouted.filter(keep(col("row_id"), col("r._1")))
      .withColumn("shard", col("r._1"))
    val live = udf((id: Long) => !tombBc.value.contains(id))

    // the split's sub-centroids, trained over each oversized shard's
    // (surviving ∪ kept delta) members in build space. sampleSize must
    // cover nSub (trainIvf returns at most sample.length centroids): the
    // plan is sized from the RETURNED count, so an extreme one-compaction
    // pile-up yields fewer, larger sub-shards (still progress-gated)
    var nextId = meta.numShards
    val splitPlan: Seq[(Int, Array[Int], Array[Array[Float]])] =
      oversized.map { s =>
        val nSub = math.max(2, math.ceil(
          postFoldRows(s).toDouble / meta.shardTargetRows).toInt)
        val toBuild = udf((v: mutable.Seq[Float]) =>
          BuildSpace(v.toArray, dims, metric))
        val members = nodesDf(spark, srcRoot, meta, Seq(s))
          .filter(live(col("row_id"))).select(col("vec"))
          .unionByName(fresh.filter(col("shard") === s).select(col("vec")))
        val cents = graft.operators.Similarity.trainIvf(
          members.withColumn("bv", toBuild(col("vec"))), "bv", nSub,
          sampleSize = math.max(4096, math.min(nSub * 16, 1 << 17)),
          rows = Some(postFoldRows(s))).centroids
        val ids = Array.tabulate(cents.length)(j =>
          if (j == 0) s else { val id = nextId; nextId += 1; id })
        (s, ids, cents)
      }
    val numShardsOut = nextId
    val splitIds: Seq[Int] = splitPlan.flatMap(_._2)
    val splitNewIds: Seq[Int] = splitPlan.flatMap(_._2.drop(1))

    // ---- pass 2: one fold job over every affected shard ----
    val fs = fileSystem(spark, new org.apache.hadoop.fs.Path(dstPath))
    if (affected.nonEmpty) {
      val old = nodesDf(spark, srcRoot, meta, affected)
        .select(col("shard"), col("node"), col("row_id"), col("vec"),
          col("code"), col("labels").cast(ArrayType(ShortType)).as("labels"),
          col("neighbors"))
      // appended rows carry node = -1 until their task assigns indices
      val added = fresh.select(col("shard"), lit(-1).as("node"),
        col("row_id"), col("vec"), lit(null).cast(ArrayType(LongType)).as("code"),
        col("labels"), lit(null).cast(ArrayType(IntegerType)).as("neighbors"))
      val splitBc = sc.broadcast(splitPlan.map { case (s, ids, cents) =>
        s -> (ids, graft.operators.Similarity.IvfModel(cents))
      }.toMap)
      val targets = (affected.filterNot(oversized.contains) ++ splitIds).sorted
      val slot = targets.zipWithIndex.toMap
      val model = meta.sbqModel
      val hasLabels = meta.hasLabels
      val (r, l, alpha) = (meta.numNeighbors, meta.searchListSize, meta.maxAlpha)
      // rows cross the shuffle as primitive arrays, not boxed Row values
      val nodes = old.unionByName(added).rdd.flatMap { row =>
        val (s, node, id) = (row.getInt(0), row.getInt(1), row.getLong(2))
        def arr[T: scala.reflect.ClassTag](i: Int): Array[T] =
          Option(row.getAs[mutable.Seq[T]](i)).map(_.toArray).orNull
        if (node >= 0 && tombBc.value.contains(id)) None
        else {
          val vec = arr[Float](3)
          val target = splitBc.value.get(s).fold(s) { case (ids, m) =>
            ids(m.nearest(BuildSpace(vec, dims, metric), 1)(0))
          }
          Some(target -> ((node, id, vec, arr[Long](4),
            LabelSets.normalize(arr[Short](5)), arr[Int](6))))
        }
      }.partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = targets.length
        override def getPartition(key: Any): Int = slot(key.asInstanceOf[Int])
      }).mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          val (oldRows, newRows) = rows.map(_._2).partition(_._1 >= 0)
          // each appended row_id once, in row_id order like the build
          val appended = newRows.distinctBy(_._2).sortBy(_._2)
          if (foldSet(shard))
            foldShard(shard, oldRows.sortBy(_._1).toArray, appended.toArray,
              metric, model, hasLabels, dims, r, l, alpha)
          else buildShard(shard, (oldRows ++ appended).map(n => (n._2, n._3, n._5))
            .to(mutable.ArrayBuffer), metric, model, hasLabels, dims, r, l, alpha)
        }
      }
      inPhase(spark, PhaseBuilding, dstPath) {
        spark.createDataFrame(nodes, nodeSchema).write.mode("overwrite")
          .partitionBy("shard").parquet(s"$dstPath/nodes")
      }
    } else fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dstPath/nodes"))

    // split shards REPLACE their centroid with the sub-centroids trained
    // over their own members; everything else keeps its frozen centroid
    // (retraining would invalidate every untouched shard's routing)
    val newCentroids: Array[Array[Float]] =
      if (splitPlan.isEmpty) meta.centroids
      else {
        val out = java.util.Arrays.copyOf(meta.centroids, numShardsOut)
        splitPlan.foreach { case (_, ids, cents) =>
          ids.indices.foreach(j => out(ids(j)) = cents(j))
        }
        out
      }
    // the split sub-shards' exact (radius, rows): one column-pruned pass
    // over the just-written sub-shards, bounded by the hot shard's size
    val measured: Map[Int, (Double, Long)] =
      if (splitIds.isEmpty) Map.empty
      else {
        val ncBc = sc.broadcast(newCentroids)
        spark.read.schema(nodeSchema).parquet(s"$dstPath/nodes")
          .filter(col("shard").isin(splitIds.map(Integer.valueOf): _*))
          .select(col("shard"), col("vec")).rdd.map { row =>
            val s = row.getInt(0)
            val bv = BuildSpace(row.getAs[mutable.Seq[Float]](1).toArray,
              dims, metric)
            (s, (math.sqrt(VectorKernels.l2sq(bv, ncBc.value(s))), 1L))
          }.reduceByKey((a, b) => (math.max(a._1, b._1), a._2 + b._2))
          .collectAsMap().toMap
      }
    // PROGRESS gate: a split leaving any sub-shard past the cap refuses
    if (splitIds.exists(s => measured.get(s).fold(0L)(_._2) > growthCap))
      return None

    // Untouched shards: MANIFEST entries, not copies — the new generation
    // is a metadata-only commit for them (the Iceberg-style layout; the
    // GC in [[StreamingIngest.compact]] keeps every referenced generation
    // alive). Entries are chain-free: a shard untouched for many
    // compactions still points DIRECTLY at the generation that last built
    // it, never through intermediate manifests.
    // `graft.compact.manifest=false` is the ops escape hatch: raw file
    // copies into the new generation (self-contained dirs, old behavior).
    val affectedSet = affected.toSet ++ splitNewIds
    val newShardDirs: Array[String] =
      if (spark.conf.get("graft.compact.manifest", "true").toBoolean)
        (0 until numShardsOut).map { s =>
          if (s >= meta.numShards || affectedSet(s)) ""
          else meta.shardDirs(s) match {
            case "" => relGenOf(srcRoot)
            case ref => ref
          }
        }.toArray
      else {
        val conf = spark.sessionState.newHadoopConf()
        (0 until meta.numShards).filterNot(affectedSet).foreach { s =>
          val src = new org.apache.hadoop.fs.Path(
            s"${shardGenRoot(srcRoot, meta, s)}/nodes/shard=$s")
          if (fs.exists(src))
            org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
              new org.apache.hadoop.fs.Path(s"$dstPath/nodes/shard=$s"),
              false, conf)
        }
        Array.fill(numShardsOut)("")
      }
    // per-shard cache epochs: fresh for rebuilt/split shards, PRESERVED
    // for carried-forward ones — executor caches of untouched shards
    // survive the generation change
    val freshEpoch = java.util.UUID.randomUUID().toString
    val newShardIds = Array.tabulate(numShardsOut) { s =>
      if (s >= meta.numShards || affectedSet(s)) freshEpoch
      else meta.shardBuildIds(s)
    }
    // cluster radii stay a SOUND upper bound across the fold: delta rows
    // can only grow an (un-split) shard's radius, tombstones only tighten
    // the true value (the stored bound stays valid), and SPLIT shards take
    // their measured radius against their fresh centroids. Unknown
    // (pre-round-10) radii stay unknown — only a full rebuild re-measures.
    val newShardRadii: Array[Double] =
      if (meta.partitioner != "ivf" ||
          meta.shardRadii.length != meta.numShards) meta.shardRadii
      else {
        val out = java.util.Arrays.copyOf(meta.shardRadii, numShardsOut)
        deltaMax.foreach { case (s, d) => out(s) = math.max(out(s), d) }
        splitIds.foreach(s => out(s) = measured.get(s).fold(0.0)(_._1))
        out
      }
    // per-shard row counts: EXACT, from the fold arithmetic and, for split
    // shards, the measured sub-counts (a sub-shard left empty is 0)
    val newShardRows: Array[Long] = {
      val out = java.util.Arrays.copyOf(oldRows, numShardsOut)
      affected.foreach(s => out(s) = postFoldRows(s))
      splitIds.foreach(s => out(s) = measured.get(s).fold(0L)(_._2))
      out
    }
    val written = meta.copy(numRows = newRows, buildId = freshEpoch,
      numShards = numShardsOut, centroids = newCentroids,
      shardBuildIds = newShardIds, shardDirs = newShardDirs,
      shardRadii = newShardRadii, shardRows = newShardRows)
    import spark.implicits._
    inPhase(spark, PhaseFinalizing, dstPath) {
      Seq(written).toDF().coalesce(1).write.mode("overwrite")
        .parquet(s"$dstPath/_meta")
    }
    Some((affected ++ splitNewIds, written))
  }

  /** A node row in the compaction's fold job: (node, row_id, vec, code,
    * normalized labels, neighbors); node -1, code and neighbors null for an
    * appended row. */
  private type FoldNode =
    (Int, Long, Array[Float], Array[Long], Array[Short], Array[Int])

  /**
   * One shard's LIVE-INSERT fold: the shard's FROZEN nodes (in node order)
   * seed a [[VamanaBuilder]] with the stored adjacency
   * ([[VamanaBuilder.seedFrozen]]) and only the `appended` rows (row_id
   * order) go through the normal build-insert path — the reference's
   * `aminsert` semantics (build.rs:464-557) re-expressed per shard. Old
   * nodes keep their indices (appended rows take the next ones), so stored
   * edges stay valid and only lists a back-edge actually touches are
   * rewritten with fresh distances. Graph work is O(inserted · search);
   * the shard is re-written (IO) but never re-BUILT (compute).
   */
  private def foldShard(shard: Int, old: Array[FoldNode],
      appended: Array[FoldNode], metric: Metric, m: SbqModel,
      hasLabels: Boolean, dimsToIndex: Int, r: Int, l: Int,
      alpha: Double): Iterator[Row] = {
    old.indices.foreach(i => require(old(i)._1 == i,
      s"insert fold: shard $shard arrived with non-contiguous nodes"))
    val all = old ++ appended
    val buildVecs = all.map(n => BuildSpace(n._3, dimsToIndex, metric))
    val codes = if (m == null) null else Array.tabulate(all.length)(i =>
      if (i < old.length) all(i)._4 else m.quantize(buildVecs(i)))
    val lbs = if (hasLabels) all.map(_._5) else null
    val builder = new VamanaBuilder(buildVecs, lbs, metric, r, l, alpha, codes)
    builder.seedFrozen(old.map(_._6)).buildAppended()
    all.indices.iterator.map { j =>
      Row(shard, j, all(j)._2, all(j)._3,
        if (codes != null) codes(j) else null,
        if (lbs != null) lbs(j) else null,
        builder.neighborsOf(j))
    }
  }

  /**
   * Persistent per-index tombstone registry (V1 / the DELETE-visibility
   * analog): `deleteRows` durably marks row ids deleted by appending a tiny
   * parquet file under `$indexPath/tombstones/`; every index-served read
   * path that honors freshness ([[graft.streaming.StreamingIngest.searchFresh]],
   * the SQL-planned [[graft.plans.KnnIndexScanExec]]) loads the set and
   * skips those rows — the reference's scan likewise never emits rows the
   * visibility map says are dead (scan.rs:229-235). The next compaction
   * physically folds them (VACUUM) and consumes the files, so the live set
   * stays bounded by the append-then-compact contract exactly like the
   * delta.
   */
  def deleteRows(spark: SparkSession, indexPath: String,
      rowIds: Iterable[Long]): Unit = {
    if (rowIds.isEmpty) return
    import spark.implicits._
    rowIds.toSeq.toDF("row_id").coalesce(1)
      .write.mode("append").parquet(s"$indexPath/tombstones")
  }

  /** The registry's current data files (Hadoop FS — HDFS/S3 paths work the
    * same as local ones); empty when no deletes are pending. */
  private[graft] def tombstoneFiles(spark: SparkSession,
      indexPath: String): Array[org.apache.hadoop.fs.FileStatus] =
    WriteOnceFiles.list(spark, s"$indexPath/tombstones")

  /** Load the persisted tombstone set. Bounded by the compaction contract
    * (folded + consumed at every compact), so the driver-side Set is the
    * same size class as a query batch. The LISTING runs on every call (that
    * is the freshness contract — a new delete must be visible to the next
    * scan); each registry file is write-once, so only files not seen before
    * are decoded, on the driver with no Spark job ([[WriteOnceFiles]]).
    * Steady serving between deletes: one listing per call. A file a
    * concurrent compact consumed between listing and decode is skipped —
    * the compact installed the generation without those rows first.
    * `plus` (a caller's ad-hoc set) is unioned in; when it is empty the
    * memoized set itself is returned, uncopied. */
  def loadTombstones(spark: SparkSession, indexPath: String,
      plus: Set[Long] = Set.empty): Set[Long] = {
    val registry = WriteOnceFiles.tombstones(spark, indexPath)
    if (plus.isEmpty) registry else plus ++ registry
  }

  def loadMeta(spark: SparkSession, path0: String): IndexMeta =
    loadMetaAt(spark, resolveRoot(spark, path0))

  /** Per-label node counts recorded at build (`labelstats`) — None for
    * generations built before the table existed (incremental-compact
    * carry-forwards included): callers must treat the stats as an OPTIONAL
    * optimization input, never a correctness dependency. Cached per
    * generation root — the table is immutable once installed. */
  // (fingerprint, counts) per root — fingerprint-validated like metaCache:
  // an in-place rebuild in ANOTHER process can recreate the same root
  // string with different data, and the consumer uses these counts as a
  // hard exhaustion bound (stale-small counts would truncate results)
  private val labelCountsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (String, Option[Map[Short, Long]])](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, Option[Map[Short, Long]])]): Boolean =
        size() > 64
    })

  def labelCounts(spark: SparkSession,
      path0: String): Option[Map[Short, Long]] = {
    val root = resolveRoot(spark, path0)
    val p = new org.apache.hadoop.fs.Path(s"$root/labelstats")
    val fs = fileSystem(spark, p)
    val fp =
      try fs.listStatus(p)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|")
      catch { case _: java.io.FileNotFoundException => "absent" }
    val hit = labelCountsCache.get(root)
    if (hit != null && hit._1 == fp) return hit._2
    val out =
      if (fp == "absent") None
      else Some(spark.read.parquet(p.toString)
        .collect().map(r => r.getShort(0) -> r.getLong(1)).toMap)
    labelCountsCache.put(root, (fp, out))
    out
  }

  /** [[loadMeta]] for an ALREADY-RESOLVED generation root — the GC needs the
    * flat root's own meta even when a newer generation is active (plain
    * loadMeta would re-resolve right past it). */
  /** Per-JVM meta cache keyed by the `_meta` directory's listing
    * fingerprint (names + sizes + mtimes): a generation's meta is
    * immutable under the versioned-install protocol, but the FLAT root's
    * `_meta` can be rewritten by the legacy in-place upgrade, so the
    * fingerprint — one cheap LIST, no Spark job — is the invalidation
    * rule (the tombstone registry's discipline). Without it every search
    * call pays a full parquet-read job for a KB of metadata, which
    * DOMINATES warm single-query serving latency (~100 ms of the ~140 ms
    * measured before this cache). */
  /** Bounded LRU: compaction creates a NEW generation dir per swap, so an
    * unbounded path-keyed map would retain one IndexMeta (incl. IVF
    * centroids) per dead generation for the life of the JVM. 64 live
    * (index, generation) pairs is far above any serving set. */
  private val metaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (String, IndexMeta)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, IndexMeta)]): Boolean =
        size() > 64
    })

  private def metaFingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_meta")
    val fs = fileSystem(spark, p)
    fs.listStatus(p).map(s =>
        s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")
  }

  private[graft] def loadMetaAt(spark: SparkSession, path: String): IndexMeta = {
    val fp = metaFingerprint(spark, path)
    val hit = metaCache.get(path)
    if (hit != null && hit._1 == fp) return hit._2
    val meta = readMetaAt(spark, path)
    metaCache.put(path, (fp, meta))
    meta
  }

  /** Memoize `meta`, which the caller just wrote (and, for a generation,
    * installed) at `path`, under a listing of `_meta` made now: the next
    * [[loadMetaAt]] starts no Spark job. A writer that changes the files
    * afterwards changes the fingerprint, so the memo never outlives them. */
  private[graft] def seedMeta(spark: SparkSession, path: String,
      meta: IndexMeta): Unit =
    metaCache.put(path, (metaFingerprint(spark, path), meta))

  private[graft] def readMetaAt(spark: SparkSession, path: String): IndexMeta = {
    import spark.implicits._
    // tolerate metas from earlier format generations (the analog of the
    // reference's V1/V2→V3 meta-page upgrade path, meta_page.rs:296-424):
    // fill every missing field with the default that generation implied.
    // The listed data files are read, not the directory: Spark ignores a
    // `_`-prefixed root path (with a warning) before listing it.
    val files = WriteOnceFiles.list(spark, s"$path/_meta")
    if (files.isEmpty)
      throw new java.io.FileNotFoundException(s"$path/_meta: no meta file")
    var df = spark.read.parquet(files.map(_.getPath.toString).toIndexedSeq: _*)
    if (!df.columns.contains("partitioner"))
      df = df.withColumn("partitioner", lit("hash"))
    if (!df.columns.contains("centroids"))
      df = df.withColumn("centroids",
        lit(Array.empty[Array[Float]]).cast(ArrayType(ArrayType(FloatType))))
    if (!df.columns.contains("shardTargetRows"))
      df = df.withColumn("shardTargetRows", lit(1L << 20))
    if (!df.columns.contains("buildId"))
      df = df.withColumn("buildId", lit("legacy"))
    if (!df.columns.contains("shardBuildIds"))
      df = df.withColumn("shardBuildIds",
        array_repeat(col("buildId"), col("numShards")))
    if (!df.columns.contains("shardDirs"))
      // pre-manifest generations are self-contained: every shard lives in
      // the generation's own nodes dir
      df = df.withColumn("shardDirs", array_repeat(lit(""), col("numShards")))
    if (!df.columns.contains("shardRadii"))
      // pre-round-10 generations carry no cluster radii: empty = unknown,
      // which disables radius shard pruning but changes nothing else
      df = df.withColumn("shardRadii",
        lit(Array.emptyDoubleArray).cast(ArrayType(DoubleType)))
    if (!df.columns.contains("shardRows"))
      // pre-round-11 generations carry no per-shard row counts: empty =
      // unknown, which only disables the empty-shard fast answer
      df = df.withColumn("shardRows",
        lit(Array.emptyLongArray).cast(ArrayType(LongType)))
    if (!df.columns.contains("fullBuildRows"))
      // pre-round-12 generations don't record the last-full-build row
      // count: 0 = unknown, which disables the auto-REINDEX staleness
      // trigger until the index's first full rebuild stamps it
      df = df.withColumn("fullBuildRows", lit(0L))
    df.as[IndexMeta].head()
  }

  /** IVF probe routing for ONE query vector — the single routing rule
    * shared by the online batch path and the resumable scan (a drifted copy
    * would silently probe different shards warm vs cold). None = unrouted:
    * the query searches every shard. */
  private def probeShardsFor(meta: IndexMeta, metric: Metric,
      qvec: Array[Float], nProbe: Int): Option[Array[Int]] =
    if (meta.partitioner == "ivf" && nProbe > 0 && nProbe < meta.numShards &&
        meta.centroids.nonEmpty) {
      val raw =
        if (qvec == null) new Array[Float](meta.centroids(0).length) else qvec
      val bv = BuildSpace(raw, meta.dimsToIndex, metric)
      Some(graft.operators.Similarity.IvfModel(meta.centroids).nearest(bv, nProbe))
    } else None

  /**
   * SOUND shard pruning for RADIUS queries over IVF-partitioned indexes —
   * unlike nProbe (nearest-n heuristic, recall trade), this prune can never
   * drop an in-radius row: by the triangle inequality in build space,
   * every member m of shard s satisfies
   * |q - m| >= |q - c_s| - radius_s, so a shard with
   * |q - c_s| - radius_s > r holds nothing within Euclidean radius r.
   * Report radii convert to build-space Euclidean per metric:
   * cosine on unit vectors has cosineDist = |a-b|^2/2, so r -> sqrt(2r);
   * true L2 is Euclidean already, and a Matryoshka slice only SHRINKS L2
   * distances, so pruning with the full-vector radius stays a superset.
   * Returns None (no pruning) when radii are unknown (pre-round-10 metas,
   * hash partitioner), for inner product (not a metric space), or for
   * sliced cosine (the slice breaks the unit-norm identity).
   */
  private[graft] def radiusShardsFor(meta: IndexMeta, metric: Metric,
      qvec: Array[Float], radius: Double): Option[Array[Int]] =
    if (meta.partitioner == "ivf" && meta.centroids.nonEmpty &&
        meta.shardRadii.length == meta.numShards && qvec != null &&
        metric != Metric.InnerProduct &&
        !(metric == Metric.Cosine && meta.dimsToIndex > 0)) {
      val bv = BuildSpace(qvec, meta.dimsToIndex, metric)
      val eR = metric match {
        case Metric.Cosine => math.sqrt(2.0 * math.max(radius, 0.0))
        case _ => math.max(radius, 0.0)
      }
      Some((0 until meta.numShards).filter { s =>
        val dc = math.sqrt(VectorKernels.l2sq(bv, meta.centroids(s)))
        // RELATIVE slack sized to the kernels' worst case: with the SIMD
        // float-lane kernels enabled, l2sq at high dims carries ~1e-3
        // relative error, and both the stored radius and dc round-trip
        // through it — an absolute epsilon would under-admit boundary
        // shards and break soundness. Over-admitting only costs time.
        val slack = 1e-3 * (dc + meta.shardRadii(s)) + 1e-6
        dc - meta.shardRadii(s) <= eR + slack
      }.toArray)
    } else None

  /** SQL-visible distance for projections (§4.3 note 1): true cosine / true
    * L2-with-sqrt / negative inner product. */
  private[graft] def reportDistFn(metric: Metric): (Array[Float], Array[Float]) => Double =
    metric match {
      case Metric.L2 => (a, b) => math.sqrt(VectorKernels.l2sq(a, b))
      case Metric.Cosine => (a, b) => VectorKernels.cosineDist(a, b)
      case Metric.InnerProduct => (a, b) => VectorKernels.negDot(a, b)
    }

  /**
   * ANN search: `queries` has columns (qid LONG, qvec ARRAY<FLOAT>) and
   * optionally qlabels ARRAY<SHORT> (null = unfiltered). Returns
   * (qid, row_id, dist) with per-query top-k rows, dist in SQL-visible form.
   *
   * The query set is collected and broadcast (it is the small side by
   * definition); the index scan is a narrow mapPartitions over the nodes
   * table — no shuffle of index data, only of k rows per (shard, query).
   */
  /** Executor-side scan telemetry sinks (V5): Spark `SQLMetric`s are
    * `AccumulatorV2`s, so adding to them inside `mapPartitions` surfaces the
    * counts in the SQL UI / `metrics` of [[graft.plans.KnnIndexScanExec]]. */
  case class SearchMetrics(
      nodesVisited: org.apache.spark.sql.execution.metric.SQLMetric,
      quantizedCmps: org.apache.spark.sql.execution.metric.SQLMetric,
      exactCmps: org.apache.spark.sql.execution.metric.SQLMetric) {
    def add(st: SearchStats): Unit = {
      nodesVisited.add(st.nodesVisited)
      quantizedCmps.add(st.quantizedCmps)
      exactCmps.add(st.exactCmps)
    }
  }

  /**
   * A scan of the nodes table whose every task sees only WHOLE shards.
   * Parquet files are splittable (and Spark splits aggressively to fill
   * parallelism — maxSplitBytes can drop to openCostInBytes), so a plain
   * `spark.read.parquet(...).mapPartitions` can hand a task a shard SUBSET;
   * node ids would no longer equal array positions after sort-and-compact and
   * the adjacency would be corrupt. Two shapes, picked by shard count:
   *
   *  - moderate (≤ 256 shards): a union of per-shard partition-pruned scans,
   *    each `coalesce(1)` — pruning keeps each branch to its own shard
   *    directory and coalesce glues that shard's splits into ONE task with NO
   *    shuffle. One union branch per shard is fine at this plan size.
   *  - large (100 TB-scale, thousands of shards): one hash repartition on the
   *    shard key — a single shuffle beats a many-thousand-branch union plan,
   *    and co-locates each shard in exactly one task by construction.
   */
  private def wholeShardScan(nodes: DataFrame, shards: Seq[Int]): DataFrame =
    if (shards.length <= 256)
      shards.map(s => nodes.filter(col("shard") === s).coalesce(1))
        .reduce(_ unionByName _)
    else nodes
      .filter(col("shard").isin(shards.map(Integer.valueOf): _*))
      .repartition(shards.length, col("shard"))

  /** Decode one whole shard's rows into a serving [[GraphSearcher]] (CSR
    * adjacency + primitive arrays), failing fast on a partial shard —
    * neighbors are positions into the node-sorted array, so a subset would
    * silently corrupt adjacency. */
  private def buildShardSearcher(path: String, shard: Int, shardRows: Array[Row],
      metric: Metric, model: SbqModel, hasLabels: Boolean,
      dimsToIndex: Int): GraphSearcher = {
    val sorted = shardRows.sortBy(_.getAs[Int]("node"))
    val nn = sorted.length
    var chk = 0
    while (chk < nn) {
      if (sorted(chk).getAs[Int]("node") != chk)
        throw new IllegalStateException(
          s"index $path shard $shard arrived incomplete in one task " +
            s"(expected contiguous node ids 0..${nn - 1}); " +
            "the nodes scan must deliver whole shards")
      chk += 1
    }
    val rowIds = new Array[Long](nn)
    val vecs = new Array[Array[Float]](nn)
    val codes = if (model != null) new Array[Array[Long]](nn) else null
    val lbs = if (hasLabels) new Array[Array[Short]](nn) else null
    val adj = new Array[Array[Int]](nn)
    var i = 0
    sorted.foreach { r =>
      rowIds(i) = r.getAs[Long]("row_id")
      vecs(i) = r.getAs[mutable.Seq[Float]]("vec").toArray
      if (codes != null) codes(i) = r.getAs[mutable.Seq[Long]]("code").toArray
      if (lbs != null) lbs(i) = Option(r.getAs[mutable.Seq[Short]]("labels"))
        .map(_.toArray).getOrElse(Array.emptyShortArray)
      adj(i) = r.getAs[mutable.Seq[Int]]("neighbors").toArray
      i += 1
    }
    val off = new Array[Int](nn + 1)
    var s = 0
    var j = 0
    while (j < nn) { off(j) = s; s += adj(j).length; j += 1 }
    off(nn) = s
    val tgt = new Array[Int](s)
    j = 0
    var p = 0
    while (j < nn) {
      adj(j).foreach { t => tgt(p) = t; p += 1 }
      j += 1
    }
    new GraphSearcher(rowIds, vecs, codes, lbs, off, tgt, metric, model, dimsToIndex)
  }

  /** `nProbe` > 0 on an IVF-partitioned index restricts each query to its
    * nProbe nearest shards (per-query cost O(nProbe) instead of
    * O(numShards)); 0 = search every shard (exact same recall as hash). */
  def search(spark: SparkSession, path0: String, queries: DataFrame, k: Int,
      searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty,
      metrics: Option[SearchMetrics] = None,
      nProbe: Int = 0): DataFrame = {
    val qRows = queryRows(queries)
    searchRows(spark, path0, planSearch(spark, path0, qRows, nProbe), qRows, k,
      searchListSize, rescore, tombstones, metrics)
  }

  /** Collect a (qid, qvec [, qlabels]) query frame to driver rows
    * ([[queryRow]]). */
  private def queryRows(
      queries: DataFrame): Array[(Long, Array[Float], Array[Short])] = {
    val hasQLabels = queries.columns.contains("qlabels")
    queries.collect().map(queryRow(_, hasQLabels))
  }

  /** A query frame's rows as an RDD of [[queryRow]]s. */
  private def queryRdd(queries: DataFrame)
      : org.apache.spark.rdd.RDD[(Long, Array[Float], Array[Short])] = {
    val hasQLabels = queries.columns.contains("qlabels")
    queries.rdd.map(queryRow(_, hasQLabels))
  }

  /** One (qid, qvec [, qlabels]) row; labels normalized, a null qlabels
    * means unfiltered, a null qvec searches the zero vector
    * (labels/mod.rs:214-216). */
  private def queryRow(r: Row,
      hasQLabels: Boolean): (Long, Array[Float], Array[Short]) = {
    val qv = Option(r.getAs[mutable.Seq[Float]]("qvec")).map(_.toArray).orNull
    val ql = if (hasQLabels) r.getAs[mutable.Seq[Short]]("qlabels") match {
      case null => null
      case s => LabelSets.normalize(s.toArray)
    } else null
    (r.getAs[Long]("qid"), qv, ql)
  }

  /** The (qid, row_id, dist) schema of every search result frame. */
  private val ResultSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("row_id", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  /** (qid, row_id, dist) driver rows as a local relation. */
  private def localDf(spark: SparkSession,
      hits: Seq[(Long, Long, Double)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      hits.map(h => Row(h._1, h._2, h._3)): _*), ResultSchema)

  /**
   * Low-latency POINT query — the reference's primary operation (one
   * `ORDER BY embedding <=> q LIMIT k` per client call) as a driver API:
   * returns the k (row_id, dist) pairs directly. When every probed shard's
   * searcher is warm in this JVM, the entire call is driver-side
   * ([[searchWarm]]) — no Spark job, no broadcast, no DataFrame — which is
   * what makes ms-scale serving possible from a long-lived session (the
   * benchmark's `ann_serve` measures it; cold shards fall back to the scan
   * path transparently).
   */
  def searchPoint(spark: SparkSession, path0: String, qvec: Array[Float],
      k: Int, searchListSize: Int = 100, rescore: Int = 50, nProbe: Int = 0,
      qlabels: Array[Short] = null,
      tombstones: Set[Long] = Set.empty): Seq[(Long, Double)] =
    searchPointResolved(spark, path0, qvec, k, searchListSize, rescore, nProbe,
      qlabels, tombstones)._1

  /** [[searchPoint]], plus the metric of the generation it resolved — so a
    * caller that merges more candidates in needs no second resolution. */
  private[graft] def searchPointResolved(spark: SparkSession, path0: String,
      qvec: Array[Float], k: Int, searchListSize: Int, rescore: Int,
      nProbe: Int, qlabels: Array[Short],
      tombstones: Set[Long]): (Seq[(Long, Double)], Metric) = {
    val q = Array((0L, qvec, Option(qlabels).map(LabelSets.normalize).orNull))
    val plan = planSearch(spark, path0, q, nProbe)
    val hits = searchWarm(path0, plan, q, k, searchListSize, rescore, tombstones)
      .getOrElse(searchRows(spark, path0, plan, q, k, searchListSize, rescore,
        tombstones, None).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
      .map(h => (h._2, h._3))
      .sortBy { case (rid, d) => (d, rid) }
    (hits, Metric(plan.meta.metric))
  }

  /** Memoized serving RDD per index path: one partition per shard over the
    * current generation, reused across [[servePointBatch]] calls so steady
    * serving pays ZERO per-call planning (the ~20 ms/branch QueryExecution
    * cost of building the shard-aligned union — ZipPlanCost's measurement —
    * is paid once per generation, not per query). Fingerprint = generation
    * root + per-shard epochs + Spark application id, so a compaction or a
    * session restart invalidates naturally. Bounded LRU like [[metaCache]]. */
  private val servingRddCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (String, org.apache.spark.rdd.RDD[Row])](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, org.apache.spark.rdd.RDD[Row])]): Boolean =
        size() > 16
    })

  private def servingNodesRdd(spark: SparkSession, path0: String,
      root: String, meta: IndexMeta): org.apache.spark.rdd.RDD[Row] = {
    val fp = root + "#" + meta.shardBuildIds.mkString(",") + "#" +
      spark.sparkContext.applicationId
    val hit = servingRddCache.get(path0)
    if (hit != null && hit._1 == fp) hit._2
    else {
      val all = 0 until meta.numShards
      val rdd = shardAlignedNodesRdd(spark, nodesDf(spark, root, meta, all), all)
      servingRddCache.put(path0, (fp, rdd))
      rdd
    }
  }

  /** Memoized bucket-aligned zip scan for [[searchDistributed]] /
    * [[rangeSearchDistributed]] (round 16): partition i holds exactly
    * `buckets(i)`'s shards. Building it costs one pruned-scan
    * QueryExecution PER BUCKET (~20 ms each — ZipPlanCost's measurement;
    * ~0.5 s per query on the 500-shard fixture, and O(zipMaxShards)
    * branches in general), all driver-side — paid once per (generation,
    * routing set, bucket layout) instead of once per query. Fingerprint =
    * generation root + per-shard epochs + applicationId + the exact shard
    * set and bucket size, so compaction, an in-place rebuild, a different
    * IVF routing set or a different zipMaxShards all invalidate naturally.
    * The [[servingRddCache]] discipline — index STATE memoization, never
    * query results (every execution still scans the parquet nodes). */
  private val zipRddCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (String, org.apache.spark.rdd.RDD[Row])](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, org.apache.spark.rdd.RDD[Row])]): Boolean =
        size() > 16
    })

  private def zipNodesRdd(spark: SparkSession, path0: String, root: String,
      meta: IndexMeta, neededShards: Seq[Int],
      buckets: IndexedSeq[Seq[Int]],
      bucketSize: Int): org.apache.spark.rdd.RDD[Row] = {
    val fp = root + "#" + meta.shardBuildIds.mkString(",") + "#" +
      spark.sparkContext.applicationId + "#" + neededShards.mkString(",") +
      "#" + bucketSize
    val key = s"$path0#zip#$bucketSize"
    val hit = zipRddCache.get(key)
    if (hit != null && hit._1 == fp) hit._2
    else {
      val nodes = nodesDf(spark, root, meta, neededShards)
      val rdd =
        if (bucketSize == 1) shardAlignedNodesRdd(spark, nodes, neededShards)
        else bucketedNodesRdd(spark, nodes, buckets)
      zipRddCache.put(key, (fp, rdd))
      rdd
    }
  }

  /**
   * Batch point serving: per query the k best (qid, row_id, dist) rows, in
   * (qid, dist, row_id) order; queries sharing a qid share its k rows. The
   * generation resolves once per call and the durable tombstone registry is
   * masked on every call.
   *
   * Driver path first: when the batch holds at most 128 queries and every
   * probed shard's searcher is warm in this JVM, [[searchWarm]] answers with
   * no Spark job, broadcast or DataFrame, one query per core — the
   * reference's backend serving from shared buffers.
   *
   * Executor pool otherwise (cold shards, larger batches, cluster mode,
   * where the driver's cache is empty): one Spark job, ONE task per probed
   * shard over a MEMOIZED shard-aligned RDD ([[shardAlignedNodesRdd]]: no
   * per-call planning, no shuffle). A task checks its executor's
   * [[GraphSearcher]] cache before touching its LAZY parquet scan, so a
   * warm task reads zero bytes (asserted in DiskannIndexSpec); a cold one
   * decodes its shard and warms THAT executor (placement follows scan
   * locality, not cache residency). The driver merges ≤ shards×k×|batch|
   * rows under the driver path's rule ([[mergeByQuery]]).
   */
  def servePointBatch(spark: SparkSession, path0: String,
      queries: Seq[(Long, Array[Float], Array[Short])], k: Int,
      searchListSize: Int = 100, rescore: Int = 50, nProbe: Int = 0,
      tombstones: Set[Long] = Set.empty): Seq[(Long, Long, Double)] =
    serveBatch(spark, path0, queries, k, searchListSize, rescore, nProbe,
      tombstones, onDriver = true)

  /** [[servePointBatch]]; `onDriver = false` forces the executor pool. */
  private[graft] def serveBatch(spark: SparkSession, path0: String,
      queries: Seq[(Long, Array[Float], Array[Short])], k: Int,
      searchListSize: Int, rescore: Int, nProbe: Int, tombstones: Set[Long],
      onDriver: Boolean): Seq[(Long, Long, Double)] = {
    if (queries.isEmpty) return Seq.empty
    val qRows = queries.map { case (qid, qv, ql) =>
      (qid, qv, Option(ql).map(LabelSets.normalize).orNull)
    }.toArray
    val plan = planSearch(spark, path0, qRows, nProbe)
    val tomb = loadTombstones(spark, path0, tombstones)
    val warm = if (onDriver) searchWarm(path0, plan, qRows, k, searchListSize,
      rescore, tomb) else None
    if (warm.isDefined) return warm.get
    val SearchPlan(path, meta, probeOf, neededShards) = plan
    val metric = Metric(meta.metric)
    val model = meta.sbqModel
    val report = reportDistFn(metric)
    val rdd = servingNodesRdd(spark, path0, path, meta)
    val sc = spark.sparkContext
    val qBc = sc.broadcast(qRows)
    val probeBc = sc.broadcast(probeOf)
    val probedBc = sc.broadcast(neededShards.toSet)
    val tombBc = sc.broadcast(tomb)
    val shardIds = meta.shardBuildIds
    val cachePath = path0
    val hasLabels = meta.hasLabels
    val dims = meta.dimsToIndex
    val served = rdd.mapPartitionsWithIndex { (shard, it) =>
      if (!probedBc.value.contains(shard)) Iterator.empty
      else {
        val key = s"$cachePath#$shard#${shardIds(shard)}"
        // peek BEFORE touching the iterator: a warm hit must not consume
        // (= read) the underlying lazy parquet scan at all
        val searcher = GraphSearcher.peek(key).getOrElse {
          val rows = it.toArray
          if (rows.isEmpty) null
          else GraphSearcher.getOrBuild(key,
            () => buildShardSearcher(path, shard, rows, metric, model,
              hasLabels, dims))
        }
        if (searcher == null) Iterator.empty
        else searchShard(searcher, shard, qBc.value.iterator, k,
          searchListSize, rescore, tombBc.value, probeBc.value, report, null)
      }
    }
    // submit ONLY the probed partitions (partition id == shard id by the
    // aligned-RDD contract): a routed single query schedules nProbe tasks,
    // not numShards — the scheduling overhead that otherwise dominates
    // point latency at high shard counts
    val partial = sc.runJob(served,
      (it: Iterator[(Long, Long, Double)]) => it.toArray, neededShards).flatten
    mergeByQuery(partial, k)
  }

  /** Resolve the active generation ONCE per query set — meta and nodes must
    * come from the same version even if a compaction swap lands mid-query —
    * with the per-query IVF probe sets (absent = every shard) and the
    * shards some query needs. */
  private def planSearch(spark: SparkSession, path0: String,
      qRows: Array[(Long, Array[Float], Array[Short])], nProbe: Int): SearchPlan = {
    val path = resolveRoot(spark, path0)
    val meta = loadMetaAt(spark, path)
    val metric = Metric(meta.metric)
    val probeOf: Map[Long, Array[Int]] =
      qRows.flatMap { case (qid, qv, _) =>
        probeShardsFor(meta, metric, qv, nProbe).map(qid -> _)
      }.toMap
    // IVF routing also prunes the SCAN: only shards some query probes are
    // read at all (partition-pruned by the shard directory key) — at
    // thousands of shards a probe touches O(queries × nProbe) shards, not
    // every shard. Unrouted searches read everything.
    val neededShards: Seq[Int] =
      if (probeOf.nonEmpty && probeOf.size == qRows.length)
        probeOf.values.flatten.toSet.toSeq.sorted
      else 0 until meta.numShards
    SearchPlan(path, meta, probeOf, neededShards)
  }

  /** What [[planSearch]] resolved for one query set. */
  private case class SearchPlan(root: String, meta: IndexMeta,
      probeOf: Map[Long, Array[Int]], neededShards: Seq[Int])

  /** Searcher cache key: the CALLER's index path + the per-shard epoch. The
    * resolved generation dir changes on every compaction, but an untouched
    * shard keeps its epoch, so its decoded graph stays warm across
    * incremental compactions. */
  private def shardKey(path0: String, meta: IndexMeta, shard: Int): String =
    s"$path0#$shard#${meta.shardBuildIds(shard)}"

  /** Shard `sh`'s searcher when it is warm in this JVM, or None.
    *
    * An EMPTY shard (a tombstone wipe rebuilt it to zero rows, or a
    * degenerate split sub-cluster) never flows through the scan paths that
    * build searchers, so without this it would be cold forever: every warm
    * point or batch call would fall back to a Spark job, and the resumable
    * scan would never open. Its empty searcher is synthesized here instead.
    * Emptiness is decided from the META's exact per-shard row counts, never
    * the filesystem: a GC racing this call can legitimately remove a
    * superseded shard dir (even inside a generation whose _meta survives),
    * and an FS probe would call that "empty" and silently truncate results.
    * shardRows is immutable per generation; unknown (pre-round-11) metas
    * never synthesize and stay on the cold path. */
  private def warmSearcher(path0: String, root: String, meta: IndexMeta,
      sh: Int): Option[GraphSearcher] = {
    val key = shardKey(path0, meta, sh)
    GraphSearcher.peek(key).orElse {
      if (meta.shardRows.length == meta.numShards && meta.shardRows(sh) == 0L)
        Some(GraphSearcher.getOrBuild(key, () => buildShardSearcher(root, sh,
          Array.empty, Metric(meta.metric), meta.sbqModel, meta.hasLabels,
          meta.dimsToIndex)))
      else None
    }
  }

  /** Answer queries on one shard's decoded searcher: per query whose IVF
    * probe set includes the shard, the shard's k best (qid, row_id, dist).
    * `stats`, when non-null, accumulates the scan telemetry. */
  private def searchShard(searcher: GraphSearcher, shard: Int,
      qs: Iterator[(Long, Array[Float], Array[Short])], k: Int,
      searchListSize: Int, rescore: Int, tomb: Set[Long],
      probes: Map[Long, Array[Int]],
      report: (Array[Float], Array[Float]) => Double,
      stats: SearchStats): Iterator[(Long, Long, Double)] =
    qs.filter { case (qid, _, _) => probes.get(qid).forall(_.contains(shard)) }
      .flatMap { case (qid, qvec, qlabels) =>
        searcher.search(qvec, k, searchListSize, rescore, qlabels,
          rid => tomb.contains(rid), report, stats)
          .iterator.take(k).map { case (rid, d) => (qid, rid, d) }
      }

  /** (dist, row_id) under `Double.compare`: the order of every result. */
  private val hitOrder: Ordering[(Long, Double)] = (a, b) => {
    val c = java.lang.Double.compare(a._2, b._2)
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
  }

  /** The merge rule of every top-k: each row_id once, at its minimum
    * distance, in [[hitOrder]], then the first k. Bounded: cut back to k at
    * 2k rows, and a row behind the k-th kept one (k distinct row_ids) is
    * dropped on arrival, so a long stream costs O(n log k), not a sort. */
  private final class TopK(k: Int) extends Serializable {
    private val buf = mutable.ArrayBuffer.empty[(Long, Double)]
    private var kth: (Long, Double) = null
    private def compact(): Unit = {
      val kept = buf.sortInPlace()(hitOrder).distinctBy(_._1).take(k)
      buf.clear(); buf ++= kept
      if (k > 0 && buf.length == k) kth = buf.last
    }
    def add(h: (Long, Double)): Unit =
      if (k > 0 && (kth == null || hitOrder.lt(h, kth))) {
        buf += h
        if (buf.length >= math.max(2L * k, 64L)) compact()
      }
    def result: Seq[(Long, Double)] = { compact(); buf.toSeq }
  }

  private[graft] def mergeTopK(hits: Iterator[(Long, Double)],
      k: Int): Seq[(Long, Double)] =
    { val top = new TopK(k); hits.foreach(top.add); top.result }

  /** [[mergeTopK]] per qid over (qid, row_id, dist) rows, in qid order. */
  private[graft] def mergeByQuery(hits: Iterable[(Long, Long, Double)],
      k: Int): Seq[(Long, Long, Double)] =
    hits.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, hs) =>
      mergeTopK(hs.iterator.map(h => (h._2, h._3)), k)
        .map { case (rid, d) => (qid, rid, d) }
    }

  /** The largest batch the driver answers alone. */
  private val MaxWarmBatch = 128

  /** The driver-only serving kernel: [[searchOnDriver]] when every probed
    * shard's searcher is warm in THIS JVM and the batch holds at most
    * [[MaxWarmBatch]] queries; None otherwise (always, in cluster mode). */
  private def searchWarm(path0: String, plan: SearchPlan,
      qRows: Array[(Long, Array[Float], Array[Short])], k: Int,
      searchListSize: Int, rescore: Int, tombstones: Set[Long],
      metrics: Option[SearchMetrics] = None): Option[Seq[(Long, Long, Double)]] = {
    val warm = plan.neededShards.flatMap(sh =>
      warmSearcher(path0, plan.root, plan.meta, sh).map(sh -> _))
    if (qRows.length > MaxWarmBatch || warm.length < plan.neededShards.length)
      None
    else Some(searchOnDriver(warm, plan, qRows, k, searchListSize, rescore,
      tombstones, metrics))
  }

  /** Per qid in ascending order, its top-k over the `warm` searchers under
    * [[mergeTopK]]. A batch runs one query per core, a single query on the
    * calling thread; telemetry is collected per query and added to
    * `metrics` on the calling thread (`SQLMetric.add` is not atomic). */
  private def searchOnDriver(warm: Seq[(Int, GraphSearcher)], plan: SearchPlan,
      qRows: Array[(Long, Array[Float], Array[Short])], k: Int,
      searchListSize: Int, rescore: Int, tombstones: Set[Long],
      metrics: Option[SearchMetrics]): Seq[(Long, Long, Double)] = {
    val report = reportDistFn(Metric(plan.meta.metric))
    val byQid = qRows.groupBy(_._1).toList.sortBy(_._1)
    def answer(q: (Long, Array[(Long, Array[Float], Array[Short])])) = {
      val st = if (metrics.isDefined) new SearchStats else null
      val hits = mergeTopK(warm.iterator.flatMap { case (shard, searcher) =>
        searchShard(searcher, shard, q._2.iterator, k, searchListSize,
          rescore, tombstones, plan.probeOf, report, st)
      }.map(h => (h._2, h._3)), k)
      (hits.map { case (rid, d) => (q._1, rid, d) }, st)
    }
    import scala.collection.parallel.CollectionConverters._
    val answered =
      if (byQid.length == 1) byQid.map(answer)
      else byQid.par.map(answer).toList
    metrics.foreach(m => answered.foreach(a => m.add(a._2)))
    answered.flatMap(_._1)
  }

  /** [[search]] after query collection — the shared kernel for the
    * DataFrame path and [[searchPoint]]'s cold fallback. */
  private def searchRows(spark: SparkSession, path0: String, plan: SearchPlan,
      qRows: Array[(Long, Array[Float], Array[Short])], k: Int,
      searchListSize: Int, rescore: Int, tombstones: Set[Long],
      metrics: Option[SearchMetrics]): DataFrame = {
    // all warm: a LocalRelation of the driver's answer (the window merge
    // below costs a job + shuffle: single-query p50 ~190 ms vs low-ms)
    val warm = searchWarm(path0, plan, qRows, k, searchListSize, rescore,
      tombstones, metrics)
    if (warm.isDefined) return localDf(spark, warm.get)

    val SearchPlan(path, meta, probeOf, neededShards) = plan
    val metric = Metric(meta.metric)
    val model = meta.sbqModel
    val probeBc = spark.sparkContext.broadcast(probeOf)
    val qBc = spark.sparkContext.broadcast(qRows)
    val tombBc = spark.sparkContext.broadcast(tombstones)
    val report = reportDistFn(metric)

    // Partly warm: a shard whose decoded searcher already lives in this
    // JVM's cache is answered directly, with no nodes scan at all; only the
    // cold shards are read.
    val warmPairs: Seq[(Int, GraphSearcher)] =
      if (qRows.length <= MaxWarmBatch)
        neededShards.flatMap(sh =>
          warmSearcher(path0, path, meta, sh).map(sh -> _))
      else Seq.empty
    val warmSet = warmPairs.map(_._1).toSet
    val coldShards = neededShards.filterNot(warmSet)
    val warmPartial: Option[DataFrame] =
      if (warmPairs.isEmpty) None
      else Some(localDf(spark, searchOnDriver(warmPairs, plan, qRows, k,
        searchListSize, rescore, tombstones, metrics)))

    val coldPartial: Option[DataFrame] = if (coldShards.isEmpty) None else {
      val coldNodes =
        wholeShardScan(nodesDf(spark, path, meta, coldShards), coldShards)
      Some(coldNodes.mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else rows.groupBy(_.getAs[Int]("shard")).iterator.flatMap { case (shard, shardRows) =>
          val searcher = GraphSearcher.getOrBuild(shardKey(path0, meta, shard),
            () => buildShardSearcher(path, shard, shardRows, metric, model,
              meta.hasLabels, meta.dimsToIndex))
          val st = if (metrics.isDefined) new SearchStats else null
          val hits = searchShard(searcher, shard, qBc.value.iterator, k,
            searchListSize, rescore, tombBc.value, probeBc.value, report, st)
            .map(h => Row(h._1, h._2, h._3)).toArray
          metrics.foreach(_.add(st))
          hits.iterator
        }
      }(org.apache.spark.sql.Encoders.row(ResultSchema)))
    }

    val partial = (warmPartial, coldPartial) match {
      case (Some(w), Some(c)) => w.unionByName(c)
      case (Some(w), None) => w
      case (None, Some(c)) => c
      case (None, None) => localDf(spark, Seq.empty)
    }

    // final top-k merge per query
    partial
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("row_id"))))
      .filter(col("rnk") <= k)
      .drop("rnk")
  }

  /**
   * Shard-aligned, SHUFFLE-FREE nodes RDD: partition i holds exactly shard
   * `neededShards(i)`, built as an RDD-level union of per-shard
   * partition-pruned scans. RDD union (unlike a Catalyst union) never
   * repacks tiny scans into fewer partitions — the zip alignment depends on
   * that — and its lineage contains NO ShuffleDependency on the nodes side
   * (asserted by DiskannIndexSpec), which is the property that keeps the
   * 100 TB index out of every shuffle regardless of shard count.
   */
  private[graft] def shardAlignedNodesRdd(spark: SparkSession,
      nodes: DataFrame,
      neededShards: Seq[Int]): org.apache.spark.rdd.RDD[Row] = {
    // each branch pays its own QueryExecution (~20 ms measured — the only
    // cost that grows with shard count on this path); branches are
    // independent, so plan them on a parallel collection (Spark planning is
    // thread-safe per session — concurrent queries do exactly this).
    // ParSeq.map preserves sequence order, which the zip alignment needs.
    // ZipPlanCost is the measurement harness.
    import scala.collection.parallel.CollectionConverters._
    spark.sparkContext.union(
      neededShards.par
        .map(s => nodes.filter(col("shard") === s).coalesce(1).rdd).seq)
  }

  /**
   * Bucket-aligned generalization of [[shardAlignedNodesRdd]]: partition i
   * holds ALL rows of the shards in `buckets(i)` via one partition-pruned
   * coalesced scan per bucket. Same shuffle-free lineage property (asserted
   * by DiskannIndexSpec past `zipMaxShards`) — this is what lets the zip
   * path serve ANY shard count with a bounded number of plan branches.
   */
  private[graft] def bucketedNodesRdd(spark: SparkSession, nodes: DataFrame,
      buckets: Seq[Seq[Int]]): org.apache.spark.rdd.RDD[Row] = {
    import scala.collection.parallel.CollectionConverters._
    spark.sparkContext.union(
      buckets.par.map(ss => nodes
        .filter(col("shard").isin(ss.map(Integer.valueOf): _*))
        .coalesce(1).rdd).seq)
  }

  /** True iff `rdd`'s lineage reaches a shuffle — test/plan-audit hook. */
  private[graft] def hasShuffle(rdd: org.apache.spark.rdd.RDD[_]): Boolean = {
    val seen = mutable.Set.empty[Int]
    def walk(r: org.apache.spark.rdd.RDD[_]): Boolean =
      seen.add(r.id) && r.dependencies.exists {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => true
        case d => walk(d.rdd)
      }
    walk(rdd)
  }

  /**
   * Driver-side resumable single-query scan over WARM shards — the
   * `amgettuple` / TSVResponseIterator analog (scan.rs:162-242,370-405) for
   * the residual-recheck over-fetch loop: each escalation round EXTENDS the
   * per-shard best-first frontiers instead of re-searching from scratch.
   *
   * Opens only when every needed shard's decoded [[GraphSearcher]] is
   * already in THIS JVM's cache (the serving warm path: always true in
   * local mode after the first round, and on any serving node colocated
   * with its executor cache). Cold or cluster-remote shards return None and
   * the caller keeps the distributed per-round search — correctness is
   * identical either way (resume is exact; see [[GraphSearcher.ResumableSearch]]),
   * only the re-paid traversal differs.
   */
  final class ResumableScanHandle private[DiskannIndex] (
      handles: Seq[(GraphSearcher#ResumableSearch, SearchStats)],
      metrics: Option[SearchMetrics]) {
    /** Top-kk merged hits at this budget, as (qid=0, row_id, dist) rows. */
    def topK(kk: Int, searchListSize: Int, rescore: Int): Array[Row] = {
      val merged = mergeTopK(handles.iterator.flatMap { case (h, _) =>
        h.advance(kk, math.max(searchListSize, kk), rescore).take(kk) }, kk)
      metrics.foreach(m =>
        handles.foreach { case (_, st) => m.add(st); st.reset() })
      merged.map { case (rid, d) => Row(0L, rid, d) }.toArray
    }
  }

  /**
   * Distance-threshold scan — the `WHERE embedding <=> q < r` shape
   * (pgvector 0.8's iterative index scans; pgvectorscale serves it through
   * the same streaming top-k machinery, scan.rs:162-242): pull from the
   * resumable frontier in escalating top-k rounds until the deepest exact
   * distance exceeds `radius`, then keep every hit within it. Same
   * approximation contract as top-k (greedy traversal may miss outliers;
   * exhaustive at widened L), exact under the verification parameters.
   * Warm shards resume one frontier across rounds; a cold index pays one
   * full search on round 1 (which warms it) and resumes from round 2 —
   * the residualExecute escalation discipline. `maxResults` bounds the
   * driver-side result (a radius covering the whole corpus is a scan, not
   * a point lookup — callers wanting that should read the table).
   */
  def rangeSearch(spark: SparkSession, path0: String, qvec: Array[Float],
      radius: Double, searchListSize: Int = 100, rescore: Int = 50,
      qlabels: Array[Short] = null, tombstones: Set[Long] = Set.empty,
      nProbe: Int = 0, maxResults: Int = 65536): Seq[(Long, Double)] =
    rangeSearchWithStatus(spark, path0, qvec, radius, searchListSize,
      rescore, qlabels, tombstones, nProbe, maxResults)._1

  /**
   * [[rangeSearch]] plus a CONFIRMED flag: `true` means the escalation's
   * stability contract held (the in-radius set was unchanged across a 4x
   * widening, or the traversal genuinely exhausted), `false` means the
   * `maxResults` cap cut escalation short and the set may be INCOMPLETE —
   * note the returned count can be far below maxResults in that case (only
   * a fraction of the capped top-k cleared the radius), so consumers
   * needing exactness must branch on this flag, not on the result size
   * (KnnRangeScanExec falls back to the exact distributed scan on false).
   */
  def rangeSearchWithStatus(spark: SparkSession, path0: String,
      qvec: Array[Float],
      radius: Double, searchListSize: Int = 100, rescore: Int = 50,
      qlabels: Array[Short] = null, tombstones: Set[Long] = Set.empty,
      nProbe: Int = 0, maxResults: Int = 65536): (Seq[(Long, Double)], Boolean) = {
    // SOUND radius shard pruning (triangle inequality over the stored IVF
    // cluster radii, [[radiusShardsFor]]): at thousands of shards a
    // selective radius visits only the shards whose cluster ball can
    // intersect it — a 100x serving lever that, unlike nProbe, can never
    // drop an in-radius row. The prune is computed inside the open, from
    // the same meta that routes the scan (no generation-swap straddle);
    // the cold first call still pays the full searchPoint once (which
    // warms the caches), every resumed round is pruned.
    var resumable = openResumableScan(spark, path0, qvec, qlabels,
      tombstones, nProbe = nProbe, radiusPrune = Some(radius))
    def round(kk: Int, l: Int): Seq[(Long, Double)] = resumable match {
      case Some(h) =>
        h.topK(kk, math.max(l, kk), math.max(rescore, l))
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      case None =>
        val hits = searchPoint(spark, path0, qvec, kk,
          math.max(l, kk), math.max(rescore, l), nProbe, qlabels, tombstones)
        resumable = openResumableScan(spark, path0, qvec, qlabels,
          tombstones, nProbe = nProbe, radiusPrune = Some(radius))
        hits
    }
    // EXHAUSTIVENESS is owned here, not by caller-tuned parameters: the
    // greedy traversal at a given search-list size L can clear the radius
    // (deepest returned distance > radius) while un-returned in-radius rows
    // sit beyond its frontier — a top-k result hides that behind k, a range
    // result cannot. So the escalation widens L TOGETHER with kk and only
    // stops once the in-radius ID SET is UNCHANGED across a 4x widening
    // (or the maxResults cap is hit — the documented truncation bound for
    // radii that cover the corpus). L quadruples per round, so the confirm
    // round re-pays little: the resumable frontier extends instead of
    // re-searching, and a stable set is typically confirmed in one extra
    // round at 4x the L that found it.
    // for the cap-boundary confirmation (see escalateRadius): numRows is
    // the cover bound — kk >= numRows proves the exploration covered the
    // corpus (bound >= 3kk), the one condition under which a cap exit may
    // still confirm
    val indexedRows: Long =
      try loadMeta(spark, resolveRoot(spark, path0)).numRows
      catch { case _: Exception => Long.MaxValue }
    escalateRadius(round, radius, searchListSize, maxResults, indexedRows)
  }

  /** THE escalate-until-stable radius loop — ONE definition shared by the
    * point path ([[rangeSearchWithStatus]], multi-shard resumable scan) and
    * the distributed per-(query, shard) kernel ([[rangeOnSearcher]]) so the
    * exhaustiveness contract can never drift between them. `round(kk, l)`
    * returns the current top-kk by report distance under exploration bound
    * l; `coverRows` is the row count a drained round (hits < kk) must have
    * provably covered for a cap-boundary exit to stay confirmed. */
  private[graft] def escalateRadius(round: (Int, Int) => Seq[(Long, Double)],
      radius: Double, searchListSize: Int, maxResults: Int,
      coverRows: => Long): (Seq[(Long, Double)], Boolean) = {
    var kk = math.max(1, math.min(64, maxResults))
    var l = math.max(searchListSize, kk)
    var prevInRadius: Option[Set[Long]] = None
    var out: Seq[(Long, Double)] = null
    var confirmed = true
    while (out == null) {
      val hits = round(kk, l)
      val inRadius = hits.filter(_._2 <= radius)
      val cleared = hits.length < kk || hits.lastOption.forall(_._2 > radius)
      // stable-exit FIRST: a set confirmed at the cap boundary is still
      // confirmed; only an exit FORCED by the cap is unconfirmed
      if (cleared && prevInRadius.contains(inRadius.map(_._1).toSet))
        out = inRadius.take(maxResults)
      else if (kk >= maxResults) {
        // cap exit confirms iff the exploration bound provably covered the
        // corpus: with kk >= coverRows (and L >= kk), either the traversal
        // drained (hits < kk — frontier exhausted) or it returned kk >=
        // coverRows rows, i.e. every row there is; both are complete. A
        // drained look under a SMALLER kk stays unconfirmed — heavy
        // tombstone/label filtering can drain a truncated traversal whose
        // eligible survivors just happen to be few.
        confirmed = kk >= coverRows
        out = inRadius.take(maxResults)
      } else {
        prevInRadius =
          if (cleared) Some(inRadius.map(_._1).toSet) else None
        kk = math.min(maxResults, kk * 4)
        l = math.max(l * 4, kk)
      }
    }
    (out, confirmed)
  }

  def openResumableScan(spark: SparkSession, path0: String,
      qvec: Array[Float], qlabels: Array[Short],
      tombstones: Set[Long] = Set.empty,
      metrics: Option[SearchMetrics] = None,
      nProbe: Int = 0,
      /** when set, apply SOUND radius shard pruning ([[radiusShardsFor]])
        * for this report-distance radius — computed from the SAME meta this
        * scan resolves, so routing and radii can never straddle a
        * generation swap; None = no pruning */
      radiusPrune: Option[Double] = None): Option[ResumableScanHandle] = {
    val path = resolveRoot(spark, path0)
    val meta = loadMeta(spark, path)
    val metric = Metric(meta.metric)
    val routed: Seq[Int] =
      probeShardsFor(meta, metric, qvec, nProbe)
        .map(_.toSeq.sorted).getOrElse(0 until meta.numShards)
    // graft.knn.range.shardPrune=false is the ops escape hatch (and the
    // measurement baseline for RangeProbe) — pruning is sound, so turning
    // it off can only cost time, never change results
    val pruneOn =
      spark.conf.get("graft.knn.range.shardPrune", "true").toBoolean
    val needed: Seq[Int] =
      radiusPrune.filter(_ => pruneOn)
        .flatMap(r => radiusShardsFor(meta, metric, qvec, r)) match {
        case Some(f) => val keep = f.toSet; routed.filter(keep)
        case None => routed
      }
    val searchers = needed.map(sh => warmSearcher(path0, path, meta, sh))
    if (searchers.exists(_.isEmpty)) None
    else {
      val report = reportDistFn(metric)
      val nq = Option(qlabels).map(l => LabelSets.normalize(l.clone())).orNull
      val handles = searchers.map { s =>
        val st = new SearchStats
        (s.get.resumable(qvec, nq, rid => tombstones.contains(rid), report, st), st)
      }
      Some(new ResumableScanHandle(handles, metrics))
    }
  }

  /**
   * Fully distributed ANN search for LARGE query sets — the offline
   * "find neighbors for every row" workload where the query table itself has
   * millions of rows and collecting/broadcasting it (as [[search]] does for
   * online batches) would not scale.
   *
   * Nothing touches the driver except the tiny `_meta` (centroids): queries
   * keep their rows distributed, each is routed to its probe shards with the
   * broadcast centroid table (IVF + nProbe) or fanned to every shard (hash),
   * and a `cogroup` on the shard key co-locates each whole shard with its
   * query group in one task — per-shard searchers come from the same
   * executor cache as the online path. Cost shape at 100 TB: one shuffle of
   * the (pruned) nodes table + one shuffle of queries×nProbe, then a final
   * per-query top-k merge; bucketing the nodes table by shard would remove
   * the nodes shuffle entirely.
   */
  def searchDistributed(spark: SparkSession, path0: String, queries: DataFrame,
      k: Int, searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty, nProbe: Int = 0): DataFrame = {
    val path = resolveRoot(spark, path0)
    val meta = loadMeta(spark, path)
    val metric = Metric(meta.metric)
    val model = meta.sbqModel
    val report = reportDistFn(metric)
    val shardIds = meta.shardBuildIds
    val cachePath = path0
    val numShards = meta.numShards
    val dimsToIndex = meta.dimsToIndex
    val hasLabels = meta.hasLabels
    val tombBc = spark.sparkContext.broadcast(tombstones)

    // per-query probe-shard assignment, executor-side over broadcast centroids
    val routed = meta.partitioner == "ivf" && nProbe > 0 &&
      nProbe < numShards && meta.centroids.nonEmpty
    val centBc = spark.sparkContext.broadcast(meta.centroids)
    val probeShards = udf((qv: mutable.Seq[Float]) =>
      if (!routed) (0 until numShards).toArray
      else {
        val raw = Option(qv).map(_.toArray)
          .getOrElse(new Array[Float](centBc.value(0).length))
        val bv = BuildSpace(raw, dimsToIndex, metric)
        graft.operators.Similarity.IvfModel(centBc.value).nearest(bv, nProbe)
      })
    val hasQLabels = queries.columns.contains("qlabels")
    // explode_outer: a plain explode would make InferFiltersFromGenerate
    // synthesize size(probeShards(qvec))>0 and re-invoke the routing UDF
    // (normalize + full centroid scan) once per conjunct per query row
    val q2 = queries.select(col("qid"), col("qvec"),
      (if (hasQLabels) col("qlabels")
       else lit(null).cast(ArrayType(ShortType))).as("qlabels"),
      explode_outer(probeShards(col("qvec"))).as("shard"))
      .filter(col("shard").isNotNull)

    // only shards that received at least one query are read at all (the ids
    // are tiny — numShards ints at most — so this driver hop is free)
    val neededShards: Seq[Int] =
      if (routed) q2.select("shard").distinct().collect().map(_.getInt(0)).sorted.toSeq
      else 0 until numShards
    import spark.implicits._
    // an empty (routed) query batch routes nowhere — zero buckets would
    // make the zip partitioner degenerate, so short-circuit
    if (neededShards.isEmpty)
      return spark.emptyDataset[(Long, Long, Double)]
        .toDF("qid", "row_id", "dist")
    def answerShard(shard: Int, nodeRows: () => Array[Row],
        qs: Array[Row]): Iterator[(Long, Long, Double)] = {
      val searcher = GraphSearcher.getOrBuild(
        s"$cachePath#$shard#${shardIds(shard)}",
        () => buildShardSearcher(path, shard, nodeRows(), metric, model,
          hasLabels, dimsToIndex))
      val tomb = tombBc.value
      qs.iterator.flatMap { r =>
        val qid = r.getAs[Long]("qid")
        val qvec = Option(r.getAs[mutable.Seq[Float]]("qvec")).map(_.toArray).orNull
        val qlabels = Option(r.getAs[mutable.Seq[Short]]("qlabels"))
          .map(s => LabelSets.normalize(s.toArray)).orNull
        searcher.search(qvec, k, searchListSize, rescore, qlabels,
          rid => tomb.contains(rid), report)
          .take(k).iterator.map { case (rid, d) => (qid, rid, d) }
      }
    }
    // Co-location WITHOUT shuffling the index, at ANY shard count: the
    // shard-aligned scan is one coalesced task per shard BUCKET (same
    // pruned-scan mechanism as the online path), so zipping it against
    // queries hash-partitioned to the matching partition index moves ONLY
    // the query rows — the 100 TB nodes table never crosses the wire, and a
    // warm executor cache means the unconsumed node iterator skips the
    // decode entirely. The only cost that grows with shard count is DRIVER
    // planning (one tiny pruned-scan plan per bucket, single-digit ms each
    // — the "bucketed by shard directory" equivalent of a bucketed-table
    // join, without a metastore); past `graft.search.zipMaxShards`
    // (default 4096) buckets start holding MULTIPLE whole shards, capping
    // the plan-branch count while keeping the nodes side shuffle-free —
    // the round-4 cogroup fallback (which shuffled the nodes table past
    // the cap) is gone.
    val zipMaxShards =
      spark.conf.get("graft.search.zipMaxShards", "4096").toInt
    val partial: org.apache.spark.rdd.RDD[(Long, Long, Double)] = {
      val bucketSize = math.max(1,
        math.ceil(neededShards.length.toDouble / zipMaxShards).toInt)
      val buckets: IndexedSeq[Seq[Int]] =
        neededShards.grouped(bucketSize).toIndexedSeq
      val nBuckets = buckets.length
      val bucketIndex: Map[Int, Int] = buckets.zipWithIndex
        .flatMap { case (ss, b) => ss.map(_ -> b) }.toMap
      // one pruned coalesced scan per BUCKET; contiguous shard ranges keep
      // each branch's directory listing local. bucketSize == 1 is exactly
      // the round-4 per-shard zip.
      val nodesRdd =
        zipNodesRdd(spark, path0, path, meta, neededShards, buckets, bucketSize)
      val byBucket = new org.apache.spark.Partitioner {
        override def numPartitions: Int = nBuckets
        override def getPartition(key: Any): Int =
          bucketIndex(key.asInstanceOf[Int])
      }
      val qRdd = q2.rdd.map(r => (r.getAs[Int]("shard"), r))
        .partitionBy(byBucket).values
      // zip alignment rests on coalesce(1) yielding exactly ONE partition
      // even for an EMPTY shard directory (unused IVF centroid) — true on
      // Spark 4.x via CoalesceExec.EmptyRDDWithPartitions. If a Spark
      // upgrade ever changes that, fail with the invariant's name instead
      // of zipPartitions' opaque "unequal number of partitions".
      require(nodesRdd.getNumPartitions == nBuckets,
        s"nodes RDD has ${nodesRdd.getNumPartitions} partitions, expected " +
          s"$nBuckets (one per shard bucket; empty-shard coalesce(1) must " +
          "still yield one partition)")
      require(qRdd.getNumPartitions == nBuckets,
        s"query RDD has ${qRdd.getNumPartitions} partitions, expected $nBuckets")
      val bIdxBc = spark.sparkContext.broadcast(bucketIndex)
      val resRdd = nodesRdd.zipPartitions(qRdd) { (nodeIt, qIt) =>
        val qs = qIt.toArray
        if (qs.isEmpty) Iterator.empty
        else {
          // materialized on the FIRST cache miss only: a bucket whose every
          // shard is warm in this JVM never reads its node iterator at all
          lazy val nodeByShard: Map[Int, Array[Row]] = {
            val arr = nodeIt.toArray
            // partition alignment is by construction; fail fast if it
            // breaks (an EMPTY shard — unused IVF centroid — is legal and
            // builds an empty searcher)
            val expected = bIdxBc.value(qs(0).getAs[Int]("shard"))
            require(arr.isEmpty ||
              bIdxBc.value(arr(0).getAs[Int]("shard")) == expected,
              s"nodes partition misaligned with query bucket $expected")
            arr.groupBy(_.getAs[Int]("shard"))
          }
          qs.groupBy(_.getAs[Int]("shard")).iterator
            .flatMap { case (shard, shardQs) =>
              answerShard(shard,
                () => nodeByShard.getOrElse(shard, Array.empty), shardQs)
            }
        }
      }
      resRdd
    }

    // final per-query top-k as a MERGEABLE bounded aggregation: map-side
    // combine caps each task's contribution at k rows per query BEFORE the
    // shuffle, so only ~k rows per query cross the wire instead of the
    // nProbe×k per-shard candidates a window row_number merge would shuffle
    // (and there is no sort). Same (dist, row_id) tie-break, the SAME
    // TopKAggregator insert kernel — but run as an RDD aggregateByKey
    // (round 16): the typed groupByKey().agg() form re-paid two Catalyst
    // QueryExecutions plus an AQE stage-materialization round of pure
    // driver overhead on EVERY query, while the RDD form plans nothing and
    // shuffles the identical ≤k-rows-per-(query,task) combiner output.
    val agg = new graft.operators.Similarity.TopKAggregator(k)
    val merged = partial
      .map { case (qid, rid, d) => (qid, (rid, d)) }
      .aggregateByKey(agg.zero)(
        (st, v) => agg.reduce(st, v), (a, b) => agg.merge(a, b))
      .flatMap { case (qid, st) =>
        st.ids.indices.iterator.map(i => Row(qid, st.ids(i), st.dists(i))) }
    spark.createDataFrame(merged, ResultSchema)
  }

  /**
   * Shard-LOCAL radius search: the escalate-until-stable exhaustiveness
   * loop of [[rangeSearchWithStatus]] applied to ONE searcher. Because a
   * row lives in exactly one shard, per-shard exhaustiveness composes: the
   * union of confirmed shard answers IS the confirmed global answer — the
   * property that lets [[rangeSearchDistributed]] run the radius shape
   * over millions of queries with no cross-shard coordination. Returns
   * (in-radius hits, confirmed); `confirmed = false` only when the
   * maxResults cap forced an exit before the in-radius set stabilized.
   */
  private def rangeOnSearcher(searcher: GraphSearcher, qvec: Array[Float],
      qlabels: Array[Short], radius: Double, searchListSize: Int,
      rescore: Int, maxResults: Int, tombstoned: Long => Boolean,
      report: (Array[Float], Array[Float]) => Double): (Seq[(Long, Double)], Boolean) = {
    val rs = searcher.resumable(qvec, qlabels, tombstoned, report)
    escalateRadius(
      (kk, l) => rs.advance(kk, math.max(l, kk), math.max(rescore, l)).toSeq,
      radius, searchListSize, maxResults, searcher.n)
  }

  /**
   * Fully distributed RADIUS search for LARGE query sets — the offline
   * "every row's in-radius matches" workload (positive-pair mining,
   * duplicate sweeps at a distance threshold), the radius twin of
   * [[searchDistributed]]. Same co-location kernel (zip-partitioned
   * pruned shard scans, warm executor searchers, the nodes table never
   * shuffles); per (query, shard) the answer comes from the shard-local
   * escalate-until-stable loop ([[rangeOnSearcher]]), whose per-shard
   * confirmations compose into global exhaustiveness because every row
   * lives in exactly one shard. Routing uses the SOUND triangle-inequality
   * prune over broadcast (centroids, radii) when stored — per query only
   * the shards whose cluster ball can intersect the query ball are
   * visited; hash/unknown-radii indexes fan to every shard.
   *
   * Truncation is LOUD, never silent: a (query, shard) pair whose
   * in-radius set could not be confirmed under `maxResults` (per shard)
   * fails the job with the cap's name unless `strict = false`, which
   * keeps the possibly-partial rows instead. Output: (qid, row_id, dist),
   * exactly one row per in-radius match.
   */
  def rangeSearchDistributed(spark: SparkSession, path0: String,
      queries: DataFrame, radius: Double, searchListSize: Int = 100,
      rescore: Int = 50, tombstones: Set[Long] = Set.empty,
      maxResults: Int = 65536, strict: Boolean = true): DataFrame = {
    val path = resolveRoot(spark, path0)
    val meta = loadMeta(spark, path)
    val metric = Metric(meta.metric)
    val model = meta.sbqModel
    val report = reportDistFn(metric)
    val shardIds = meta.shardBuildIds
    val cachePath = path0
    val numShards = meta.numShards
    val dimsToIndex = meta.dimsToIndex
    val hasLabels = meta.hasLabels
    val tombBc = spark.sparkContext.broadcast(tombstones)
    val metaBc = spark.sparkContext.broadcast(meta)

    // per-query shard routing, executor-side: the same sound prune as the
    // point path ([[radiusShardsFor]]) over the broadcast meta — soundness
    // means a pruned-away shard provably holds nothing within the radius,
    // so routing can never truncate the answer
    val pruneOn =
      spark.conf.get("graft.knn.range.shardPrune", "true").toBoolean
    val met = metric
    val probeShards = udf((qv: mutable.Seq[Float]) => {
      val m = metaBc.value
      val raw = Option(qv).map(_.toArray)
        .getOrElse(new Array[Float](
          if (m.centroids.nonEmpty) m.centroids(0).length else 1))
      (if (pruneOn) radiusShardsFor(m, met, raw, radius) else None)
        .getOrElse((0 until m.numShards).toArray)
    })
    val hasQLabels = queries.columns.contains("qlabels")
    val q2 = queries.select(col("qid"), col("qvec"),
      (if (hasQLabels) col("qlabels")
       else lit(null).cast(ArrayType(ShortType))).as("qlabels"),
      explode_outer(probeShards(col("qvec"))).as("shard"))
      .filter(col("shard").isNotNull)

    val neededShards: Seq[Int] =
      if (meta.partitioner == "ivf" && pruneOn &&
          meta.shardRadii.length == numShards)
        q2.select("shard").distinct().collect().map(_.getInt(0)).sorted.toSeq
      else 0 until numShards
    import spark.implicits._
    // an empty query batch routes nowhere — zero buckets would make the
    // zip partitioner degenerate, so short-circuit the empty result
    if (neededShards.isEmpty)
      return spark.emptyDataset[(Long, Long, Double)]
        .toDF("qid", "row_id", "dist")
    val sl = searchListSize
    val rc = rescore
    val mr = maxResults
    val strictOn = strict
    def answerShard(shard: Int, nodeRows: () => Array[Row],
        qs: Array[Row]): Iterator[(Long, Long, Double)] = {
      val searcher = GraphSearcher.getOrBuild(
        s"$cachePath#$shard#${shardIds(shard)}",
        () => buildShardSearcher(path, shard, nodeRows(), metric, model,
          hasLabels, dimsToIndex))
      val tomb = tombBc.value
      qs.iterator.flatMap { r =>
        val qid = r.getAs[Long]("qid")
        val qvec = Option(r.getAs[mutable.Seq[Float]]("qvec")).map(_.toArray).orNull
        val qlabels = Option(r.getAs[mutable.Seq[Short]]("qlabels"))
          .map(s => LabelSets.normalize(s.toArray)).orNull
        val (hits, confirmed) = rangeOnSearcher(searcher, qvec, qlabels,
          radius, sl, rc, mr, rid => tomb.contains(rid), report)
        if (!confirmed && strictOn)
          throw new IllegalStateException(
            s"rangeSearchDistributed: query $qid shard $shard hit the " +
              s"graft maxResults cap ($mr) before its in-radius set " +
              "stabilized — raise maxResults, or pass strict=false to " +
              "keep possibly-partial rows")
        hits.iterator.map { case (rid, d) => (qid, rid, d) }
      }
    }
    // same bucketed zip co-location as searchDistributed: nodes never
    // shuffle, only the (pruned) query fan-out does
    val zipMaxShards =
      spark.conf.get("graft.search.zipMaxShards", "4096").toInt
    val bucketSize = math.max(1,
      math.ceil(neededShards.length.toDouble / zipMaxShards).toInt)
    val buckets: IndexedSeq[Seq[Int]] =
      neededShards.grouped(bucketSize).toIndexedSeq
    val nBuckets = buckets.length
    val bucketIndex: Map[Int, Int] = buckets.zipWithIndex
      .flatMap { case (ss, b) => ss.map(_ -> b) }.toMap
    val nodesRdd =
      zipNodesRdd(spark, path0, path, meta, neededShards, buckets, bucketSize)
    val byBucket = new org.apache.spark.Partitioner {
      override def numPartitions: Int = nBuckets
      override def getPartition(key: Any): Int =
        bucketIndex(key.asInstanceOf[Int])
    }
    val qRdd = q2.rdd.map(r => (r.getAs[Int]("shard"), r))
      .partitionBy(byBucket).values
    require(nodesRdd.getNumPartitions == nBuckets,
      s"nodes RDD has ${nodesRdd.getNumPartitions} partitions, expected $nBuckets")
    require(qRdd.getNumPartitions == nBuckets,
      s"query RDD has ${qRdd.getNumPartitions} partitions, expected $nBuckets")
    val bIdxBc = spark.sparkContext.broadcast(bucketIndex)
    val resRdd = nodesRdd.zipPartitions(qRdd) { (nodeIt, qIt) =>
      val qs = qIt.toArray
      if (qs.isEmpty) Iterator.empty
      else {
        lazy val nodeByShard: Map[Int, Array[Row]] = {
          val arr = nodeIt.toArray
          val expected = bIdxBc.value(qs(0).getAs[Int]("shard"))
          require(arr.isEmpty ||
            bIdxBc.value(arr(0).getAs[Int]("shard")) == expected,
            s"nodes partition misaligned with query bucket $expected")
          arr.groupBy(_.getAs[Int]("shard"))
        }
        qs.groupBy(_.getAs[Int]("shard")).iterator
          .flatMap { case (shard, shardQs) =>
            answerShard(shard,
              () => nodeByShard.getOrElse(shard, Array.empty), shardQs)
          }
      }
    }
    // a row lives in exactly one shard: no cross-shard duplicates, no merge
    spark.createDataset(resRdd).toDF("qid", "row_id", "dist")
  }

  /**
   * [[rangeSearchDistributed]] + delta freshness, the radius twin of
   * [[searchDistributedFresh]]: `delta` (row_id, vec [, labels]) is
   * collected once ([[collectDelta]]) and every query partition adds an
   * exact radius pass over a broadcast of it ([[deltaMapSide]]). A row
   * transiently in both main and delta (compact mid-flight) appears once.
   */
  def rangeSearchDistributedFresh(spark: SparkSession, path0: String,
      queries: DataFrame, delta: DataFrame, radius: Double,
      searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty, maxResults: Int = 65536,
      strict: Boolean = true): DataFrame =
    rangeSearchDistributedWithRows(spark, path0, queries,
      collectDelta(spark, delta, "rangeSearchDistributedFresh"), radius,
      searchListSize, rescore, tombstones, maxResults, strict)

  /** [[rangeSearchDistributedFresh]] over delta rows read before this call
    * resolves the generation (the race-with-compact invariant). */
  private[graft] def rangeSearchDistributedWithRows(spark: SparkSession,
      path0: String, queries: DataFrame, rows: Array[DeltaRow],
      radius: Double, searchListSize: Int, rescore: Int,
      tombstones: Set[Long], maxResults: Int, strict: Boolean): DataFrame = {
    val main = rangeSearchDistributed(spark, path0, queries, radius,
      searchListSize, rescore, tombstones, maxResults, strict)
    if (rows.isEmpty) main
    else mergeFrames(spark, main, deltaMapSide(spark, rows, queryRdd(queries),
      Int.MaxValue, Some(radius), tombstones, reportOf(spark, path0)),
      Int.MaxValue)
  }

  /**
   * Search main index + an unindexed delta (micro-batch appends, §3.3 / G9):
   * `delta` (row_id, vec [, labels]) is collected once ([[collectDelta]]),
   * answered by exact brute force and merged into the final top-k.
   */
  def searchWithDelta(spark: SparkSession, path: String, queries: DataFrame,
      delta: DataFrame, k: Int, searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty,
      metrics: Option[SearchMetrics] = None, nProbe: Int = 0): DataFrame =
    searchWithRows(spark, path, queries,
      collectDelta(spark, delta, "searchWithDelta"), k, searchListSize,
      rescore, tombstones, metrics, nProbe)

  /** [[searchWithDelta]] over delta rows read before this call resolves the
    * generation. Up to [[MaxWarmBatch]] queries score the delta on the
    * driver, and with every probed shard warm the whole answer is a local
    * relation merged there; larger sets score it map-side. */
  private[graft] def searchWithRows(spark: SparkSession, path0: String,
      queries: DataFrame, rows: Array[DeltaRow], k: Int, searchListSize: Int,
      rescore: Int, tombstones: Set[Long], metrics: Option[SearchMetrics],
      nProbe: Int): DataFrame = {
    val qRows = queryRows(queries)
    val plan = planSearch(spark, path0, qRows, nProbe)
    def main = searchRows(spark, path0, plan, qRows, k, searchListSize,
      rescore, tombstones, metrics)
    if (rows.isEmpty) return main
    val report = reportDistFn(Metric(plan.meta.metric))
    def onDriver = deltaOnDriver(rows, qRows, k, None, tombstones, report)
    searchWarm(path0, plan, qRows, k, searchListSize, rescore, tombstones,
      metrics) match {
      case Some(warm) => localDf(spark, mergeByQuery(warm ++ onDriver, k))
      case None =>
        val deltaHits =
          if (qRows.length <= MaxWarmBatch)
            spark.sparkContext.parallelize(onDriver, 1)
          else deltaMapSide(spark, rows, spark.sparkContext.parallelize(qRows),
            k, None, tombstones, report)
        mergeFrames(spark, main, deltaHits, k)
    }
  }

  /** Score one delta row against one query — THE definition of the
    * delta-side semantics, shared by every fresh path (top-k and radius,
    * point, online and batch) so they can never drift: a tombstoned or
    * null-vector row never matches; a labeled query matches only rows whose
    * labels overlap it, so an unlabeled delta row (null `lbs` = the delta
    * has no labels column) never matches a labeled query; a null query
    * vector searches the zero vector (labels/mod.rs:214-216). `lbs` and
    * `ql` must already be normalized. Returns the REPORT distance. */
  private def deltaScore(rid: Long, v: Array[Float],
      lbs: Array[Short], qv0: Array[Float], ql: Array[Short],
      tombstoned: Long => Boolean,
      report: (Array[Float], Array[Float]) => Double): Option[Double] =
    if (tombstoned(rid) || v == null) None
    else if (!(ql == null || (lbs != null && LabelSets.overlaps(lbs, ql))))
      None
    else Some(report(v, if (qv0 == null) new Array[Float](v.length) else qv0))

  /** The delta rows query `q` (labels normalized) sees, as (qid, row_id,
    * dist) under [[deltaScore]]: its k best, or with `radius` every one
    * within it (k = Int.MaxValue), each row_id once at its minimum distance
    * ([[TopK]]: a replayed micro-batch appends a row twice). */
  private def scoreDelta(rows: Array[DeltaRow],
      q: (Long, Array[Float], Array[Short]), k: Int, radius: Option[Double],
      tomb: Set[Long],
      report: (Array[Float], Array[Float]) => Double): Seq[(Long, Long, Double)] = {
    val top = new TopK(k)
    val dead: Long => Boolean = tomb.contains
    rows.foreach { case (rid, v, lbs) =>
      deltaScore(rid, v, lbs, q._2, q._3, dead, report)
        .foreach(d => if (radius.forall(d <= _)) top.add((rid, d)))
    }
    top.result.map { case (rid, d) => (q._1, rid, d) }
  }

  /** The driver's delta scorer: [[scoreDelta]] for each of `qRows`, one
    * query per core. */
  private[graft] def deltaOnDriver(rows: Array[DeltaRow],
      qRows: Seq[(Long, Array[Float], Array[Short])], k: Int,
      radius: Option[Double], tomb: Set[Long],
      report: (Array[Float], Array[Float]) => Double): Seq[(Long, Long, Double)] = {
    import scala.collection.parallel.CollectionConverters._
    if (qRows.length <= 1)
      qRows.flatMap(scoreDelta(rows, _, k, radius, tomb, report))
    else qRows.par.flatMap(scoreDelta(rows, _, k, radius, tomb, report)).seq
  }

  /** The map-side delta scorer: [[scoreDelta]] for each of `queries`
    * against a broadcast of `rows`. */
  private def deltaMapSide(spark: SparkSession, rows: Array[DeltaRow],
      queries: org.apache.spark.rdd.RDD[(Long, Array[Float], Array[Short])],
      k: Int, radius: Option[Double], tomb: Set[Long],
      report: (Array[Float], Array[Float]) => Double)
      : org.apache.spark.rdd.RDD[(Long, Long, Double)] = {
    val dBc = spark.sparkContext.broadcast(rows)
    val tombBc = spark.sparkContext.broadcast(tomb)
    queries.mapPartitions(_.flatMap(
      scoreDelta(dBc.value, _, k, radius, tombBc.value, report)))
  }

  /** Per qid, `main`'s (qid, row_id, dist) rows and `delta`'s under
    * [[TopK]]: the k best, each row_id once at its minimum distance. */
  private def mergeFrames(spark: SparkSession, main: DataFrame,
      delta: org.apache.spark.rdd.RDD[(Long, Long, Double)], k: Int): DataFrame = {
    val merged = main.rdd.map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .union(delta.map { case (qid, rid, d) => (qid, (rid, d)) })
      .aggregateByKey(new TopK(k))((top, h) => { top.add(h); top },
        (a, b) => { b.result.foreach(a.add); a })
      .flatMap { case (qid, top) =>
        top.result.iterator.map { case (rid, d) => Row(qid, rid, d) } }
    spark.createDataFrame(merged, ResultSchema)
  }

  /** The report distance of `path0`'s current generation. */
  private[graft] def reportOf(spark: SparkSession,
      path0: String): (Array[Float], Array[Float]) => Double =
    reportDistFn(Metric(loadMeta(spark, path0).metric))

  /** A (row_id, vec [, labels]) delta frame as driver rows for
    * [[deltaScore]], the same rows [[WriteOnceFiles.deltaRows]] decodes:
    * null-vector rows (which never match) dropped, labels normalized.
    * Enforced, not advisory (the knnGraph guard discipline): the limit caps
    * what can reach the driver, and one extra row proves oversize and fails
    * by the knob's name. */
  private[graft] def collectDelta(spark: SparkSession, delta: DataFrame,
      caller: String): Array[DeltaRow] = {
    val hasLabels = delta.columns.contains("labels")
    val collected = delta.filter(col("vec").isNotNull)
      .limit(maxDeltaRows(spark) + 1).collect()
    requireDeltaFits(spark, caller, collected.length)
    collected.map { r =>
      (r.getAs[Long]("row_id"), r.getAs[mutable.Seq[Float]]("vec").toArray,
        if (hasLabels) LabelSets.normalize(
          Option(r.getAs[mutable.Seq[Short]]("labels")).map(_.toArray).orNull)
        else null)
    }
  }

  /** Fail by the knob's name when `rows` pending delta rows exceed
    * `graft.delta.maxBroadcastRows`. */
  private[graft] def requireDeltaFits(spark: SparkSession, caller: String,
      rows: Long): Unit = {
    val cap = maxDeltaRows(spark)
    require(rows <= cap,
      s"$caller: pending delta exceeds graft.delta.maxBroadcastRows " +
        s"($cap) — the fresh paths hold the delta on the driver (the batch " +
        "ones broadcast it), which the compaction contract keeps small; " +
        "fold it with StreamingIngest.compact or maybeCompact (or enable " +
        "autoCompact), or raise the knob if the driver can hold it")
  }

  private[graft] def maxDeltaRows(spark: SparkSession): Int =
    spark.conf.get("graft.delta.maxBroadcastRows", "2000000").toInt

  /**
   * [[searchDistributed]] + delta freshness — the offline BATCH twin of
   * [[searchWithDelta]], closing the freshness gap where a large offline
   * job had to run `compact()` first to see recent appends. The query table
   * is the big side and stays distributed; the delta — small versus the
   * index by the compaction contract — collects once ([[collectDelta]]) and
   * BROADCASTS, and every query partition scores it map-side
   * ([[deltaMapSide]]). The only added wide op is the final per-query
   * re-merge ([[mergeFrames]]). A delta too large to broadcast is the
   * signal to compact, not to distribute this differently.
   */
  def searchDistributedFresh(spark: SparkSession, path0: String,
      queries: DataFrame, delta: DataFrame, k: Int,
      searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty, nProbe: Int = 0): DataFrame =
    searchDistributedWithRows(spark, path0, queries,
      collectDelta(spark, delta, "searchDistributedFresh"), k,
      searchListSize, rescore, tombstones, nProbe)

  /** [[searchDistributedFresh]] over delta rows read before this call
    * resolves the generation (the race-with-compact invariant: a compact
    * landing after the read moves these rows into the generation the main
    * search then resolves, where they collapse with their delta copies). */
  private[graft] def searchDistributedWithRows(spark: SparkSession,
      path0: String, queries: DataFrame, rows: Array[DeltaRow], k: Int,
      searchListSize: Int, rescore: Int, tombstones: Set[Long],
      nProbe: Int): DataFrame = {
    val main = searchDistributed(spark, path0, queries, k, searchListSize,
      rescore, tombstones, nProbe)
    if (rows.isEmpty) main
    else mergeFrames(spark, main, deltaMapSide(spark, rows, queryRdd(queries),
      k, None, tombstones, reportOf(spark, path0)), k)
  }

  /** Index introspection (V2, vacuum.rs:138-157 page-count analog): size and
    * degree statistics computed with a single distributed aggregation. */
  case class IndexStats(numRows: Long, numShards: Int, numEdges: Long,
      avgDegree: Double, maxDegree: Int, metric: String, storage: String,
      bitsPerDim: Int)

  def stats(spark: SparkSession, path0: String): IndexStats = {
    val path = resolveRoot(spark, path0)
    val meta = loadMeta(spark, path)
    val row = nodesDf(spark, path, meta, 0 until meta.numShards)
      .agg(count(lit(1)).as("n"), sum(size(col("neighbors"))).as("edges"),
        max(size(col("neighbors"))).as("maxdeg"))
      .head()
    val n = row.getLong(0)
    val edges = row.getLong(1)
    IndexStats(n, meta.numShards, edges,
      if (n == 0) 0.0 else edges.toDouble / n, row.getInt(2),
      meta.metric, meta.storage, meta.bitsPerDim)
  }

  /** Debug graph dump in DOT format (V6, graph/mod.rs:535-635 /
    * debugging.rs:12-50): one shard, capped at `maxNodes` nodes. Dev-only. */
  def toDot(spark: SparkSession, path0: String, shard: Int = 0,
      maxNodes: Int = 200): String = {
    val path = resolveRoot(spark, path0)
    val rows = nodesDf(spark, path, loadMetaAt(spark, path), Seq(shard))
      .filter(col("node") < maxNodes)
      .select(col("node"), col("row_id"), col("neighbors"))
      .collect()
      .sortBy(_.getInt(0))
    val sb = new StringBuilder(s"digraph shard$shard {\n")
    rows.foreach { r =>
      val node = r.getInt(0)
      sb.append(s"""  n$node [label="${r.getLong(1)}"];\n""")
      r.getAs[mutable.Seq[Int]](2).foreach { t =>
        if (t < maxNodes) sb.append(s"  n$node -> n$t;\n")
      }
    }
    sb.append("}\n").toString
  }

  /** Graph-connectivity check (V6 / §4.3 gate 3a, build.rs:1717-1753): BFS
    * from each shard's start node over its adjacency, summed across shards.
    * Distributed: each shard's BFS runs inside its own task; only one count
    * per shard crosses the wire. A healthy index returns `numRows`. */
  def reachableCount(spark: SparkSession, path0: String): Long = {
    import spark.implicits._
    val path = resolveRoot(spark, path0)
    val meta = loadMetaAt(spark, path)
    nodesDf(spark, path, meta, 0 until meta.numShards)
      .select(col("shard"), col("node"), col("neighbors"))
      .groupByKey(_.getAs[Int]("shard"))
      .mapGroups { (_, it) =>
        val adj = mutable.Map.empty[Int, Array[Int]]
        it.foreach(r => adj(r.getAs[Int]("node")) = r.getAs[mutable.Seq[Int]]("neighbors").toArray)
        val seen = mutable.BitSet(0)
        val queue = mutable.Queue(0)
        while (queue.nonEmpty) {
          adj.getOrElse(queue.dequeue(), Array.emptyIntArray).foreach { t =>
            if (seen.add(t)) queue.enqueue(t)
          }
        }
        seen.size.toLong
      }
      .reduce(_ + _)
  }

  /**
   * The built Vamana graph as a row-id edge list `(src: long, dst: long)` —
   * "the graph IS the index" (reference: the neighbor lists of
   * graph/mod.rs:212-266 are the whole data structure). This is the 100 TB
   * input for the link-analysis operators ([[graft.operators.GraphOps]]):
   * instead of materializing a kNN graph with a quadratic join, reuse the
   * out-edges the index build already paid for.
   *
   * Shape: one explode + one equi-join on `(shard, node)` to translate
   * neighbor positions back to row ids — both sides are partition-pruned
   * scans of the same nodes table, no driver state, no broadcast of
   * anything corpus-sized. Edges are within-shard by construction (each
   * shard is an independent sub-graph), so the join never crosses shards.
   *
   * Reflects the COMPACTED graph: delta-appended rows (G9) have no
   * neighbor lists until compaction folds them in, and tombstoned rows
   * still carry their structural edges (they route traversal; callers
   * curating on rank should anti-join their own tombstone set).
   */
  def edges(spark: SparkSession, path0: String): DataFrame = {
    val path = resolveRoot(spark, path0)
    val meta = loadMetaAt(spark, path)
    val nodes = nodesDf(spark, path, meta, 0 until meta.numShards)
    val dstIds = nodes.select(col("shard"), col("node"),
      col("row_id").as("dst"))
    nodes.select(col("shard"), col("row_id").as("src"),
        explode(col("neighbors")).as("node"))
      .join(dstIds, Seq("shard", "node"))
      .select(col("src"), col("dst"))
  }
}

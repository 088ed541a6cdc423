package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{DiskannIndex, DiskannParams}

/**
 * Structured-Streaming ingestion for the vector engine (SURVEY.md §3.3 /
 * §2.5 G9): the Spark-native replacement for `aminsert`.
 *
 * Single-row transactional inserts are a Postgres concept; on Spark,
 * freshness comes from micro-batches. Each batch of new vectors is appended
 * to the index's `delta/` directory (cheap, no graph work); queries merge the
 * main graph search with an exact brute-force pass over the (small) delta via
 * [[DiskannIndex.searchWithDelta]]; a compaction job periodically folds the
 * delta into a rebuilt main graph — the same append-then-compact lifecycle
 * as any LSM-style Spark table format.
 */
object StreamingIngest {

  /** foreachBatch sink: append each micro-batch's (row_id, vec [, labels])
    * rows to the index delta directory. */
  def appendBatchToDelta(indexPath: String)(batch: DataFrame, batchId: Long): Unit = {
    // CONCURRENT-WRITER-SAFE append: two jobs appending to the same path
    // share the committer's `_temporary/0` staging dir, and one job's
    // commit-time cleanup deletes the other's in-flight task files (the
    // classic Spark concurrent-append hazard — single-writer-only). Delta
    // appends must tolerate multiple simultaneous ingest threads (the
    // reference's concurrent-inserts contract, test_concurrent_inserts.py),
    // so each batch writes to its OWN staging dir and installs by per-file
    // rename. A crash mid-install leaves a partial batch visible; the
    // foreachBatch replay re-appends it in full — duplicate row_ids, which
    // BOTH serving (main∪delta row_id collapse) and compaction
    // (dropDuplicates("row_id")) already fold, per the at-least-once
    // ingest contract.
    val spark = batch.sparkSession
    val (fs, root) = hadoopFs(spark, indexPath)
    // scrub staging dirs a DEAD writer abandoned: replays mint a fresh
    // random uid, so nothing else ever reclaims them. Age-gated against a
    // CREATION timestamp embedded in the dir NAME — dir modification time
    // is 0 on S3A listings and frozen on HDFS while tasks write under
    // _temporary/, so mtime gating would let one live writer scrub
    // another's in-flight staging. Anything older than the stale-lease
    // horizon is orphaned by the same argument that lets the lease be
    // stolen (a live staging write finishes in seconds, not an hour).
    // CLOCK-SKEW CONTRACT (shared with the lease-steal horizon): the
    // embedded timestamp is the CREATING writer's clock, the comparison
    // below uses the SCRUBBING writer's — cross-host skew greater than
    // lockTimeoutMs could classify a live peer's staging as stale. Two
    // defenses: the SETTLE RE-LIST below (a dir whose contents change
    // across a short settle window is a live writer, skewed clock or not —
    // skip it; it only re-qualifies if genuinely idle for the horizon),
    // and even past that the failure is loud, not silent (the victim's
    // rename into delta/ fails and the micro-batch replays under the
    // at-least-once contract). Deployments with unsynchronized clocks
    // should still raise graft.compact.lockTimeoutMs above their
    // worst-case skew.
    val staleMs =
      spark.conf.get("graft.compact.lockTimeoutMs", "3600000").toLong
    val bornRe = "_deltatmp_(\\d+)_.*".r
    def staleCandidates(): Array[org.apache.hadoop.fs.FileStatus] =
      try fs.listStatus(root)
        .filter(s => s.isDirectory && (s.getPath.getName match {
          case bornRe(ts) =>
            System.currentTimeMillis() - ts.toLong > staleMs
          case n => n.startsWith("_deltatmp_") // legacy unstamped: dead layout
        }))
      catch { case _: java.io.FileNotFoundException => Array.empty }
    val candidates = staleCandidates()
    if (candidates.nonEmpty) {
      // contents fingerprint, not mtime (frozen on HDFS, 0 on S3A dirs) —
      // and RECURSIVE: a live Spark write keeps all its activity under
      // `_temporary/.../` task dirs, so a top-level listing of the staging
      // dir looks identical before and after the settle and the live
      // writer would be scrubbed anyway. Depth is bounded by the
      // committer's fixed layout (~4 levels), file count by one batch.
      def snap(p: org.apache.hadoop.fs.Path): String = {
        def walk(q: org.apache.hadoop.fs.Path, prefix: String): Seq[String] =
          try fs.listStatus(q).toSeq.flatMap { s =>
            val name = s"$prefix${s.getPath.getName}"
            if (s.isDirectory) s"$name/" +: walk(s.getPath, s"$name/")
            else Seq(s"$name:${s.getLen}")
          } catch {
            case _: java.io.FileNotFoundException => Seq(s"$prefix<gone>")
          }
        walk(p, "").sorted.mkString("|")
      }
      val before = candidates.map(s => s.getPath -> snap(s.getPath)).toMap
      Thread.sleep(
        spark.conf.get("graft.compact.scrubSettleMs", "250").toLong)
      candidates.foreach { s =>
        val now = snap(s.getPath)
        // grew/changed during the settle => live writer; leave it alone
        if (now == before(s.getPath) && now != "<gone>")
          fs.delete(s.getPath, true)
      }
    }
    val uid =
      s"${System.currentTimeMillis()}_${java.util.UUID.randomUUID()}"
    val staging = new org.apache.hadoop.fs.Path(s"$indexPath/_deltatmp_$uid")
    batch.write.mode("overwrite").parquet(staging.toString)
    val dst = new org.apache.hadoop.fs.Path(s"$indexPath/delta")
    fs.mkdirs(dst)
    fs.listStatus(staging).foreach { s =>
      val name = s.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        if (!fs.rename(s.getPath,
            new org.apache.hadoop.fs.Path(dst, s"b${uid}_$name")))
          sys.error(s"delta install: rename ${s.getPath} failed")
    }
    fs.delete(staging, true)
  }

  /** Start a streaming query that feeds `stream` into the index delta.
    *
    * `autoCompact = true` runs the [[maybeCompact]] threshold check after
    * every micro-batch commit (the autovacuum analog, thresholds from
    * `graft.compact.maxDeltaRows` / `graft.compact.maxDeltaFrac`, defaults
    * 100000 / 0.1): ingest stays append-only and cheap until the delta
    * earns a fold, then the compact runs INSIDE the batch callback — ONE
    * writer by construction, no separate scheduler to race with. Compact
    * latency lands on that one micro-batch; run a dedicated compactor
    * instead when ingest latency must stay flat. */
  def startDeltaIngest(stream: DataFrame, indexPath: String,
      checkpoint: String,
      autoCompact: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatchToDelta(indexPath)(batch, batchId)
        if (autoCompact) {
          val spark = batch.sparkSession
          maybeCompact(spark, indexPath,
            spark.conf.get("graft.compact.maxDeltaRows", "100000").toLong,
            spark.conf.get("graft.compact.maxDeltaFrac", "0.1").toDouble)
          ()
        }
      }
      .start()

  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The delta's data files right now (Hadoop FS, so HDFS/S3 paths work the
    * same as local ones). */
  private[graft] def deltaFiles(spark: SparkSession,
      indexPath: String): Array[org.apache.hadoop.fs.Path] =
    graft.index.WriteOnceFiles.list(spark, s"$indexPath/delta").map(_.getPath)

  /** The index's own pending delta as driver rows, read through
    * [[graft.index.WriteOnceFiles.deltaRows]] (each write-once file decoded
    * once, on the driver, no Spark job); empty when no row is pending.
    * The delta's summed footer row count is checked against
    * `graft.delta.maxBroadcastRows` before any new file is decoded, failing
    * by `caller`'s name. Every fresh read path takes it BEFORE it resolves
    * the generation: a compaction landing in between moves the delta rows
    * INTO the generation the later resolve picks up, and a delta file it
    * consumed before its decode is skipped — so every row is visible on at
    * least one side, and the main∪delta row_id collapse removes doubles.
    * The reverse order can lose rows: old generation + deleted delta
    * files. */
  private def pendingDelta(spark: SparkSession, indexPath: String,
      caller: String): Array[graft.index.WriteOnceFiles.DeltaRow] =
    graft.index.WriteOnceFiles.deltaRows(spark, indexPath)(
      DiskannIndex.requireDeltaFits(spark, caller, _)).getOrElse(Array.empty)

  /** True iff un-compacted micro-batch appends are pending — the signal the
    * SQL-planned scan uses to route through the delta-merging search. */
  private[graft] def hasDelta(spark: SparkSession, indexPath: String): Boolean =
    deltaFiles(spark, indexPath).nonEmpty

  /** Pending-delta row count from parquet FOOTERS only — O(#files) driver
    * metadata, no data scan: bounds the residual scan's over-fetch
    * exhaustion cap (KnnStrategy) so a small delta exhausts in round 1
    * instead of escalating through the ladder just to discover the delta
    * was tiny. Snapshot semantics match the search's: a file consumed by a
    * concurrent compact mid-count contributes 0, and its rows re-appear in
    * the GENERATION row count the same caller reads (the compact moved
    * them into main); appends landing after the count are invisible to
    * this query's snapshot anyway. */
  // Per-file footer counts come from WriteOnceFiles, the memo every fresh
  // path decodes delta files into: warm, one LIST and no footer open. The
  // count feeds an EXHAUSTION bound, so only over-counting is safe: a
  // transiently unreadable footer (store throttle, listing race that isn't
  // a consume) makes the whole count a pessimistic "unknown" — one extra
  // escalation round, never a silently-missing row — and is never memoized
  // (the next call retries the read).
  private[graft] def deltaRowCount(spark: SparkSession, indexPath: String): Long =
    try graft.index.WriteOnceFiles.rowCount(spark, s"$indexPath/delta")
      .getOrElse(0L)
    catch { case _: java.io.IOException => Long.MaxValue / 4 }

  /** Search main graph + current delta (exact over the delta side).
    *
    * The delta is the driver rows of [[pendingDelta]], read before the
    * main generation resolves (its race-with-compact invariant), and
    * merged under [[DiskannIndex.searchWithDelta]]'s rule. Up to 128
    * queries score it on the driver; with every probed shard warm the
    * answer is then a local relation and starts no Spark job. A pending
    * delta above `graft.delta.maxBroadcastRows` fails by the knob's name. */
  def searchFresh(spark: SparkSession, indexPath: String, queries: DataFrame,
      k: Int, searchListSize: Int = 100, rescore: Int = 50,
      tombstones: Set[Long] = Set.empty,
      metrics: Option[DiskannIndex.SearchMetrics] = None,
      nProbe: Int = 0): DataFrame = {
    // the caller's ad-hoc set plus the durable registry: rows deleted via
    // [[DiskannIndex.deleteRows]] stay invisible here without the caller
    // having to thread the set through (scan.rs:229-235 visibility)
    val tombs = DiskannIndex.loadTombstones(spark, indexPath, tombstones)
    DiskannIndex.searchWithRows(spark, indexPath, queries,
      pendingDelta(spark, indexPath, "searchFresh"), k, searchListSize,
      rescore, tombs, metrics, nProbe)
  }

  /**
   * Freshness-aware twin of [[DiskannIndex.searchPoint]]: sees
   * delta-appended rows and masks tombstoned ones, with [[searchFresh]]'s
   * exact results. It runs no Spark job, also right after a write:
   * tombstones and delta rows come from [[graft.index.WriteOnceFiles]],
   * which decodes on the driver only the files written since the last read
   * (warm, one listing per directory), and the delta ([[pendingDelta]],
   * read before searchPoint resolves the generation) is scored on the
   * driver and merged under [[DiskannIndex.searchWithDelta]]'s rule. The
   * `graft.delta.maxBroadcastRows` cap is checked on the delta's summed
   * footer row counts (null-vector and replayed rows included) before any
   * new file is decoded. The pair (searchPoint for raw speed,
   * searchPointFresh for read-your-writes) mirrors the reference's scan
   * visibility semantics (scan.rs:229-235) at the point-query API.
   */
  def searchPointFresh(spark: SparkSession, indexPath: String,
      qvec: Array[Float], k: Int, searchListSize: Int = 100,
      rescore: Int = 50, nProbe: Int = 0, qlabels: Array[Short] = null,
      tombstones: Set[Long] = Set.empty): Seq[(Long, Double)] = {
    val tombs = DiskannIndex.loadTombstones(spark, indexPath, tombstones)
    val delta = pendingDelta(spark, indexPath, "searchPointFresh")
    val (main, metric) = DiskannIndex.searchPointResolved(spark, indexPath,
      qvec, k, searchListSize, rescore, nProbe, qlabels, tombs)
    if (delta.isEmpty) main
    else DiskannIndex.mergeTopK(main.iterator ++ pointDelta(delta, qvec,
      qlabels, k, None, tombs, DiskannIndex.reportDistFn(metric)), k)
  }

  /** The delta rows one point query sees, as (row_id, dist): the k best, or
    * with `radius` every one within it. */
  private def pointDelta(rows: Array[graft.index.WriteOnceFiles.DeltaRow],
      qvec: Array[Float], qlabels: Array[Short], k: Int,
      radius: Option[Double], tombs: Set[Long],
      report: (Array[Float], Array[Float]) => Double): Iterator[(Long, Double)] = {
    val ql = Option(qlabels).map(graft.index.LabelSets.normalize).orNull
    DiskannIndex.deltaOnDriver(rows, Seq((0L, qvec, ql)), k, radius, tombs,
      report).iterator.map(h => (h._2, h._3))
  }

  /**
   * Freshness-aware twin of [[DiskannIndex.rangeSearchWithStatus]] — the
   * radius scan that SEES pending micro-batch appends: the graph side runs
   * the normal escalate-until-stable range traversal, the delta side is an
   * exact radius pass on the driver over [[pendingDelta]]'s rows (the
   * searchWithDelta discipline applied to the radius shape), and the union
   * collapses by row_id. This
   * closes the last scan shape where a pending delta forced an O(corpus)
   * fallback: the reference's index serves inserted rows on EVERY scan
   * (build.rs:464-535), so a streaming table's radius queries must too.
   *
   * Race-with-compact invariant ([[pendingDelta]]): the delta is read
   * BEFORE the graph search resolves its generation, so a compact landing
   * in between can only surface a row on both sides (collapsed below),
   * never on neither.
   *
   * Returns (hits, confirmed): `confirmed = false` means either the graph
   * traversal could not prove exhaustiveness (its own maxResults contract)
   * or the merged result overflowed `maxResults` — in both cases the
   * result may be incomplete and exactness-needing callers
   * ([[graft.plans.KnnRangeScanExec]]) must fall back to the exact scan.
   * Unconfirmed hits are a fallback trigger, not a best-effort answer; do
   * not rank or serve them. A pending delta above
   * `graft.delta.maxBroadcastRows` fails by the knob's name.
   */
  def rangeSearchFresh(spark: SparkSession, indexPath: String,
      qvec: Array[Float], radius: Double, searchListSize: Int = 100,
      rescore: Int = 50, qlabels: Array[Short] = null,
      tombstones: Set[Long] = Set.empty,
      maxResults: Int = 65536): (Seq[(Long, Double)], Boolean) = {
    val tombs = DiskannIndex.loadTombstones(spark, indexPath, tombstones)
    val delta = pendingDelta(spark, indexPath, "rangeSearchFresh")
    val (mainHits, confirmed) = DiskannIndex.rangeSearchWithStatus(spark,
      indexPath, qvec, radius, searchListSize, rescore, qlabels, tombs,
      nProbe = 0, maxResults = maxResults)
    if (delta.isEmpty || !confirmed) (mainHits, confirmed)
    else {
      // a row can transiently exist in BOTH main and delta (compaction
      // folded it, file delete not yet visible) — collapse by row_id
      val merged = DiskannIndex.mergeTopK(mainHits.iterator ++ pointDelta(
        delta, qvec, qlabels, Int.MaxValue, Some(radius), tombs,
        DiskannIndex.reportOf(spark, indexPath)), Int.MaxValue)
      if (merged.length > maxResults) (merged.take(maxResults), false)
      else (merged, true)
    }
  }

  /**
   * Streaming top-k ENRICHMENT: answer a stream of query vectors against
   * the current index state — main graph, pending delta appends, masked
   * tombstones — one micro-batch at a time, handing each batch's enriched
   * `(qid, row_id, dist)` rows to `sink` with the batch id.
   *
   * foreachBatch rather than a stream-stream join, deliberately: the index
   * side is not a stream — it is shared mutable state whose visibility
   * semantics (read-your-writes after [[appendBatchToDelta]], deletes
   * masked) are exactly [[searchFresh]]'s, and a join could not consult it
   * per event anyway. Per batch the cost is one index probe per query (the
   * searcher collects the micro-batch's queries to the driver — batch-
   * sized by the trigger, never corpus-sized). No state crosses batches;
   * re-delivered batches re-search the CURRENT index, so exactly-once is
   * the sink's contract — `batchId` is passed through for idempotent
   * sinks, same discipline as the monitors above.
   */
  def streamingKnnEnrich(queries: DataFrame, indexPath: String,
      checkpoint: String, k: Int, searchListSize: Int = 100,
      rescore: Int = 50, nProbe: Int = 0)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          sink(searchFresh(spark, indexPath, batch, k, searchListSize,
            rescore, nProbe = nProbe), batchId)
        }
      }
      .start()

  /**
   * Streaming RADIUS enrichment — [[streamingKnnEnrich]] with a distance
   * threshold instead of k: each micro-batch's query vectors get their
   * full in-radius match set (main graph through the distributed batch
   * kernel, pending delta merged, tombstones masked) handed to `sink` as
   * `(qid, row_id, dist)` rows with the batch id. Same foreachBatch
   * rationale and at-least-once/sink-idempotency contract as the top-k
   * twin; batch cost is the [[DiskannIndex.rangeSearchDistributed]] shape
   * over a batch-sized query table.
   */
  def streamingRangeEnrich(queries: DataFrame, indexPath: String,
      checkpoint: String, radius: Double, searchListSize: Int = 100,
      rescore: Int = 50, maxResults: Int = 65536,
      /** strict=true (default) fails the micro-batch when any query's
        * in-radius set cannot be confirmed under maxResults — note the
        * checkpoint replays that batch, so a single over-dense query is a
        * POISON PILL until maxResults is raised; a stream that must keep
        * flowing past such queries should run strict=false and treat their
        * rows as possibly partial. */
      strict: Boolean = true)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          sink(rangeSearchFreshDistributed(spark, indexPath, batch, radius,
            searchListSize, rescore, maxResults = maxResults,
            strict = strict), batchId)
        }
      }
      .start()

  /**
   * Freshness-aware twin of [[DiskannIndex.servePointBatch]] — read-your-
   * writes for batch serving. The compacted generations answer through
   * [[DiskannIndex.servePointBatch]] (on the driver when its shards are
   * warm there, else the executor pool); [[pendingDelta]]'s rows, read
   * before the generation resolves, are scored against the batch on the
   * driver, one query per core, and merged under
   * [[DiskannIndex.mergeByQuery]], so results are identical to a
   * post-compaction query. With every probed shard warm the call starts no
   * Spark job. The durable tombstone registry folds in automatically, like
   * every fresh path.
   */
  def servePointBatchFresh(spark: SparkSession, indexPath: String,
      queries: Seq[(Long, Array[Float], Array[Short])], k: Int,
      searchListSize: Int = 100, rescore: Int = 50, nProbe: Int = 0,
      tombstones: Set[Long] = Set.empty): Seq[(Long, Long, Double)] = {
    val delta = pendingDelta(spark, indexPath, "servePointBatchFresh")
    val pool = DiskannIndex.servePointBatch(spark, indexPath, queries, k,
      searchListSize, rescore, nProbe, tombstones)
    if (delta.isEmpty) pool
    else {
      val tombs = DiskannIndex.loadTombstones(spark, indexPath, tombstones)
      val report = DiskannIndex.reportOf(spark, indexPath)
      val qRows = queries.map { case (qid, qv, ql) =>
        (qid, qv, Option(ql).map(graft.index.LabelSets.normalize).orNull)
      }
      DiskannIndex.mergeByQuery(pool ++
        DiskannIndex.deltaOnDriver(delta, qRows, k, None, tombs, report), k)
    }
  }

  /** Distributed twin of [[searchFresh]] for offline batch query tables:
    * main-index results come from the shard-aligned zip path, and
    * [[pendingDelta]]'s rows are broadcast and scored map-side
    * ([[DiskannIndex.searchDistributedFresh]]) — an offline job no longer
    * needs a `compact()` first to see appends. */
  def searchFreshDistributed(spark: SparkSession, indexPath: String,
      queries: DataFrame, k: Int, searchListSize: Int = 100,
      rescore: Int = 50, tombstones: Set[Long] = Set.empty,
      nProbe: Int = 0): DataFrame = {
    val tombs = DiskannIndex.loadTombstones(spark, indexPath, tombstones)
    DiskannIndex.searchDistributedWithRows(spark, indexPath, queries,
      pendingDelta(spark, indexPath, "searchFreshDistributed"), k,
      searchListSize, rescore, tombs, nProbe)
  }

  /** One-call BATCH radius with freshness — the radius twin of
    * [[searchFreshDistributed]]: [[pendingDelta]]'s rows go through
    * [[DiskannIndex.rangeSearchDistributedFresh]]'s broadcast-delta merge;
    * with no delta pending it is exactly
    * [[DiskannIndex.rangeSearchDistributed]]. */
  def rangeSearchFreshDistributed(spark: SparkSession, indexPath: String,
      queries: DataFrame, radius: Double, searchListSize: Int = 100,
      rescore: Int = 50, tombstones: Set[Long] = Set.empty,
      maxResults: Int = 65536, strict: Boolean = true): DataFrame = {
    val tombs = DiskannIndex.loadTombstones(spark, indexPath, tombstones)
    DiskannIndex.rangeSearchDistributedWithRows(spark, indexPath, queries,
      pendingDelta(spark, indexPath, "rangeSearchFreshDistributed"), radius,
      searchListSize, rescore, tombs, maxResults, strict)
  }

  /**
   * Threshold-gated compaction — the AUTOVACUUM analog: fold the delta only
   * once it has grown past `maxDeltaRows` OR past `maxDeltaFrac` of the
   * main index's rows, whichever trips first. Safe (and intended) to call
   * after every micro-batch commit: the check is two metadata reads — a
   * parquet footer row count over the delta files and the main `_meta` row
   * — no data scan, no lock unless a compact actually runs. Returns true
   * iff it compacted. A concurrent writer holding the lease makes compact
   * throw; that is surfaced, not swallowed, because silently skipping
   * would let the delta grow without bound behind a stuck lease.
   */
  def maybeCompact(spark: SparkSession, indexPath: String,
      maxDeltaRows: Long = 100000, maxDeltaFrac: Double = 0.1,
      tune: DiskannParams => DiskannParams = identity): Boolean = {
    // footer-only count, memoized per file: a file a CONCURRENT compact
    // consumed between the listing and the footer read counts 0 — its rows
    // are in the generation that compact installed, so the check correctly
    // comes back smaller (or not-due)
    val deltaRows = graft.index.WriteOnceFiles
      .rowCount(spark, s"$indexPath/delta").getOrElse(return false)
    val meta =
      try Some(DiskannIndex.loadMeta(spark, indexPath))
      catch { case _: Exception => None }
    val mainRows = meta.map(_.numRows).getOrElse(0L)
    val due = deltaRows >= maxDeltaRows ||
      (mainRows > 0 && deltaRows.toDouble / mainRows >= maxDeltaFrac)
    if (due) {
      // MODEL-STALENESS escalation (the automatic REINDEX): the SBQ
      // quantizer and IVF centroids are trained at FULL builds only —
      // incremental folds keep them frozen (the reference's aminsert
      // semantics), which the endurance gate measures as the one recall
      // leak under long streaming (0.79 vs 0.88 once the corpus outgrows
      // the training set ~4x). When the rows added since the last full
      // build exceed `graft.reindex.staleFraction` (default 2.0; <=0
      // disables) of that build's row count, this fold runs as force=true:
      // a full rebuild that retrains the models, restores shard sizing and
      // re-stamps fullBuildRows — same lease, same installed-generation
      // swap, just a bigger rebuild, still amortized O(corpus) once per
      // staleFraction-fold growth (geometric, so total work stays
      // O(corpus) amortized across the stream's lifetime).
      val staleFraction = spark.conf
        .get("graft.reindex.staleFraction", "2.0").toDouble
      val trained = meta.map(_.fullBuildRows).getOrElse(0L)
      // growth estimate from UNIQUE delta ids, not raw rows: at-least-once
      // ingest leaves replay duplicates in the delta, and a duplicate adds
      // no model staleness but would bias the trigger toward a premature
      // O(corpus) retraining rebuild — the single cost this threshold
      // exists to ration. (Unique ids already present in main still count
      // once — bounded bias, and the fold consumes them either way.) The
      // distinct count is paid only on fold-due batches, as a Spark count
      // over the listed files: compaction is the remedy for a delta too
      // large for the driver, so this count must not be capped.
      val stale = staleFraction > 0 && trained > 0 &&
        (mainRows + uniqueDeltaIds(spark, indexPath) - trained).toDouble /
          trained >= staleFraction
      if (stale) compact(spark, indexPath, tune, force = true)
      else compact(spark, indexPath, tune)
    }
    due
  }

  /** Distinct row_ids in the delta's listed files. A file a concurrent
    * compact consumes between the listing and the plan fails the plan
    * (Spark checks explicitly listed paths); the count then re-lists,
    * up to `attempts` times. */
  private def uniqueDeltaIds(spark: SparkSession, indexPath: String,
      attempts: Int = 4): Long = {
    val files = deltaFiles(spark, indexPath)
    if (files.isEmpty) 0L
    else try spark.read.schema(DeltaSchema).option("ignoreMissingFiles", "true")
      .parquet(files.map(_.toString).toIndexedSeq: _*)
      .select("row_id").distinct().count()
    catch {
      case _: org.apache.spark.sql.AnalysisException if attempts > 1 =>
        uniqueDeltaIds(spark, indexPath, attempts - 1)
    }
  }

  /** Fold the delta into the main graph: rebuild from nodes ∪ delta, then
    * drop the consumed delta files. The rebuild is the same 2-job
    * distributed build.
    *
    * Build parameters are reconstructed from the index's own `_meta`
    * ([[DiskannIndex.IndexMeta.toParams]]) so the storage type, bits/dim,
    * Matryoshka width, R/L/alpha and partitioner all survive compaction —
    * `tune` lets a caller override individual fields explicitly
    * (e.g. `_.copy(numNeighbors = 64)`).
    *
    * Concurrency + portability (the `aminsert` advisory-lock analog,
    * build.rs:487-490, previously a local-only `renameTo` dance):
    *
    *  - writers are serialized by a LEASE file (`_compact.lock`) carrying
    *    the owner's UUID and verified by re-read ([[acquireLease]] — safe on
    *    object stores where exclusive create is not atomic); a losing
    *    concurrent compact fails fast with [[IllegalStateException]] instead
    *    of interleaving installs. A crashed writer's stale lock is stolen
    *    after `graft.compact.lockTimeoutMs` (default 1h).
    *  - the rebuilt index is written to a hidden temp dir and installed as
    *    `versions/v%09d` with ONE atomic `FileSystem.rename` — readers
    *    resolve the active generation by max version name
    *    ([[DiskannIndex.resolveRoot]]) and can never observe a torn index;
    *    the previous generation survives as a grace window for in-flight
    *    readers, older ones are pruned.
    *  - only the delta files present when compaction STARTED are deleted:
    *    micro-batch appends that land during the rebuild stay in the delta
    *    and remain served by [[searchFresh]] until the next compaction.
    */
  /**
   * Lease-style writer lock. On HDFS/local, `create(overwrite=false)` is an
   * atomic exclusive create and the verify step is redundant (but harmless).
   * On object stores (S3A) exclusive create is NOT guaranteed — two writers
   * can both "succeed" — so acquisition is create + RE-READ: the lock file
   * carries the owner's UUID, and a writer holds the lease only if the
   * re-read (after `verifyDelayMs`, sized to the store's read-after-write
   * settle) returns ITS uuid — concurrent writers last-write-wins on
   * content, so at most one verifies. The final backstop is the versioned
   * install itself: even if two writers both passed the lease (a delayed
   * overwrite landing after both verified), their `rename` targets collide
   * on the same `v%09d` name, the loser's rename fails and throws, and
   * readers only ever resolve fully-installed generations.
   *
   * `exclusiveCreate=false` exists for tests to SIMULATE the S3A behavior
   * (both creates succeed) on a local filesystem.
   */
  /** JVM-local gate UNDER the file lease: `fs.create(overwrite=false)` is
    * exists-then-create on RawLocalFileSystem (and non-atomic on most
    * object stores), so two threads of ONE process can interleave
    * write+re-read and both verify — the in-process version of the
    * stale-steal race. Same-process writers serialize here for free; the
    * file lease continues to arbitrate across processes. Entries are lock
    * PATHS, held only while the file lease is held. */
  private[graft] val jvmLeases: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def acquireLease(fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path, ownerId: String,
      exclusiveCreate: Boolean = true, verifyDelayMs: Long = 0L): Boolean = {
    val created =
      try {
        val out = fs.create(lock, !exclusiveCreate)
        out.writeUTF(ownerId)
        out.close()
        true
      } catch { case _: java.io.IOException => false }
    created && {
      if (verifyDelayMs > 0) Thread.sleep(verifyDelayMs)
      holdsLease(fs, lock, ownerId)
    }
  }

  /** True iff the lock file currently carries `ownerId`'s uuid. */
  private[graft] def holdsLease(fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path, ownerId: String): Boolean =
    try {
      val in = fs.open(lock)
      val id = try in.readUTF() finally in.close()
      id == ownerId
    } catch { case _: java.io.IOException => false }

  def compact(spark: SparkSession, indexPath: String,
      tune: DiskannParams => DiskannParams = identity,
      tombstones: Set[Long] = Set.empty, force: Boolean = false): Unit = {
    // cheap no-op fast path (a tombstones-only compaction still rebuilds:
    // it is the VACUUM analog that physically removes deleted rows —
    // explicit OR registered via DiskannIndex.deleteRows). `force` skips
    // it: REINDEX rebuilds even a quiescent index (new params, or a user
    // restoring the shard-sizing invariant after heavy churn).
    if (!force && deltaFiles(spark, indexPath).isEmpty && tombstones.isEmpty &&
      DiskannIndex.tombstoneFiles(spark, indexPath).isEmpty) return
    // ONE lease protocol for every writer: acquisition, JVM gate,
    // stale-steal jitter and the pre-install re-verify all live in
    // WriterLock.withLeaseVerified — compact used to carry a line-for-line
    // inline copy, which meant every lease fix had to land twice
    graft.index.WriterLock.withLeaseVerified(spark, indexPath) { verify =>
      compactLeased(spark, indexPath, tune, tombstones, force, verify)
    }
  }

  /** The columns compaction reads from delta files. */
  private val DeltaSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("row_id", LongType),
      StructField("vec", ArrayType(FloatType)),
      StructField("labels", ArrayType(ShortType))))
  }

  private def compactLeased(spark: SparkSession, indexPath: String,
      tune: DiskannParams => DiskannParams, tombstones: Set[Long],
      force: Boolean, verifyLease: () => Unit): Unit = {
    val (fs, _) = hadoopFs(spark, indexPath)
    locally {
      // snapshot the delta AND the tombstone registry UNDER the lock: a
      // predecessor may have consumed (and deleted) the files we saw before
      // acquiring it. The persisted registry folds into this rebuild
      // (VACUUM) and its consumed files are deleted after the install.
      val consumed = deltaFiles(spark, indexPath)
      val consumedTombs = DiskannIndex.tombstoneFiles(spark, indexPath)
      val allTombs = tombstones ++
        (if (consumedTombs.isEmpty) Set.empty[Long]
         else DiskannIndex.loadTombstones(spark, indexPath))
      if (!force && consumed.isEmpty && allTombs.isEmpty) return
      val root = DiskannIndex.resolveRoot(spark, indexPath)
      val meta = DiskannIndex.loadMeta(spark, root)
      val existing = DiskannIndex
        .nodesDf(spark, root, meta, 0 until meta.numShards)
        .select(col("row_id"), col("vec"), col("labels"))
      // the delta's declared schema: no schema-inference job, and a file
      // without a labels column reads it as null
      val delta = if (consumed.isEmpty) existing.limit(0)
      else spark.read.schema(DeltaSchema)
        .parquet(consumed.map(_.toString).toIndexedSeq: _*)
        .select(col("row_id"), col("vec"),
          (if (meta.hasLabels) col("labels") else lit(null)
            .cast(DeltaSchema("labels").dataType)).as("labels"))
      val vdir = new org.apache.hadoop.fs.Path(s"$indexPath/versions")
      fs.mkdirs(vdir)
      val prior = fs.listStatus(vdir).map(_.getPath.getName)
        .filter(_.matches("v\\d{9}")).sorted
      val next = (prior.map(_.substring(1).toInt) :+ 0).max + 1
      val tmp = new org.apache.hadoop.fs.Path(vdir,
        s".tmp-${java.util.UUID.randomUUID()}")
      val params = tune(meta.toParams)
      // INCREMENTAL path: delta rows route to exactly one shard (nearest
      // frozen centroid for ivf, pmod(xxhash64(row_id)) for hash), so only
      // shards receiving delta or losing tombstones get graph work — and a
      // delta-only shard is served by the LIVE-INSERT fold (Graph::insert
      // per shard, not a rebuild; see DiskannIndex.insertFoldNodes) while
      // untouched shards are carried as manifest references. Requires
      // unchanged params (tune = identity) — mixed-parameter shards would
      // be a lie — and is the default; graft.compact.incremental=false
      // forces full rebuilds. `force` (REINDEX) always rebuilds in full: a
      // forced pass exists to re-train centroids / restore shard sizing,
      // which the carry-forward incremental path by design does not do
      val incremental = !force &&
        (meta.partitioner == "hash" ||
          (meta.partitioner == "ivf" && meta.centroids.nonEmpty)) &&
        params == meta.toParams &&
        spark.conf.get("graft.compact.incremental", "true").toBoolean
      // rebuildShardsInto answers a frozen-centroid hot spot by SPLITTING
      // the overgrown shard (ivf — O(hot shard), the compaction stays
      // O(ingest window) under skew) and may still REFUSE (None) for hash
      // indexes, whose routing cannot split one shard — fall through to
      // the full rebuild, which re-shards and restores the sizing invariant
      val partial: Option[(Seq[Int], DiskannIndex.IndexMeta)] =
        if (incremental)
          DiskannIndex.rebuildShardsInto(spark, root, meta, delta, allTombs,
            tmp.toString)
        else None
      if (partial.isEmpty) {
        fs.delete(tmp, true) // drop any partial refusal leftovers
        // VACUUM analog (vacuum.rs:24-136 folds at rebuild): tombstoned rows
        // are physically dropped from the new generation, so post-compact
        // searches need no tombstone set at all.
        // Dedup by row_id before folding: foreachBatch ingest is
        // at-least-once (a retried micro-batch appends the same row twice),
        // and a crash between a predecessor's install and its delta-file
        // delete leaves rows in BOTH main and delta. Without this, the
        // duplicates bake into the graph permanently and can occupy
        // multiple top-k slots. The delta-internal dedup shuffles only the
        // (small) delta; the main∩delta collapse is a broadcast anti-join,
        // so the big nodes table stays map-side.
        val dedupedDelta = delta.dropDuplicates("row_id")
        val merged = existing
          .join(broadcast(dedupedDelta.select(col("row_id"))),
            Seq("row_id"), "left_anti")
          .unionByName(dedupedDelta)
        val all = (if (allTombs.isEmpty) merged
          else merged.join(
            broadcast(spark.createDataset(allTombs.toSeq)(
              org.apache.spark.sql.Encoders.scalaLong).toDF("row_id")),
            Seq("row_id"), "left_anti")).cache()
        DiskannIndex.build(all, "row_id", "vec",
          if (meta.hasLabels) Some("labels") else None, tmp.toString, params)
        all.unpersist()
      }
      // the meta just written (the build memoized it under tmp)
      val written = partial.map(_._2)
        .getOrElse(DiskannIndex.loadMetaAt(spark, tmp.toString))
      val dst = new org.apache.hadoop.fs.Path(vdir, f"v$next%09d")
      // last-moment lease re-check before the irreversible generation swap:
      // if another writer stole our lease as stale mid-rebuild, abort here
      // rather than install over its work (see WriterLock.withLeaseVerified)
      try verifyLease()
      catch { case e: IllegalStateException => fs.delete(tmp, true); throw e }
      if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, true)
        throw new java.io.IOException(s"compact: could not install $dst")
      }
      // the root string resolveRoot returns for the new generation; its
      // meta memo is seeded from a listing made after the rename, so the
      // GC below and the next read start no Spark job
      val installed = f"$indexPath/versions/v$next%09d"
      DiskannIndex.seedMeta(spark, installed, written)
      // drop exactly the consumed delta files; concurrent appends survive.
      // NEVER recursively delete the delta/tombstones DIRS, even when the
      // post-consume listing says empty: appendBatchToDelta and deleteRows
      // are lock-free by design, so a file can land between that listing
      // and a dir delete — a recursive delete would destroy a committed
      // batch the checkpoint will never replay (silent data loss) or
      // resurrect a durable delete. Empty dirs cost one FS entry.
      consumed.foreach(p => fs.delete(p, false))
      consumedTombs.foreach(s => fs.delete(s.getPath, false))
      // GC. Retained roots: the new generation, plus the one it superseded
      // (the in-flight-reader grace window — the flat root when this was the
      // first compaction). With the manifest layout a retained generation's
      // data may live in OLDER generations, so deletion is per shard dir:
      // anything some retained manifest references survives, everything
      // else — stale shard dirs superseded by a later rebuild, and whole
      // generations nothing points at — goes. Shard-dir granularity is what
      // keeps a hot-spot workload from accumulating dead rebuilt-shard
      // copies inside still-referenced old generations.
      gcGenerations(spark, fs, indexPath, installed,
        prior.lastOption.map(v => s"$indexPath/versions/$v")
          .getOrElse(indexPath))
      partial match {
        case Some((affectedShards, _)) =>
          // targeted eviction: untouched shards keep their (still-valid,
          // epoch-matched) decoded graphs warm in this JVM too
          affectedShards.foreach(s =>
            graft.index.GraphSearcher.invalidate(s"$indexPath#$s#"))
        case None =>
          graft.index.GraphSearcher.invalidate(indexPath)
      }
      // the planner's cost-gate row count changed with this generation
      graft.plans.KnnCost.invalidate(indexPath)
      // registered edge views re-bind to the new generation (same-JVM
      // freshness; see EdgeViews' cross-JVM snapshot contract)
      graft.plans.EdgeViews.refresh(indexPath)
    }
  }

  /**
   * Generation GC for the manifest layout. Keeps `current` and `grace`
   * whole; everything some retained manifest references survives at
   * SHARD-DIR granularity; the rest is deleted — unreferenced `shard=s`
   * subdirs inside still-referenced old generations (a later rebuild
   * superseded them), and whole generations nothing points at. The flat
   * pre-versioning root is special-cased: only its `nodes`/`_meta` are
   * deleted (the delta/lock/versions live under the same path).
   */
  private def gcGenerations(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, indexPath: String,
      current: String, grace: String): Unit = {
    import org.apache.hadoop.fs.Path
    // fully qualify before comparing: retained/referenced strings may be
    // RELATIVE (caller passed a relative index path) while listStatus
    // returns absolute URIs — a bare-string mismatch here would GC the
    // just-installed generation (caught by the FreezeManifestFixture run)
    def norm(p: String): String = fs.makeQualified(new Path(p)).toUri.getPath
    val retained = Seq(current, grace).distinct
    // a retained root always has a readable meta (it was just installed, or
    // was the active root this compaction superseded). If a read still
    // fails (object-store throttling, read-after-rename lag), ABORT the GC
    // entirely: proceeding with an empty reference set would delete the
    // very shard dirs that manifest protects — deferred garbage is safe,
    // deleted data is not. The next compaction retries the GC.
    val metas: Seq[(String, DiskannIndex.IndexMeta)] =
      try retained.map(g => g -> DiskannIndex.loadMetaAt(spark, g))
      catch { case _: Exception => return }
    val referenced: Set[(String, Int)] = metas.flatMap { case (g, meta) =>
      (0 until meta.numShards)
        .map(s => norm(DiskannIndex.shardGenRoot(g, meta, s)) -> s)
    }.toSet
    val retainedSet = retained.map(norm).toSet
    val gens: Seq[String] =
      (try fs.listStatus(new Path(s"$indexPath/versions"))
        .map(_.getPath.toString).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty })
        .filter(_.matches(".*/v\\d{9}$"))
    (gens :+ indexPath).filterNot(g => retainedSet(norm(g))).foreach { g =>
      val keep: Set[Int] = referenced.collect {
        case (root, s) if root == norm(g) => s
      }
      if (keep.isEmpty) {
        if (norm(g) == norm(indexPath)) {
          fs.delete(new Path(s"$indexPath/nodes"), true)
          fs.delete(new Path(s"$indexPath/_meta"), true)
          // per-generation sidecars go with the generation's data — a
          // stale labelstats surviving here would later be read as current
          fs.delete(new Path(s"$indexPath/labelstats"), true)
        } else fs.delete(new Path(g), true)
      } else {
        try fs.listStatus(new Path(s"$g/nodes")).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("shard=") &&
              !keep.contains(name.substring("shard=".length).toInt))
            fs.delete(st.getPath, true)
        } catch { case _: java.io.FileNotFoundException => }
      }
    }
  }

  /** Streaming windowed aggregation over the events stream (SURVEY.md §2.7 /
    * the Structured Streaming surface): tumbling-window counts per type with
    * a watermark for state cleanup. */
  def windowedEventCounts(stream: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** One alert from [[streamingRateAnomaly]]: a finalized window whose
    * count deviates from the type's own history. */
  case class RateAlert(windowStart: java.sql.Timestamp, eventType: String,
      n: Long, mean: Double, z: Double)

  /** The monitor's driver-side state: per-type (h, Σn, Σn²) over completed
    * windows plus the last folded batchId. Hold one instance per monitor;
    * to survive restarts, snapshot it after each onAlert (it is tiny —
    * O(types) doubles) and pass the restored instance back in — then the
    * batchId guard makes the recovery replay of the last uncommitted
    * batch a no-op instead of a double fold. */
  class RateAnomalyState extends Serializable {
    val stats = new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()
    val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
  }

  /**
   * Streaming rate-anomaly monitor — the online sibling of the batch
   * `events_anomaly` query: watermarked per-(window, event_type) counts
   * stream in APPEND mode into foreachBatch, where each FINALIZED window is
   * z-scored against the type's history of previously completed windows
   * (exact sums h, Σn, Σn² — the same arithmetic as the batch query) and
   * then folded into that history. Append + watermark guarantee every
   * window reaches the callback exactly once, after it can no longer
   * change, so history only ever contains closed windows and the alert
   * stream needs no retraction story.
   *
   * A perfectly flat history (variance 0) alerts on ANY deviation with
   * z = +Inf — a monitor that goes silent because history was too clean
   * would miss the first real spike. The per-batch collect is bounded by
   * construction: one row per (window, type) that closed this batch, not
   * per event. State is O(types) doubles on the driver; persist/restore it
   * alongside the checkpoint if the monitor must survive restarts.
   *
   * foreachBatch is at-least-once (same reason the delta-ingest sink
   * dedups by row_id): a restart from `checkpointLocation` replays the
   * last uncommitted batch, which would double-fold its windows into the
   * history and re-fire its alerts. The batchId guard closes that hole
   * WHEN the caller restores the same [[RateAnomalyState]] it snapshotted
   * before the crash — a fresh state has nothing to protect (and nothing
   * to corrupt: its history restarts empty). Without a checkpoint each
   * run's batchIds start at 0 and never repeat, so the guard is inert.
   */
  def streamingRateAnomaly(stream: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours", zThreshold: Double = 2.0,
      minWindows: Int = 3, state: RateAnomalyState = new RateAnomalyState,
      checkpointLocation: Option[String] = None)(
      onAlert: Seq[RateAlert] => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val stats = state.stats
    val lastBatch = state.lastBatch
    val counts = stream.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))
    counts.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (batchId <= lastBatch.get()) ()
        else {
        val rows = batch.collect()
        val alerts = scala.collection.mutable.ArrayBuffer[RateAlert]()
        // fold into a SHADOW copy of the per-type sums: the live state must
        // not observe a half-processed batch. If collect, the fold, or
        // onAlert throws, live stats and the batchId guard are untouched,
        // so the replay re-processes the batch cleanly; committing the
        // shadow AND the guard together below leaves no window where a
        // replay against the same live state could double-fold (the
        // set-first ordering dropped failed batches; fold-first-set-later
        // alone would double-fold them).
        val shadow = new java.util.HashMap[String, Array[Double]]()
        stats.forEach((k, v) => shadow.put(k, v.clone()))
        rows.sortBy(r => (r.getTimestamp(0).getTime, r.getString(1))).foreach { r =>
          val (ws, et, n) = (r.getTimestamp(0), r.getString(1), r.getLong(2))
          val s = shadow.computeIfAbsent(et, _ => Array(0.0, 0.0, 0.0))
          val h = s(0)
          if (h >= minWindows) {
            val mean = s(1) / h
            val variance = (s(2) - s(1) * s(1) / h) / (h - 1)
            if (variance > 0) {
              val z = (n - mean) / math.sqrt(variance)
              if (math.abs(z) >= zThreshold) alerts += RateAlert(ws, et, n, mean, z)
            } else if (n.toDouble != mean) {
              alerts += RateAlert(ws, et, n, mean, Double.PositiveInfinity)
            }
          }
          s(0) += 1; s(1) += n.toDouble; s(2) += n.toDouble * n
        }
        if (alerts.nonEmpty) onAlert(alerts.toSeq)
        // commit: install the folded sums and mark the batch consumed in
        // one step (adjacent driver-side writes, nothing fallible between)
        shadow.forEach((k, v) => stats.put(k, v))
        lastBatch.set(batchId)
        }
      }
      .options(checkpointLocation.map("checkpointLocation" -> _).toMap)
      .start()
  }

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.Dedup.exactDedup]]: first-seen row wins per content
    * hash, duplicate arrivals within the watermark horizon are dropped.
    * `dropDuplicatesWithinWatermark` keys state by the 128-bit content hash
    * only (not the full text), and the watermark bounds state size — the
    * shape that survives unbounded streams; state shards by hash across the
    * state store like any keyed stream. */
  def streamingDedup(stream: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    stream.withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Bloom leg of [[streamingCurationGate]]: the pre-built filter words
    * (from [[graft.operators.Curation.bloomFilterWords]]) plus its
    * geometry and the kill threshold. */
  case class BloomGate(
      words: org.apache.spark.broadcast.Broadcast[Array[Long]],
      mBits: Int = 1 << 23, kHashes: Int = 4, shingleSize: Int = 3,
      maxHitFrac: Double = 0.5)

  /**
   * Streaming curation gate — the online front door of a training-data
   * pipeline, composing the batch operators' verdicts in ONE streaming
   * query: (1) quality gate on [[graft.operators.TextAnalysis.qualityScore]]
   * (stateless, map-side); (2) optional Bloom decontamination against a
   * pre-built broadcast filter ([[graft.operators.Curation.bloomHitFrac]] —
   * stateless, same verdicts as the batch bloomDecontam by the shared
   * position rule); (3) watermarked exact dedup ([[streamingDedup]] —
   * first-seen wins, state keyed by content hash only).
   *
   * The stateless gates run BEFORE the dedup so the state store only ever
   * keys documents that survive curation — at production rates the state
   * footprint tracks the CLEAN stream, not the raw one. Emits the input
   * columns plus `quality_score` (and `bloom_frac` when gated).
   */
  def streamingCurationGate(stream: DataFrame, textCol: String, tsCol: String,
      minQuality: Double = 0.5, bloom: Option[BloomGate] = None,
      watermark: String = "1 hour"): DataFrame = {
    graft.operators.TextAnalysis.register(stream.sparkSession)
    val q = stream
      .withColumn("quality_score",
        graft.operators.TextAnalysis.qualityScoreFast(col(textCol)))
      .filter(col("quality_score") >= minQuality)
    val gated = bloom match {
      case Some(g) =>
        val sh = call_function("shingle_set",
          graft.operators.TextAnalysis.tokens(col(textCol)), lit(g.shingleSize))
        q.withColumn("bloom_frac",
            graft.operators.Curation.bloomHitFrac(g.words, g.mBits, g.kHashes)(sh))
          .filter(col("bloom_frac") <= g.maxHitFrac)
      case None => q
    }
    streamingDedup(gated, textCol, tsCol, watermark)
  }

  /**
   * Streaming embedding-drift monitor — the online sibling of
   * [[graft.operators.Similarity.centroidShift]]: per-(window, group)
   * centroids accumulated with the fixed-point mergeable vector sum (long
   * adds commute, so incremental state updates are order-independent),
   * compared against a broadcast REFERENCE centroid table. Emits one row per
   * (window, group): member count + cosine distance to the reference;
   * alerting is a downstream `centroid_cos_dist > threshold` filter, and a
   * group absent from the reference reports NaN. State is O(groups × dim)
   * longs per open window, bounded by the watermark.
   */
  def streamingDriftMonitor(stream: DataFrame, groupCol: String,
      vecCol: String, tsCol: String, reference: Map[Int, Array[Double]],
      dim: Int, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val spark = stream.sparkSession
    val qsum = udaf(new graft.operators.Similarity.QuantizedVecSum(dim))
    val ref = spark.sparkContext.broadcast(reference)
    val cosDist = udf { (g: Int, qs: Seq[Long], n: Long) =>
      ref.value.get(g).map { r =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < r.length) {
          val c = qs(i).toDouble / (n.toDouble * 1048576.0)
          dot += c * r(i); na += c * c; nb += r(i) * r(i)
          i += 1
        }
        if (na > 0 && nb > 0) 1.0 - dot / math.sqrt(na * nb) else Double.NaN
      }.getOrElse(Double.NaN)
    }
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(groupCol))
      .agg(count(lit(1)).as("n_members"), qsum(col(vecCol)).as("__qs"))
      .select(col("window.start").as("window_start"), col(groupCol),
        col("n_members"),
        round(cosDist(col(groupCol), col("__qs"), col("n_members")), 6)
          .as("centroid_cos_dist"))
  }

  /**
   * Streaming TOPIC-TREND monitor: route each arriving embedding to its
   * IVF cluster (broadcast model — the same [[graft.operators.Similarity
   * .ivfAssign]] assignment rule, one map-side pass) and count per
   * (window, cluster) under a watermark. The online view of "which topics
   * are growing" that pairs with the batch `cluster_topics` labeling;
   * alerting composes downstream exactly like [[streamingRateAnomaly]]
   * (cluster id is just another event type). State is O(open windows ×
   * clusters) counters, bounded by the watermark.
   */
  def streamingClusterTrend(stream: DataFrame, vecCol: String, tsCol: String,
      model: graft.operators.Similarity.IvfModel,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    // the ONE assignment rule, shared with the batch ivfAssign by
    // construction (null vectors -> null cluster, not a dead query)
    val assign =
      graft.operators.Similarity.ivfAssignUdf(stream.sparkSession, model)
    stream
      .withColumn("cluster", assign(col(vecCol)))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("cluster"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("cluster"), col("n"))
  }

  /**
   * Streaming DISTINCT-CARDINALITY monitor: estimated distinct `idCol`
   * per (window, group) — "unique users per hour per event type" — via the
   * mergeable KMV aggregator ([[graft.operators.Sketches.KmvAgg]]) over the
   * library's md5-low-60 hash. The exact version would hold every id seen
   * per open window in state; here state is O(open windows × groups × k)
   * longs, bounded by the watermark, and EXACT below k distincts (the
   * sketch is exhaustive until it saturates). The same aggregator serves
   * the batch `kmv_vocab_distinct` query — one sketch definition for both
   * planes, so a streaming estimate can be audited offline by replaying
   * the batch query over the same data.
   */
  def streamingDistinctMonitor(stream: DataFrame, groupCol: String,
      idCol: String, tsCol: String, k: Int = 256,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val kmv = udaf(new graft.operators.Sketches.KmvAgg(k))
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(groupCol))
      .agg(kmv(graft.operators.Curation.md5Low60(
        col(idCol).cast(org.apache.spark.sql.types.StringType))).as("__sk"))
      .select(col("window.start").as("window_start"), col(groupCol),
        round(graft.operators.Sketches.kmvEstimate(col("__sk"), k), 3)
          .as("n_distinct_est"))
  }

  /**
   * Watermarked stream-stream INTERVAL JOIN — the streaming sibling of
   * [[graft.operators.TimeSeries.asofJoinBackward]]: each left event joins
   * the right events with the same key inside `[left.ts - lookback,
   * left.ts]`. LEFT OUTER, so unmatched left events still emit (with
   * nulls) once the watermark passes their join window — Spark bounds BOTH
   * sides' state by `watermark + lookback`, which is what makes this safe
   * on unbounded streams. Stream-stream joins cannot express "latest match
   * only" in one stage; dedup downstream when as-of semantics are needed.
   *
   * Right's key/ts columns come back suffixed `_r` (the key copy is
   * dropped); every other right column must not collide with a left name.
   */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, lookback: String, watermark: String): DataFrame = {
    val rRen = right.withColumnRenamed(keyCol, s"${keyCol}_r")
      .withColumnRenamed(tsCol, s"${tsCol}_r")
    val l = left.withWatermark(tsCol, watermark)
    val r = rRen.withWatermark(s"${tsCol}_r", watermark)
    l.join(r,
      col(keyCol) === col(s"${keyCol}_r") &&
        col(s"${tsCol}_r") >= col(tsCol) - expr(s"INTERVAL $lookback") &&
        col(s"${tsCol}_r") <= col(tsCol),
      "leftOuter")
      .drop(s"${keyCol}_r")
  }

  case class SessionEvent(user_id: Long, ts_ms: Long, value: Double,
      ts: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, nEvents: Long, sumValue: Double)
  case class SessionOut(user_id: Long, session_start: Long, session_end: Long,
      n_events: Long, sum_value: Double)

  /** Custom per-key state (the `flatMapGroupsWithState` surface): gap-based
    * sessionization of the events stream. A session closes either when a
    * later event for the same user arrives past the gap, or when the
    * watermark passes session_end + gap (event-time timeout) — each session
    * is emitted exactly once. Input columns: (user_id LONG, ts_ms LONG,
    * value DOUBLE). State is per-user and O(1), so this scales to any key
    * cardinality the state store can shard. */
  def sessionize(events: org.apache.spark.sql.Dataset[(Long, Long, Double)],
      gapMs: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF("user_id", "ts_ms", "value")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "0 seconds")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.last, s.nEvents, s.sumValue))
          } else {
            val sorted = rows.toArray.sortBy(_.ts_ms)
            var cur = state.getOption
            val closed = Iterator.newBuilder[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts_ms - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, e.ts_ms, s.nEvents + 1, s.sumValue + e.value))
                case Some(s) =>
                  closed += SessionOut(user, s.start, s.last, s.nEvents, s.sumValue)
                  cur = Some(SessionState(e.ts_ms, e.ts_ms, 1L, e.value))
                case None =>
                  cur = Some(SessionState(e.ts_ms, e.ts_ms, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result()
          }
      }
  }

  /** One micro-batch's data-quality verdicts (see [[startQualityMonitor]]). */
  case class QualityViolation(batchId: Long, check: String,
      observed: Double, nRows: Long)

  /**
   * Streaming data-quality gate: every micro-batch is judged by the SAME
   * one-pass [[graft.operators.DataQuality]] expectations the batch gate
   * uses — schema drift, null spikes, out-of-range values surface at
   * ingest time, per batch, not after a day's corpus is poisoned.
   *
   * Failing checks go to `onViolation` (route to paging / a quarantine
   * topic); the batch itself is NOT blocked — a quality gate that silently
   * drops data is worse than one that alerts, so quarantining is the
   * caller's explicit move. The row count folds into the SAME single
   * aggregate as the expectations
   * ([[graft.operators.DataQuality.runExpectationsWithCount]]), so each
   * micro-batch is scanned exactly once — re-reading the source per batch
   * would double the gate's cost at ingest rates. An empty batch yields no
   * vacuous verdicts. foreachBatch is at-least-once: a replayed batch
   * re-alerts (alerting is idempotent-enough by nature); nothing here
   * holds state, so there is no double-fold hazard.
   */
  def startQualityMonitor(stream: DataFrame,
      checks: Seq[graft.operators.DataQuality.Expectation],
      checkpointLocation: Option[String] = None)(
      onViolation: Seq[QualityViolation] => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(checks.nonEmpty, "startQualityMonitor needs at least one check")
    stream.writeStream
      .options(checkpointLocation.map("checkpointLocation" -> _).toMap)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val (n, verdicts) = graft.operators.DataQuality
          .runExpectationsWithCount(batch, checks)
        val bad = verdicts.filterNot(_.passed).map(v =>
          QualityViolation(batchId, v.check, v.observed, n))
        if (bad.nonEmpty) onViolation(bad)
      }
      .start()
  }
}

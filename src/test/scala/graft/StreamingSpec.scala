package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{DiskannIndex, DiskannParams}
import graft.streaming.StreamingIngest

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Post-compact invariant: consumed registry/delta FILES are gone; the
    * DIR may remain (never recursively deleted — lock-free writers could
    * land a file between a listing and a dir delete). */
  private def dirEmpty(p: String): Boolean = {
    val f = new java.io.File(p)
    !f.exists() || Option(f.listFiles()).forall(_.forall(c =>
      c.getName.startsWith("_") || c.getName.startsWith(".")))
  }
  import spark.implicits._

  test("delta ingest: streamed vectors become searchable, compaction folds them in") {
    val path = "/tmp/graft_test_index/streaming"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 400), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))

    // stream the remaining 100 vectors in as micro-batches
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("row_id", "vec")
    val q = StreamingIngest.startDeltaIngest(stream, path,
      s"/tmp/graft_ckpt_${System.nanoTime()}")
    val tail = e.filter($"vec_id" >= 400)
      .collect().map(r => (r.getLong(0),
        r.getAs[scala.collection.mutable.ArraySeq[Float]](1).toArray))
    mem.addData(tail.take(50).toSeq)
    q.processAllAvailable()
    mem.addData(tail.drop(50).toSeq)
    q.processAllAvailable()
    q.stop()

    // a query vector from the streamed range must now be findable at dist 0
    val queries = e.filter($"vec_id" === 450)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val fresh = StreamingIngest.searchFresh(spark, path, queries, k = 5,
      searchListSize = 200, rescore = 150).collect()
    assert(fresh.map(_.getLong(1)).contains(450L))

    // null query vector against main+delta: zero-vector search, no NPE
    val nullQ = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(99L, null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("qvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType), nullable = true))))
    assert(StreamingIngest.searchFresh(spark, path, nullQ, k = 5).collect().length == 5)

    // compaction folds the delta into the main graph, preserving the
    // original build params (metric/storage/R/L read back from _meta)
    val before = DiskannIndex.loadMeta(spark, path)
    StreamingIngest.compact(spark, path)
    assert(dirEmpty(s"$path/delta"))
    val meta = DiskannIndex.loadMeta(spark, path)
    assert(meta.numRows == 500)
    assert(meta.metric == before.metric && meta.storage == before.storage &&
      meta.bitsPerDim == before.bitsPerDim &&
      meta.numNeighbors == before.numNeighbors &&
      meta.dimsToIndex == before.dimsToIndex)
    assert(meta.buildId != before.buildId)
    val after = DiskannIndex.search(spark, path, queries, k = 5,
      searchListSize = 200, rescore = 150).collect()
    assert(after.map(_.getLong(1)).contains(450L))
  }

  test("compact: single-writer lock, stale-lock steal, atomic versioned install") {
    val path = "/tmp/graft_test_index/streaming_versions"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 300), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    def appendDelta(lo: Int, hi: Int): Unit =
      e.filter($"vec_id" >= lo && $"vec_id" < hi)
        .select($"vec_id".as("row_id"), $"embedding".as("vec"))
        .write.mode("append").parquet(s"$path/delta")

    // a held (fresh) lock blocks a second writer fast, with a clear error
    appendDelta(300, 400)
    val lock = new java.io.File(s"$path/_compact.lock")
    assert(lock.createNewFile())
    intercept[IllegalStateException] { StreamingIngest.compact(spark, path) }
    // a stale lock (older than graft.compact.lockTimeoutMs) is stolen
    assert(lock.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L))
    StreamingIngest.compact(spark, path)
    assert(!lock.exists(), "lock not released after compact")
    assert(new java.io.File(s"$path/versions/v000000001").exists())
    assert(DiskannIndex.loadMeta(spark, path).numRows == 400)

    // two RACING compacts on a fresh delta: the lock serializes them — the
    // loser either fails fast with IllegalStateException or arrives after
    // the winner consumed the delta and no-ops; exactly ONE new version is
    // installed either way and searches never observe a torn index
    appendDelta(400, 500)
    @volatile var tErr: Option[Throwable] = None
    val t = new Thread(() =>
      try StreamingIngest.compact(spark, path)
      catch { case x: Throwable => tErr = Some(x) })
    t.start()
    val deadline = System.currentTimeMillis() + 30000
    while (!lock.exists() && t.isAlive && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    val mainErr: Option[Throwable] =
      try { StreamingIngest.compact(spark, path); None }
      catch { case x: Throwable => Some(x) }
    t.join(180000)
    assert(!t.isAlive, "winner compact did not finish")
    val errs = Seq(tErr, mainErr).flatten
    assert(errs.size <= 1 && errs.forall(_.isInstanceOf[IllegalStateException]),
      s"unexpected racing-compact outcome: $errs")
    val vs = Option(new java.io.File(s"$path/versions").listFiles()).get
      .map(_.getName).filter(_.startsWith("v")).sorted.toSeq
    assert(vs.last == "v000000002" && vs.length <= 2, vs.mkString(","))
    assert(DiskannIndex.loadMeta(spark, path).numRows == 500)
    assert(dirEmpty(s"$path/delta"))
    val queries = e.filter($"vec_id" === 450)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val hits = StreamingIngest.searchFresh(spark, path, queries, k = 5,
      searchListSize = 200, rescore = 150).collect()
    assert(hits.map(_.getLong(1)).contains(450L))

    // time travel: the superseded generation stays queryable (reader grace)
    // until the next compaction prunes it — a version path IS an index root
    assert(DiskannIndex.listVersions(spark, path) ==
      Seq("v000000001", "v000000002"))
    val oldRoot = s"$path/versions/v000000001"
    assert(DiskannIndex.loadMeta(spark, oldRoot).numRows == 400)
    val oldHits = DiskannIndex.search(spark, oldRoot, queries, k = 5,
      searchListSize = 200, rescore = 150).collect()
    // rows 400-499 do not exist in the old snapshot
    assert(oldHits.nonEmpty && oldHits.forall(_.getLong(1) < 400L))
  }

  test("live-insert fold: a delta-only shard keeps its node ids, appended rows take the next slots") {
    val path = "/tmp/graft_test_index/insert_fold"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n0 = e.count()
    // hash partitioner — the default production shape, now also incremental
    DiskannIndex.build(e, "vec_id", "embedding", None, path,
      DiskannParams(metric = "cosine", shardTargetRows = 200))
    val meta0 = DiskannIndex.loadMeta(spark, path)
    assert(meta0.numShards >= 3)
    val nodes0 = spark.read.parquet(s"$path/nodes")

    // twins (new ids) of 4 existing rows; hash routing scatters them — the
    // fold must insert each into exactly the shard its id routes to
    val delta = e.filter($"vec_id" < 4)
      .select(($"vec_id" + 10000).as("row_id"), $"embedding".as("vec"))
    val deltaShards = delta
      .select(pmod(xxhash64($"row_id"), lit(meta0.numShards)).cast("int").as("s"))
      .collect().map(_.getInt(0)).toSet
    delta.write.mode("append").parquet(s"$path/delta")
    StreamingIngest.compact(spark, path)

    val root1 = DiskannIndex.resolveRoot(spark, path)
    val meta1 = DiskannIndex.loadMetaAt(spark, root1)
    assert(meta1.numRows == n0 + 4)
    // metadata-only commit: ONLY the delta shards materialize in the new
    // generation, everything else is a manifest reference with its warm
    // cache epoch preserved
    val materialized = Option(new java.io.File(s"$root1/nodes").list())
      .map(_.filter(_.startsWith("shard=")).toSet).getOrElse(Set.empty)
    assert(materialized == deltaShards.map(s => s"shard=$s"),
      s"folded generation holds $materialized, delta routed to $deltaShards")
    (0 until meta0.numShards).filterNot(deltaShards).foreach { s =>
      assert(meta1.shardDirs(s) == "." && meta1.shardBuildIds(s) ==
        meta0.shardBuildIds(s), s"untouched shard $s must carry forward")
    }
    // LIVE-INSERT, not rebuild: every pre-existing node keeps its exact
    // (node -> row_id) slot; appended rows take the NEXT ids in row_id order
    deltaShards.foreach { s =>
      val before = nodes0.filter($"shard" === s)
        .select($"node", $"row_id").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val after = spark.read.parquet(s"$root1/nodes")
        .filter($"shard" === s).select($"node", $"row_id").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(before.forall { case (nd, rid) => after.get(nd).contains(rid) },
        s"shard $s: pre-existing node slots moved — that is a rebuild")
      val appended = after.filter(_._1 >= before.size).toSeq.sortBy(_._1)
      assert(appended.map(_._2) == appended.map(_._2).sorted &&
        appended.forall(_._2 >= 10000L),
        s"shard $s: appended rows not in ascending row_id order: $appended")
    }
    // the folded rows are served: each twin is retrievable at distance ~0
    // next to its original
    val probe = e.filter($"vec_id" < 4)
      .select($"vec_id", $"embedding").collect()
    probe.foreach { r =>
      val q = Seq((0L, r.getAs[scala.collection.mutable.Seq[Float]]("embedding").toArray))
        .toDF("qid", "qvec")
      val hits = DiskannIndex.search(spark, path, q, k = 2,
        searchListSize = 200, rescore = 150).collect().map(_.getLong(1)).toSet
      assert(hits == Set(r.getLong(0), r.getLong(0) + 10000),
        s"twin of ${r.getLong(0)} not served after the fold: $hits")
    }
  }

  test("incremental compaction: only delta/tombstone shards rebuild, the rest carried by manifest") {
    val path = "/tmp/graft_test_index/incr_compact"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n0 = e.count()
    DiskannIndex.build(e, "vec_id", "embedding", None, path,
      DiskannParams(metric = "cosine", partitioner = "ivf",
        ivfSeed = Some("ic42"), shardTargetRows = 200))
    val meta0 = DiskannIndex.loadMeta(spark, path)
    assert(meta0.numShards >= 3, s"want several shards, got ${meta0.numShards}")
    // shard data located through the generation's MANIFEST — the physical
    // dir may live in an older generation (or the flat root)
    def partFiles(root: String): Map[Int, Set[String]] = {
      val meta = DiskannIndex.loadMetaAt(spark, root)
      (0 until meta.numShards).map { s =>
        val base = DiskannIndex.shardGenRoot(root, meta, s)
        s -> Option(new java.io.File(s"$base/nodes/shard=$s").list())
          .map(_.filter(_.startsWith("part-")).toSet).getOrElse(Set.empty)
      }.toMap
    }
    def materialized(root: String): Set[String] =
      Option(new java.io.File(s"$root/nodes").list())
        .map(_.filter(_.startsWith("shard=")).toSet).getOrElse(Set.empty)
    val gen0 = partFiles(path)

    // delta: exact copies (new ids) of 5 vectors that live in ONE shard —
    // frozen-centroid assignment routes them back to that same shard
    val nodes0 = spark.read.parquet(s"$path/nodes")
    val srcShard = nodes0.select($"shard").head().getInt(0)
    // deterministic pick (orderBy before limit): `probe` below re-derives
    // the SAME rows — a bare limit() can legally return different subsets
    val deltaRows = nodes0.filter($"shard" === srcShard)
      .orderBy($"row_id").limit(5)
      .select(($"row_id" + 10000).as("row_id"), $"vec")
    deltaRows.write.mode("append").parquet(s"$path/delta")
    StreamingIngest.compact(spark, path)

    val root1 = DiskannIndex.resolveRoot(spark, path)
    assert(root1.endsWith("v000000001"))
    assert(DiskannIndex.loadMeta(spark, path).numRows == n0 + 5)
    val gen1 = partFiles(root1)
    assert(gen1(srcShard) != gen0(srcShard), "delta shard must be rebuilt")
    (0 until meta0.numShards).filterNot(_ == srcShard).foreach { s =>
      assert(gen1(s) == gen0(s), s"untouched shard $s must serve the same files")
    }
    // METADATA-ONLY commit: the new generation materializes ONLY the
    // rebuilt shard; the manifest points everything else at the flat root
    assert(materialized(root1) == Set(s"shard=$srcShard"),
      s"only the rebuilt shard belongs in the new generation, got ${materialized(root1)}")
    val meta1 = DiskannIndex.loadMetaAt(spark, root1)
    assert(meta1.shardDirs(srcShard) == "")
    (0 until meta0.numShards).filterNot(_ == srcShard).foreach { s =>
      assert(meta1.shardDirs(s) == ".", s"shard $s should reference the flat root")
    }
    // the rebuilt shard serves the new rows: an exact-duplicate query must
    // return BOTH twins at distance ~0
    val probe = nodes0.filter($"shard" === srcShard)
      .orderBy($"row_id").limit(5)
      .select($"row_id", $"vec").collect()
    val q = Seq((0L, probe(0).getAs[scala.collection.mutable.Seq[Float]]("vec").toArray))
      .toDF("qid", "qvec")
    val hits = DiskannIndex.search(spark, path, q, k = 2,
      searchListSize = 200, rescore = 150).collect().map(_.getLong(1)).toSet
    assert(hits == Set(probe(0).getLong(0), probe(0).getLong(0) + 10000), hits)

    // tombstones-only incremental: exactly the victim's shard rebuilds again
    // (victim row + vector materialized NOW — compaction prunes the flat
    // pre-versioning files nodes0 lazily points at)
    val victim = nodes0.filter($"shard" =!= srcShard)
      .select($"row_id", $"shard", $"vec").head()
    val vvec = victim.getAs[scala.collection.mutable.Seq[Float]]("vec").toArray
    StreamingIngest.compact(spark, path, tombstones = Set(victim.getLong(0)))
    val root2 = DiskannIndex.resolveRoot(spark, path)
    assert(root2.endsWith("v000000002"))
    assert(DiskannIndex.loadMeta(spark, path).numRows == n0 + 4)
    val gen2 = partFiles(root2)
    assert(gen2(victim.getInt(1)) != gen1(victim.getInt(1)))
    (0 until meta0.numShards)
      .filterNot(s => s == victim.getInt(1)).foreach { s =>
        assert(gen2(s) == gen1(s), s"shard $s untouched by the tombstone")
      }
    assert(materialized(root2) == Set(s"shard=${victim.getInt(1)}"))
    // manifest chains stay FLAT: srcShard (rebuilt in v1, untouched since)
    // points directly at v1, not through v1's manifest
    assert(DiskannIndex.loadMetaAt(spark, root2).shardDirs(srcShard) ==
      "versions/v000000001")
    // GC at shard-dir granularity: the flat root's srcShard dir is now
    // referenced by NO retained manifest (v2 points at v1, grace v1 rebuilt
    // it itself) and must be gone; flat dirs other shards still reference
    // survive
    assert(!new java.io.File(s"$path/nodes/shard=$srcShard").exists(),
      "superseded flat shard dir must be GC'd")
    assert(new java.io.File(s"$path/nodes/shard=${victim.getInt(1)}").exists(),
      "flat shard dir still referenced by the grace generation must survive")
    // warm-cache continuity: the twin search after compact #1 decoded every
    // shard into this JVM's cache; compact #2 rebuilt ONLY the victim's
    // shard, so untouched shards keep their epoch AND their warm searcher,
    // while the rebuilt shard's new epoch starts cold
    val meta2 = DiskannIndex.loadMeta(spark, path)
    assert(graft.index.GraphSearcher.peek(
      s"$path#$srcShard#${meta2.shardBuildIds(srcShard)}").isDefined,
      "untouched shard lost its warm searcher across incremental compaction")
    assert(graft.index.GraphSearcher.peek(
      s"$path#${victim.getInt(1)}#${meta2.shardBuildIds(victim.getInt(1))}").isEmpty,
      "rebuilt shard must start cold under its fresh epoch")

    // the tombstoned row is physically gone (VACUUM): exact search at its
    // own vector no longer returns it
    val q2 = Seq((0L, vvec)).toDF("qid", "qvec")
    val hits2 = DiskannIndex.search(spark, path, q2, k = 5,
      searchListSize = 200, rescore = 150).collect().map(_.getLong(1)).toSet
    assert(!hits2.contains(victim.getLong(0)))

    // append-then-delete in the SAME compaction: a delta row that is also
    // tombstoned must NOT be resurrected into the new generation
    val ghostVec = probe(2).getAs[scala.collection.mutable.Seq[Float]]("vec")
    val ghostId = probe(2).getLong(0) + 20000
    Seq((ghostId, ghostVec.toArray)).toDF("row_id", "vec")
      .write.mode("append").parquet(s"$path/delta")
    StreamingIngest.compact(spark, path, tombstones = Set(ghostId))
    assert(DiskannIndex.loadMeta(spark, path).numRows == n0 + 4) // unchanged
    val q3 = Seq((0L, ghostVec.toArray)).toDF("qid", "qvec")
    val hits3 = DiskannIndex.search(spark, path, q3, k = 5,
      searchListSize = 200, rescore = 150).collect().map(_.getLong(1)).toSet
    assert(!hits3.contains(ghostId), s"deleted-in-delta row resurrected: $hits3")
    // the grace window rolled v1→v2, so the flat victim dir (superseded by
    // v2's rebuild) is now unreferenced and GC'd, while v1's srcShard dir
    // survives because grace v2's manifest still points at it
    assert(!new java.io.File(s"$path/nodes/shard=${victim.getInt(1)}").exists(),
      "flat victim dir must be GC'd once the grace window rolls past v1")
    assert(new java.io.File(
      s"$path/versions/v000000001/nodes/shard=$srcShard").exists(),
      "v1's srcShard dir is still referenced by grace v2 and must survive")

    // growth gate with the split DISABLED (the ops escape hatch — and the
    // only behavior available to hash routing): with a tiny cap, the
    // partial rebuild REFUSES and compact falls back to the full rebuild
    // (fresh centroids, invariant restored). The default split path has
    // its own test below.
    Seq((probe(3).getLong(0) + 30000,
      probe(3).getAs[scala.collection.mutable.Seq[Float]]("vec").toArray))
      .toDF("row_id", "vec").write.mode("append").parquet(s"$path/delta")
    spark.conf.set("graft.compact.maxShardGrowth", "0.001")
    spark.conf.set("graft.compact.shardSplit", "false")
    try StreamingIngest.compact(spark, path)
    finally {
      spark.conf.unset("graft.compact.maxShardGrowth")
      spark.conf.unset("graft.compact.shardSplit")
    }
    val metaF = DiskannIndex.loadMeta(spark, path)
    assert(metaF.numRows == n0 + 5) // +1 new delta row, full rebuild counted it
    // probe(3)'s vector now has THREE copies: the original, the first
    // compaction's +10000 twin, and the new +30000 row
    val hitsF = DiskannIndex.search(spark, path,
      Seq((0L, probe(3).getAs[scala.collection.mutable.Seq[Float]]("vec").toArray))
        .toDF("qid", "qvec"), k = 3,
      searchListSize = 200, rescore = 150).collect().map(_.getLong(1)).toSet
    assert(hitsF == Set(probe(3).getLong(0), probe(3).getLong(0) + 10000,
      probe(3).getLong(0) + 30000), hitsF)
    // the full rebuild (v4) references nothing older, but grace v3's
    // manifest still chains back (srcShard→v1, victim→v2), so GC must keep
    // those shard dirs for in-flight v3 readers
    assert(new java.io.File(
      s"$path/versions/v000000001/nodes/shard=$srcShard").exists(),
      "shard dir referenced by the grace generation's manifest must survive")
    assert(new java.io.File(
      s"$path/versions/v000000002/nodes/shard=${victim.getInt(1)}").exists())
    // one more compaction rolls the grace window onto v4 (self-contained):
    // v1–v3 are referenced by nothing retained and deleted whole, as are
    // the flat root's leftovers — steady state is a two-generation footprint
    Seq((probe(4).getLong(0) + 40000,
      probe(4).getAs[scala.collection.mutable.Seq[Float]]("vec").toArray))
      .toDF("row_id", "vec").write.mode("append").parquet(s"$path/delta")
    StreamingIngest.compact(spark, path)
    assert(DiskannIndex.listVersions(spark, path) ==
      Seq("v000000004", "v000000005"))
    assert(!new java.io.File(s"$path/nodes").exists(),
      "flat root leftovers must be GC'd once nothing references them")
    assert(DiskannIndex.loadMeta(spark, path).numRows == n0 + 6)
  }

  test("hot-shard split: a skewed append stream splits the hot shard, never pays a full rebuild") {
    val path = "/tmp/graft_test_index/hot_split"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n0 = e.count()
    DiskannIndex.build(e, "vec_id", "embedding", None, path,
      DiskannParams(metric = "cosine", partitioner = "ivf",
        ivfSeed = Some("hs42"), shardTargetRows = 64))
    val meta0 = DiskannIndex.loadMeta(spark, path)
    assert(meta0.numShards >= 4, s"want several shards, got ${meta0.numShards}")

    // the skew fixture: every appended row is an exact copy (new id) of a
    // member of ONE shard — frozen-centroid routing funnels the whole
    // stream into it, the workload that used to force an O(corpus)
    // re-shard at every compaction once the growth gate tripped
    val nodes0 = spark.read.parquet(s"$path/nodes")
    val hot = nodes0.groupBy($"shard").count()
      .orderBy($"count", $"shard").head().getInt(0) // smallest = most waves
    val hotMembers = nodes0.filter($"shard" === hot)
      .orderBy($"row_id").select($"row_id", $"vec").collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.mutable.Seq[Float]]("vec").toArray))
    val untouchedShards = (0 until meta0.numShards).filterNot(_ == hot)

    var appended = 0L
    var wave = 0
    var splitAt = -1
    while (splitAt < 0 && wave < 8) {
      wave += 1
      spark.createDataFrame(hotMembers.toSeq.map { case (id, v) =>
        (id + 100000L * wave, v)
      }).toDF("row_id", "vec").write.mode("append").parquet(s"$path/delta")
      appended += hotMembers.length
      StreamingIngest.compact(spark, path)
      val m = DiskannIndex.loadMeta(spark, path)
      assert(m.numRows == n0 + appended, s"wave $wave lost rows")
      // the never-touched shards must keep their cache epochs through
      // EVERY compaction — a full rebuild would mint all-fresh epochs
      untouchedShards.foreach { u =>
        assert(m.shardBuildIds(u) == meta0.shardBuildIds(u),
          s"wave $wave: untouched shard $u rebuilt (full-rebuild fallback?)")
      }
      if (m.numShards > meta0.numShards) splitAt = wave
    }
    assert(splitAt > 0, "growth gate never tripped a split in 8 skew waves")
    val metaS = DiskannIndex.loadMeta(spark, path)
    assert(metaS.centroids.length == metaS.numShards &&
      metaS.shardBuildIds.length == metaS.numShards &&
      metaS.shardDirs.length == metaS.numShards &&
      metaS.shardRadii.length == metaS.numShards &&
      metaS.shardRows.length == metaS.numShards,
      "split must grow every per-shard meta array consistently")
    // the exact per-shard counts stay CONSERVED through folds and splits
    assert(metaS.shardRows.sum == metaS.numRows,
      s"shardRows drifted: ${metaS.shardRows.mkString(",")} vs ${metaS.numRows}")

    // stored radii stay SOUND over the split shards (they were re-measured
    // against the fresh sub-centroids): no member may sit outside its
    // shard's stored ball
    val metric = graft.index.Metric(metaS.metric)
    val root = DiskannIndex.resolveRoot(spark, path)
    val members = DiskannIndex
      .nodesDf(spark, root, metaS, 0 until metaS.numShards)
      .select($"shard", $"vec").collect()
      .map(r => (r.getInt(0),
        r.getAs[scala.collection.mutable.Seq[Float]]("vec").toArray))
    members.foreach { case (s, v) =>
      val bv = graft.index.BuildSpace(v, metaS.dimsToIndex, metric)
      val d = math.sqrt(graft.functions.VectorKernels.l2sq(bv, metaS.centroids(s)))
      assert(d <= metaS.shardRadii(s) + 1e-6,
        s"member of shard $s at $d outside stored radius ${metaS.shardRadii(s)}")
    }

    // keep the skew flowing AFTER the split: the next wave routes to the
    // new sub-centroids and folds/splits O(ingest) — still no full rebuild
    spark.createDataFrame(hotMembers.toSeq.map { case (id, v) =>
      (id + 900000L, v)
    }).toDF("row_id", "vec").write.mode("append").parquet(s"$path/delta")
    appended += hotMembers.length
    StreamingIngest.compact(spark, path)
    val metaN = DiskannIndex.loadMeta(spark, path)
    assert(metaN.numRows == n0 + appended)
    untouchedShards.foreach { u =>
      assert(metaN.shardBuildIds(u) == meta0.shardBuildIds(u),
        s"post-split wave rebuilt untouched shard $u")
    }

    // exactness after the split, top-k AND radius: all twins of member 0
    // must come back (the twins live across split sub-shards now)
    val (m0id, m0vec) = hotMembers(0)
    val waves = (1 to splitAt).map(_ * 100000L) :+ 900000L
    val twins = (Set(m0id) ++ waves.map(m0id + _)).map(java.lang.Long.valueOf)
    val q = Seq((0L, m0vec)).toDF("qid", "qvec")
    val hits = DiskannIndex.search(spark, path, q, k = twins.size,
        searchListSize = 300, rescore = 300)
      .collect().map(r => java.lang.Long.valueOf(r.getLong(1))).toSet
    assert(hits == twins, s"post-split top-k diverged: $hits vs $twins")
    // radius path exercises radiusShardsFor over the GROWN centroid/radii
    // arrays — a twin (dist 0) missing here means the split broke either
    // the traversal or the triangle-inequality prune
    val rhits = DiskannIndex.rangeSearch(spark, path, m0vec, radius = 1e-9)
      .map(t => java.lang.Long.valueOf(t._1)).toSet
    assert(rhits == twins, s"post-split radius scan diverged: $rhits vs $twins")
  }

  test("labeled live-insert fold: appended labels filter exactly, a NEW label gets a start node") {
    val path = "/tmp/graft_test_index/fold_labeled"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val labeled = e.withColumn("labels",
      array($"label".cast(org.apache.spark.sql.types.ShortType)))
    DiskannIndex.build(labeled.filter($"vec_id" < 400), "vec_id", "embedding",
      Some("labels"), path, DiskannParams(metric = "cosine"))
    // delta rows 400-499 carry their own label PLUS the never-seen label
    // 77 — the fold's dual insert must elect a start node for it among the
    // APPENDED node indices (GraphSearcher replays the same election)
    labeled.filter($"vec_id" >= 400)
      .select($"vec_id".as("row_id"), $"embedding".as("vec"),
        array_union($"labels", array(lit(77).cast(
          org.apache.spark.sql.types.ShortType))).as("labels"))
      .write.mode("append").parquet(s"$path/delta")
    StreamingIngest.compact(spark, path)
    assert(DiskannIndex.loadMeta(spark, path).numRows == 500)

    val report = DiskannIndex.reportDistFn(graft.index.Metric("cosine"))
    val corpus = labeled
      .select($"vec_id", $"embedding", $"label".cast("long")).collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.mutable.Seq[Float]]("embedding").toArray,
        r.getLong(2)))
    val qv = corpus.find(_._1 == 0L).get._2
    // the NEW label 77 exists only on folded rows: filtered search must
    // return exactly the appended population's nearest, none older
    val brute77 = corpus.filter(_._1 >= 400)
      .map { case (id, v, _) => (id, report(v, qv)) }
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSeq
    val got77 = DiskannIndex.searchPoint(spark, path, qv, 5,
      searchListSize = 500, rescore = 500, qlabels = Array(77.toShort))
      .map(_._1).toSeq
    assert(got77 == brute77, s"new-label filter diverged: $got77 vs $brute77")
    // a pre-existing label filters across BOTH base and folded rows
    val lbl = 1L
    val brute1 = corpus.filter { case (id, _, l) => l == lbl }
      .map { case (id, v, _) => (id, report(v, qv)) }
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSeq
    val got1 = DiskannIndex.searchPoint(spark, path, qv, 5,
      searchListSize = 500, rescore = 500, qlabels = Array(lbl.toShort))
      .map(_._1).toSeq
    assert(got1 == brute1, s"old-label filter diverged: $got1 vs $brute1")
  }

  test("degenerate split (point-mass shard) refuses and falls back to the full rebuild") {
    val path = "/tmp/graft_test_index/split_pointmass"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e, "vec_id", "embedding", None, path,
      DiskannParams(metric = "cosine", partitioner = "ivf",
        ivfSeed = Some("pm42"), shardTargetRows = 64))
    val meta0 = DiskannIndex.loadMeta(spark, path)
    // 200 EXACT copies of one vector: every copy routes to that vector's
    // shard, and no centroid router can subdivide an identical point mass
    // — the split's progress gate must refuse (one sub-shard would still
    // exceed the cap) and the compact must fall back to the full rebuild
    // instead of spiraling into empty sub-shards
    val v0 = e.filter($"vec_id" === 0).select($"embedding")
    e.filter($"vec_id" === 0)
      .crossJoin(spark.range(200).select(($"id" + 50000L).as("row_id")))
      .select($"row_id", $"embedding".as("vec"))
      .write.mode("append").parquet(s"$path/delta")
    StreamingIngest.compact(spark, path)
    val meta = DiskannIndex.loadMeta(spark, path)
    assert(meta.numRows == 500 + 200)
    // full rebuild took over: every shard carries the same fresh epoch
    assert(meta.shardBuildIds.distinct.length == 1 &&
      meta.shardBuildIds.head != meta0.shardBuildIds.head,
      "point-mass split should have fallen back to the full rebuild")
    // the mass serves: top-k at the point mass returns copies at dist 0
    val qv = v0.head().getAs[scala.collection.mutable.Seq[Float]](0).toArray
    val hits = DiskannIndex.searchPoint(spark, path, qv, 10,
      searchListSize = 700, rescore = 700)
    assert(hits.forall(_._2 <= 1e-9) && hits.map(_._1).contains(0L),
      s"point-mass serving broke: $hits")
  }

  test("tombstone-wipe of an entire shard leaves a servable, resumable index") {
    val path = "/tmp/graft_test_index/shard_wipe"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e, "vec_id", "embedding", None, path,
      DiskannParams(metric = "cosine", partitioner = "ivf",
        ivfSeed = Some("wipe42"), shardTargetRows = 64))
    val meta0 = DiskannIndex.loadMeta(spark, path)
    val nodes0 = spark.read.parquet(s"$path/nodes")
    val victim = nodes0.groupBy($"shard").count()
      .orderBy($"count", $"shard").head().getInt(0)
    val wiped = nodes0.filter($"shard" === victim)
      .select($"row_id").collect().map(_.getLong(0)).toSet
    assert(wiped.nonEmpty)
    // the ONLY affected shard rebuilds to ZERO rows: the new generation's
    // own nodes dir holds no part files at all — reads of it must not die
    // on parquet schema inference (explicit node schema), and the empty
    // shard must not wedge the resumable path
    StreamingIngest.compact(spark, path, tombstones = wiped)
    val meta = DiskannIndex.loadMeta(spark, path)
    assert(meta.numRows == 500 - wiped.size)
    // the wiped shard's exact count reads ZERO from the meta — the
    // authoritative emptiness signal the resumable open relies on
    assert(meta.shardRows.length == meta.numShards &&
      meta.shardRows(victim) == 0L && meta.shardRows.sum == meta.numRows,
      s"shardRows wrong after wipe: ${meta.shardRows.mkString(",")}")
    val survivors = e.filter(!$"vec_id".isin(wiped.toSeq.map(Long.box): _*))
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.mutable.Seq[Float]]("embedding").toArray))
    val report = DiskannIndex.reportDistFn(graft.index.Metric("cosine"))
    val (qid0, qv) = survivors.head
    val brute = survivors.map { case (id, v) => (id, report(v, qv)) }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
    val got = DiskannIndex.searchPoint(spark, path, qv, 10,
      searchListSize = 500, rescore = 500).map(_._1).toSeq
    assert(got == brute, s"post-wipe search diverged: $got vs $brute")
    assert(!got.exists(wiped), "wiped rows resurfaced")
    // the radius path and its resumable frontier survive the empty shard:
    // after one warm search, every needed shard (including the empty one)
    // has a cached searcher, so the resumable handle OPENS
    val rhits = DiskannIndex.rangeSearch(spark, path, qv, radius = 1e-9)
      .map(_._1).toSet
    assert(rhits == Set(qid0), s"post-wipe radius diverged: $rhits")
    assert(DiskannIndex.openResumableScan(spark, path, qv, null).isDefined,
      "empty shard left the resumable scan permanently un-openable")
  }

  test("insert-fold endurance: 20 successive append+fold cycles keep recall and exactness") {
    val path = "/tmp/graft_test_index/fold_endurance"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // default params (R=50, build L=100, SBQ, hash): the reference's
    // insert-after-create accuracy shape (build.rs:1804-1853) run 20 deep —
    // repeated lazy-NaN seeded folds must not degrade the graph
    // cumulatively in ways one fold cannot show
    DiskannIndex.build(e.filter($"vec_id" < 100), "vec_id", "embedding",
      None, path, DiskannParams(metric = "cosine"))
    (0 until 20).foreach { i =>
      e.filter($"vec_id" >= 100 + 20 * i && $"vec_id" < 120 + 20 * i)
        .select($"vec_id".as("row_id"), $"embedding".as("vec"))
        .write.mode("append").parquet(s"$path/delta")
      StreamingIngest.compact(spark, path)
    }
    val meta = DiskannIndex.loadMeta(spark, path)
    assert(meta.numRows == 500, s"folds lost rows: ${meta.numRows}")
    assert(meta.shardRows.sum == 500,
      s"shardRows drifted across 20 folds: ${meta.shardRows.mkString(",")}")

    // exact ground truth from the engine's own report metric
    val report = DiskannIndex.reportDistFn(graft.index.Metric("cosine"))
    val corpus = e.select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.mutable.Seq[Float]]("embedding").toArray))
    def exactTopK(qv: Array[Float], k: Int): Seq[Long] =
      corpus.map { case (id, v) => (id, report(v, qv)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSeq

    // recall gate at the reference's DEFAULT query params (L=100,
    // rescore=50), COMPARATIVE against ONE fold of the same 400 rows into
    // the same base — the cumulative-degradation question the reference's
    // insert-after-create test asks (build.rs:1804-1853): 20 successive
    // lazy-NaN seeded folds must score like a single fold of the identical
    // data, or fold depth is eroding the graph. (A fresh 500-row one-shot
    // build is NOT the right baseline: it re-trains the SBQ quantizer on
    // all 500 rows, while every fold keeps the 100-row-trained frozen
    // quantizer — the reference's aminsert freezes it the same way.)
    val oneFoldPath = s"${path}_one_fold"
    deleteRec(new java.io.File(oneFoldPath))
    DiskannIndex.build(e.filter($"vec_id" < 100), "vec_id", "embedding",
      None, oneFoldPath, DiskannParams(metric = "cosine"))
    e.filter($"vec_id" >= 100 && $"vec_id" < 500)
      .select($"vec_id".as("row_id"), $"embedding".as("vec"))
      .write.mode("append").parquet(s"$oneFoldPath/delta")
    StreamingIngest.compact(spark, oneFoldPath)
    assert(DiskannIndex.loadMeta(spark, oneFoldPath).numRows == 500)
    val qs = corpus.filter(_._1 < 10)
    def avgRecall(p: String): Double = {
      val rs = qs.map { case (_, qv) =>
        val got = DiskannIndex.searchPoint(spark, p, qv, 10,
          searchListSize = 100, rescore = 50).map(_._1).toSet
        exactTopK(qv, 10).count(got) / 10.0
      }
      rs.sum / rs.length
    }
    val deepRecall = avgRecall(path)
    val oneRecall = avgRecall(oneFoldPath)
    assert(deepRecall >= oneRecall - 0.05 && deepRecall >= 0.7,
      s"recall@10: 20 folds = $deepRecall vs one fold = $oneRecall")

    // exact-equality gate at verification width: the folded graph must
    // still reach the true top-10 for every probe when the frontier covers
    // the corpus
    qs.foreach { case (qid, qv) =>
      val got = DiskannIndex.searchPoint(spark, path, qv, 10,
        searchListSize = 500, rescore = 500).map(_._1).toSeq
      assert(got == exactTopK(qv, 10), s"fold endurance: probe $qid diverged")
    }
  }

  test("maybeCompact: quantizer staleness fires exactly one automatic REINDEX") {
    val path = "/tmp/graft_test_index/auto_reindex"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def appendDelta(lo: Int, hi: Int): Unit =
      e.filter($"vec_id" >= lo && $"vec_id" < hi)
        .select($"vec_id".as("row_id"), $"embedding".as("vec"))
        .write.mode("append").parquet(s"$path/delta")

    // full build on 100 rows: quantizer trained here, fullBuildRows stamped
    DiskannIndex.build(e.filter($"vec_id" < 100), "vec_id", "embedding",
      None, path, DiskannParams(metric = "cosine"))
    val m0 = DiskannIndex.loadMeta(spark, path)
    assert(m0.fullBuildRows == 100 && m0.modelCount == 100,
      s"full build must stamp fullBuildRows/modelCount: $m0")

    // fold 1: (180-100)/100 = 0.8 < 2.0 default — incremental, models FROZEN
    appendDelta(100, 180)
    assert(StreamingIngest.maybeCompact(spark, path, maxDeltaRows = 1))
    val m1 = DiskannIndex.loadMeta(spark, path)
    assert(m1.numRows == 180 && m1.fullBuildRows == 100 && m1.modelCount == 100,
      s"below-threshold fold must carry the frozen models: $m1")

    // fold 2: (180+110-100)/100 = 1.9 < 2.0 — still incremental
    appendDelta(180, 290)
    assert(StreamingIngest.maybeCompact(spark, path, maxDeltaRows = 1))
    assert(DiskannIndex.loadMeta(spark, path).fullBuildRows == 100)

    // fold 3: (290+210-100)/100 = 4.0 >= 2.0 — escalates to force=true,
    // retrains the quantizer on the whole corpus, re-stamps fullBuildRows
    appendDelta(290, 500)
    assert(StreamingIngest.maybeCompact(spark, path, maxDeltaRows = 1))
    val m2 = DiskannIndex.loadMeta(spark, path)
    assert(m2.numRows == 500 && m2.fullBuildRows == 500 && m2.modelCount == 500,
      s"staleness must escalate into a retraining REINDEX: $m2")

    // fold 4: a TRIPLE-replayed duplicate-only delta (at-least-once shape:
    // 150 raw rows, 50 unique, 0 new) under a threshold the RAW count
    // would cross ((500+150-500)/500 = 0.3 >= 0.25) but the unique count
    // must not ((500+50-500)/500 = 0.1) — replay duplicates add no model
    // staleness and must not buy a premature O(corpus) REINDEX
    spark.conf.set("graft.reindex.staleFraction", "0.25")
    try {
      appendDelta(450, 500); appendDelta(450, 500); appendDelta(450, 500)
      assert(StreamingIngest.maybeCompact(spark, path, maxDeltaRows = 1))
    } finally spark.conf.unset("graft.reindex.staleFraction")
    val m3 = DiskannIndex.loadMeta(spark, path)
    assert(m3.numRows == 500 && m3.fullBuildRows == 500 && m3.modelCount == 500,
      s"post-REINDEX folds must go back to incremental: $m3")
    // four compacts, four installed generations (GC keeps current+grace, so
    // the max version NAME is the install count) — lease discipline intact
    assert(DiskannIndex.listVersions(spark, path).max == "v000000004")

    // recall returns to the fresh-build envelope: after the REINDEX the
    // index is a full build of the identical 500 rows, so it must score
    // like a one-shot build — the exact envelope the endurance gate
    // measures the FROZEN quantizer against (0.79 frozen vs 0.88 fresh)
    val freshPath = s"${path}_fresh"
    deleteRec(new java.io.File(freshPath))
    DiskannIndex.build(e, "vec_id", "embedding", None, freshPath,
      DiskannParams(metric = "cosine"))
    val report = DiskannIndex.reportDistFn(graft.index.Metric("cosine"))
    val corpus = e.select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.mutable.Seq[Float]]("embedding").toArray))
    val qs = corpus.filter(_._1 < 10)
    def avgRecall(p: String): Double = {
      val rs = qs.map { case (_, qv) =>
        val got = DiskannIndex.searchPoint(spark, p, qv, 10,
          searchListSize = 100, rescore = 50).map(_._1).toSet
        corpus.map { case (id, v) => (id, report(v, qv)) }
          .sortBy { case (id, d) => (d, id) }.take(10).count(t => got(t._1)) / 10.0
      }
      rs.sum / rs.length
    }
    val reindexed = avgRecall(path)
    val fresh = avgRecall(freshPath)
    assert(reindexed >= fresh - 0.05,
      s"auto-REINDEX did not restore the fresh-build envelope: $reindexed vs $fresh")

    // disabling the trigger (<=0) keeps every fold incremental
    spark.conf.set("graft.reindex.staleFraction", "0")
    try {
      val path2 = "/tmp/graft_test_index/auto_reindex_off"
      deleteRec(new java.io.File(path2))
      DiskannIndex.build(e.filter($"vec_id" < 50), "vec_id", "embedding",
        None, path2, DiskannParams(metric = "cosine"))
      e.filter($"vec_id" >= 50 && $"vec_id" < 400)
        .select($"vec_id".as("row_id"), $"embedding".as("vec"))
        .write.mode("append").parquet(s"$path2/delta")
      assert(StreamingIngest.maybeCompact(spark, path2, maxDeltaRows = 1))
      val mOff = DiskannIndex.loadMeta(spark, path2)
      assert(mOff.numRows == 400 && mOff.fullBuildRows == 50 &&
        mOff.modelCount == 50,
        s"staleFraction<=0 must disable the trigger: $mOff")
    } finally spark.conf.unset("graft.reindex.staleFraction")
  }

  test("searchFreshDistributed: offline batch path sees the delta without a compact") {
    val path = "/tmp/graft_test_index/fresh_dist"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 400), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    e.filter($"vec_id" >= 400)
      .select($"vec_id".as("row_id"), $"embedding".as("vec"))
      .write.mode("append").parquet(s"$path/delta")

    val queries = e.filter($"vec_id".isin(5L, 450L, 499L))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = StreamingIngest.searchFreshDistributed(spark, path, queries,
      k = 3, searchListSize = 200, rescore = 150).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // each query's own row comes back — 450/499 live ONLY in the delta
    assert(got(5L).contains(5L) && got(450L).contains(450L) &&
      got(499L).contains(499L), got.toString)
    // parity with the ONLINE fresh path on identical queries
    val online = StreamingIngest.searchFresh(spark, path, queries, k = 3,
      searchListSize = 200, rescore = 150).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9)))
      .toSet
    val dist = StreamingIngest.searchFreshDistributed(spark, path, queries,
      k = 3, searchListSize = 200, rescore = 150).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9)))
      .toSet
    assert(dist == online, s"offline/online fresh mismatch: $dist vs $online")
    // a tombstoned delta row is excluded
    val gone = StreamingIngest.searchFreshDistributed(spark, path, queries,
      k = 3, searchListSize = 200, rescore = 150, tombstones = Set(450L))
      .collect().map(_.getLong(1)).toSet
    assert(!gone.contains(450L))
    // at-least-once ingest: a retried micro-batch duplicates every delta
    // row — results must be identical (duplicate row_ids must not evict
    // distinct true neighbors from the bounded heap)
    e.filter($"vec_id" >= 400)
      .select($"vec_id".as("row_id"), $"embedding".as("vec"))
      .write.mode("append").parquet(s"$path/delta")
    val dup = StreamingIngest.searchFreshDistributed(spark, path, queries,
      k = 3, searchListSize = 200, rescore = 150).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9)))
      .toSet
    assert(dup == online, s"duplicated delta changed results: $dup vs $online")
  }

  test("maybeCompact: autovacuum thresholds — absolute rows, main fraction, no-op below") {
    val path = "/tmp/graft_test_index/auto_compact"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 400), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    def appendDelta(lo: Int, hi: Int): Unit =
      e.filter($"vec_id" >= lo && $"vec_id" < hi)
        .select($"vec_id".as("row_id"), $"embedding".as("vec"))
        .write.mode("append").parquet(s"$path/delta")

    // empty delta: trivially not due
    assert(!StreamingIngest.maybeCompact(spark, path))
    // 50 delta rows vs 400 main: below both 100-row and 20% thresholds
    appendDelta(400, 450)
    assert(!StreamingIngest.maybeCompact(spark, path,
      maxDeltaRows = 100, maxDeltaFrac = 0.2))
    assert(new java.io.File(s"$path/delta").exists(), "delta must survive a no-op")
    assert(DiskannIndex.listVersions(spark, path).isEmpty)
    // fraction trips first: 50/400 = 12.5% >= 10%
    assert(StreamingIngest.maybeCompact(spark, path,
      maxDeltaRows = 100, maxDeltaFrac = 0.1))
    assert(DiskannIndex.loadMeta(spark, path).numRows == 450)
    assert(DiskannIndex.listVersions(spark, path) == Seq("v000000001"))
    // absolute row count trips regardless of fraction
    appendDelta(450, 500)
    assert(StreamingIngest.maybeCompact(spark, path,
      maxDeltaRows = 50, maxDeltaFrac = 0.99))
    assert(DiskannIndex.loadMeta(spark, path).numRows == 500)
  }

  test("startDeltaIngest(autoCompact): threshold folds the delta inside the stream") {
    implicit val sqlCtx = spark.sqlContext
    val path = "/tmp/graft_test_index/auto_ingest"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 400), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    val tail = e.filter($"vec_id" >= 400)
      .collect().map(r => (r.getLong(0),
        r.getAs[scala.collection.mutable.ArraySeq[Float]](1).toArray))

    spark.conf.set("graft.compact.maxDeltaRows", "60")
    spark.conf.set("graft.compact.maxDeltaFrac", "0.9") // rows trip first
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingIngest.startDeltaIngest(mem.toDF().toDF("row_id", "vec"),
      path, s"/tmp/graft_ckpt_${System.nanoTime()}", autoCompact = true)
    try {
      // batch 1: 40 delta rows, below the 60-row threshold -> no compact
      mem.addData(tail.take(40).toSeq)
      q.processAllAvailable()
      assert(DiskannIndex.listVersions(spark, path).isEmpty,
        "below-threshold batch must not compact")
      // batch 2: 60 more -> 100 >= 60, the stream folds the delta itself
      mem.addData(tail.drop(40).toSeq)
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("graft.compact.maxDeltaRows")
      spark.conf.unset("graft.compact.maxDeltaFrac")
    }
    assert(DiskannIndex.listVersions(spark, path) == Seq("v000000001"))
    assert(DiskannIndex.loadMeta(spark, path).numRows == 500)
    assert(dirEmpty(s"$path/delta"))
    // compacted rows serve from the main graph
    val queries = e.filter($"vec_id" === 470)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val hits = DiskannIndex.search(spark, path, queries, k = 3,
      searchListSize = 200, rescore = 150).collect().map(_.getLong(1))
    assert(hits.contains(470L))
  }

  test("lease lock: S3A-style non-exclusive create — exactly one writer verifies ownership") {
    // simulate an object store where create(overwrite=false) is NOT atomic:
    // both writers' creates "succeed" (exclusiveCreate=false forces the
    // overwrite path on the local FS). Content is last-write-wins, so the
    // re-read verification admits EXACTLY one owner — the loser fails fast
    // instead of compacting concurrently. The versioned install's rename
    // collision remains the documented backstop for a delayed overwrite
    // landing after both verified.
    val dir = new java.io.File("/tmp/graft_test_index/lease_lock")
    dir.mkdirs()
    val lockPath = new org.apache.hadoop.fs.Path(s"$dir/_compact.lock")
    val fs = lockPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(lockPath, false)
    val a = "writer-a"; val b = "writer-b"
    // interleaving: a creates, b overwrites (the S3A hazard), both verify
    assert(StreamingIngest.acquireLease(fs, lockPath, a, exclusiveCreate = false))
    val aStillOwns = StreamingIngest.holdsLease(fs, lockPath, a)
    assert(aStillOwns) // no contention yet
    assert(StreamingIngest.acquireLease(fs, lockPath, b, exclusiveCreate = false))
    // after b's overwrite, a's verify fails: one owner, and it is b
    assert(!StreamingIngest.holdsLease(fs, lockPath, a))
    assert(StreamingIngest.holdsLease(fs, lockPath, b))
    val owners = Seq(a, b).filter(StreamingIngest.holdsLease(fs, lockPath, _))
    assert(owners == Seq(b), s"expected exactly one lease owner, got $owners")
    // the loser's release must NOT remove the winner's lock (guarded delete)
    if (StreamingIngest.holdsLease(fs, lockPath, a)) fs.delete(lockPath, false)
    assert(StreamingIngest.holdsLease(fs, lockPath, b))
    fs.delete(lockPath, false)
  }

  test("streaming dedup drops duplicate content within the watermark, first wins") {
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingIngest.streamingDedup(
      mem.toDF().toDF("ts", "text"), "text", "ts", "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    mem.addData((t(0), "alpha"), (t(1), "beta"), (t(2), "alpha"))
    q.processAllAvailable()
    mem.addData((t(3), "alpha"), (t(4), "gamma"), (t(4), "gamma"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sdedup")
      .select($"ts", $"text").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))
    // one row per distinct content, and it is the FIRST arrival's timestamp
    assert(rows.toSet == Set((t(0), "alpha"), (t(1), "beta"), (t(4), "gamma")))
  }

  test("streaming curation gate: quality + bloom + dedup compose in one query") {
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val evalText = "the quick brown fox jumps over the lazy dog"
    val words = spark.sparkContext.broadcast(
      graft.operators.Curation.bloomFilterWords(
        Seq((0L, evalText)).toDF("id", "text"), "id", "text", mBits = 1 << 16))
    val good = "the quick red panda naps under a warm tree today"
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingIngest.streamingCurationGate(
      mem.toDF().toDF("ts", "text"), "text", "ts", minQuality = 0.5,
      bloom = Some(StreamingIngest.BloomGate(words, mBits = 1 << 16)),
      watermark = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sgate").start()
    mem.addData(
      (t(0), good), // survives
      (t(1), "111 222 333 444 555"), // quality-gated (digits, no stopwords)
      (t(2), evalText), // bloom-gated (contaminated)
      (t(3), good)) // dedup-gated (duplicate content)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sgate").collect()
    assert(rows.length == 1, s"expected 1 survivor, got ${rows.length}")
    val r = rows.head
    assert(r.getAs[java.sql.Timestamp]("ts") == t(0), "first arrival must win")
    assert(r.getAs[String]("text") == good)
    assert(r.getAs[Double]("quality_score") >= 0.5)
    assert(r.getAs[Double]("bloom_frac") < 0.5)
  }

  test("compact folds tombstones: deleted rows physically leave the index (VACUUM analog)") {
    val path = "/tmp/graft_test_index/vacuum"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e, "vec_id", "embedding", None, path,
      DiskannParams(metric = "cosine"))
    val dead = (0L until 50L).toSet
    // tombstones-only compaction (no delta) must still rebuild
    StreamingIngest.compact(spark, path, tombstones = dead)
    val root = DiskannIndex.resolveRoot(spark, path)
    val remaining = spark.read.parquet(s"$root/nodes")
      .select("row_id").collect().map(_.getLong(0)).toSet
    assert(remaining.intersect(dead).isEmpty)
    assert(remaining.size == e.count() - dead.size)
    // searches with NO tombstone set never see the deleted rows
    val q = e.filter($"vec_id" === 3).select(
      lit(3L).as("qid"), $"embedding".as("qvec"))
    val hits = DiskannIndex.search(spark, path, q, k = 10,
      searchListSize = 200, rescore = 150)
      .collect().map(_.getLong(1)).toSet
    assert(hits.intersect(dead).isEmpty)
    assert(hits.nonEmpty)
  }

  test("streaming incremental dedup: micro-batches checked against the standing corpus") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different content about spark engines and parquet files"),
    ).toDF("doc_id", "text")
    val flagged = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val hits = graft.operators.Dedup.minhashNearDupAgainst(corpus, batch,
          "doc_id", "text", threshold = 0.5)
          .select("batch_id").distinct().collect().map(_.getLong(0))
        flagged.synchronized { flagged ++= hits }
        graft.CacheScope.releaseAll()
        ()
      }
      .start()
    mem.addData((10L, "the quick brown fox jumps over the lazy cat"),
      (11L, "entirely novel words nobody wrote before about anything today"))
    q.processAllAvailable()
    mem.addData(Seq((12L, "the quick brown fox jumps over the lazy dog")))
    q.processAllAvailable()
    q.stop()
    // 10 is a near-dup of corpus 0, 12 an exact dup; 11 is fresh
    assert(flagged == Set(10L, 12L))
  }

  test("sliding chunks run unchanged on a stream (stateless generators)") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, "abcdefghijklmno"), (2L, ""), (3L, "xyz"))
    val mem = MemoryStream[(Long, String)]
    val chunks = graft.operators.TextAnalysis.slidingChunks(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      chunkSize = 10, stride = 7)
    val q = chunks.writeStream.outputMode("append")
      .format("memory").queryName("chunks_stream").start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("chunks_stream")
      .select($"id", $"chunk_start", $"chunk_md5").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = graft.operators.TextAnalysis.slidingChunks(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        chunkSize = 10, stride = 7)
      .select($"id", $"chunk_start", $"chunk_md5").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("windowed event counts over a stream match the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // ts physical type differs across test-data generations: nanos-as-long
    // vs TIMESTAMP(MICROS) — normalize either to a session-tz timestamp
    val batch = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(($"ts" / 1000).cast("long")))
      case _ => raw.withColumn("ts", $"ts".cast("timestamp"))
    }).select($"ts", $"event_type", $"value")
    val rows = batch.collect().map(r =>
      (r.getTimestamp(0), r.getString(1), r.getDouble(2)))

    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = StreamingIngest.windowedEventCounts(
      mem.toDF().toDF("ts", "event_type", "value"))
    mem.addData(rows.toSeq)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ev_counts").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ev_counts")
      .select($"window_start", $"event_type", $"n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val expected = batch
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start", $"event_type", $"n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == expected)
  }

  test("in-flight reader survives one compaction (grace window), not two") {
    val path = "/tmp/graft_test_index/grace"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 300), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    def compactOnce(id: Long): Unit = {
      val v = e.filter($"vec_id" === 300 + id).select($"embedding")
        .head().getSeq[Float](0).toArray
      StreamingIngest.appendBatchToDelta(path)(
        Seq((300L + id, v)).toDF("row_id", "vec"), id)
      StreamingIngest.compact(spark, path)
    }
    // an in-flight reader: plan bound to the CURRENT generation's files
    // (exactly what searchRows does at resolve time), not yet executed
    val gen0 = DiskannIndex.resolveRoot(spark, path)
    val meta0 = DiskannIndex.loadMeta(spark, gen0)
    val inFlight = spark.read.parquet(s"$gen0/nodes")
    compactOnce(0L) // swap + GC; gen0 survives as the grace root
    assert(inFlight.count() == meta0.numRows,
      "a reader that resolved before the swap must finish off the grace generation")
    // a second compaction pushes gen0 out of the grace window: the stale
    // plan now fails LOUD (files gone) rather than silently serving a
    // pre-delete graph — the documented boundary of snapshot freshness
    compactOnce(1L)
    val survived = try { inFlight.count(); true }
      catch { case _: Exception => false }
    assert(!survived,
      "two generations back must be collected — grace is one swap deep")
  }

  test("searchPointFresh: read-your-writes at the point API, fast path when compacted") {
    val path = "/tmp/graft_test_index/point_fresh"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 400), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    val v450 = e.filter($"vec_id" === 450).select($"embedding")
      .head().getSeq[Float](0).toArray
    // not yet appended: neither API sees row 450
    assert(!StreamingIngest.searchPointFresh(spark, path, v450, k = 5,
      searchListSize = 200, rescore = 150).exists(_._1 == 450L))
    StreamingIngest.appendBatchToDelta(path)(
      Seq((450L, v450)).toDF("row_id", "vec"), 0L)
    // fresh point API sees the delta row at distance ~0; raw does not
    val fresh = StreamingIngest.searchPointFresh(spark, path, v450, k = 5,
      searchListSize = 200, rescore = 150)
    assert(fresh.head._1 == 450L && fresh.head._2 < 1e-6)
    assert(!DiskannIndex.searchPoint(spark, path, v450, k = 5,
      searchListSize = 200, rescore = 150).exists(_._1 == 450L))
    // tombstones mask through the fresh point path too
    DiskannIndex.deleteRows(spark, path, Seq(450L))
    assert(!StreamingIngest.searchPointFresh(spark, path, v450, k = 5,
      searchListSize = 200, rescore = 150).exists(_._1 == 450L))
    // after compact (row physically removed) the no-delta fast path serves
    StreamingIngest.compact(spark, path)
    val post = StreamingIngest.searchPointFresh(spark, path, v450, k = 5,
      searchListSize = 200, rescore = 150)
    assert(post.nonEmpty && !post.exists(_._1 == 450L))
  }

  test("servePointBatchFresh: executor pool + delta merge, read-your-writes") {
    val path = "/tmp/graft_test_index/pool_fresh"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 400), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    val v450 = e.filter($"vec_id" === 450).select($"embedding")
      .head().getSeq[Float](0).toArray
    val q = Seq((0L, v450, null: Array[Short]))
    // not yet appended: the fresh pool does not see row 450
    assert(!StreamingIngest.servePointBatchFresh(spark, path, q, k = 5,
      searchListSize = 200, rescore = 150).exists(_._2 == 450L))
    StreamingIngest.appendBatchToDelta(path)(
      Seq((450L, v450)).toDF("row_id", "vec"), 0L)
    // delta row surfaces at distance ~0; the raw pool does not see it
    val fresh = StreamingIngest.servePointBatchFresh(spark, path, q, k = 5,
      searchListSize = 200, rescore = 150)
    assert(fresh.head._2 == 450L && fresh.head._3 < 1e-6)
    assert(!DiskannIndex.servePointBatch(spark, path, q, k = 5,
      searchListSize = 200, rescore = 150).exists(_._2 == 450L))
    // equality with the verified searchPointFresh kernel on the same state
    val viaPoint = StreamingIngest.searchPointFresh(spark, path, v450, k = 5,
      searchListSize = 200, rescore = 150)
    assert(fresh.map(h => (h._2, h._3)) == viaPoint)
    // tombstones mask through the fresh pool too
    DiskannIndex.deleteRows(spark, path, Seq(450L))
    assert(!StreamingIngest.servePointBatchFresh(spark, path, q, k = 5,
      searchListSize = 200, rescore = 150).exists(_._2 == 450L))
    // post-compact the fold is physical and the pool serves it directly
    StreamingIngest.compact(spark, path)
    val post = StreamingIngest.servePointBatchFresh(spark, path, q, k = 5,
      searchListSize = 200, rescore = 150)
    assert(post.nonEmpty && !post.exists(_._2 == 450L))
  }

  /** Seeded point-path fixture: 500 clustered 32-d vectors (ten centres,
    * label = centre) as (vec_id, embedding, label). */
  private def pointFixture(): Seq[(Long, Array[Float], Short)] = {
    val rnd = new scala.util.Random(17)
    val centres = Array.fill(10, 32)(rnd.nextGaussian())
    (0 until 500).map { i =>
      val c = i % 10
      (i.toLong, centres(c).map(x => (x + 0.5 * rnd.nextGaussian()).toFloat),
        c.toShort)
    }
  }

  test("searchPointFresh equals searchFresh on a replayed, overlapping, tombstoned delta; warm point reads run 0 jobs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = "/tmp/graft_test_index/point_fresh_eq"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val fixture = pointFixture()
    val labeled = fixture.map { case (id, v, l) => (id, v, Array(l)) }
      .toDF("vec_id", "embedding", "labels")
    DiskannIndex.build(labeled.filter($"vec_id" < 400), "vec_id", "embedding",
      Some("labels"), path, DiskannParams(metric = "cosine",
        partitioner = "ivf", ivfSeed = Some("pf17"), shardTargetRows = 100))
    // the delta: rows 380-459 appended TWICE (an at-least-once replay), of
    // which 380-399 are ALSO in the main graph
    def batch(): org.apache.spark.sql.DataFrame =
      labeled.filter($"vec_id" >= 380 && $"vec_id" < 460)
        .select($"vec_id".as("row_id"), $"embedding".as("vec"), $"labels")
    StreamingIngest.appendBatchToDelta(path)(batch(), 0L)
    StreamingIngest.appendBatchToDelta(path)(batch(), 1L)
    // tombstones on both sides: main only, main and delta, delta only
    val dead = Set(7L, 123L, 385L, 430L)
    DiskannIndex.deleteRows(spark, path, dead.toSeq)

    val rows = fixture.map { case (id, v, l) => id -> (v, l) }.toMap
    val cases: Seq[(Array[Float], Array[Short])] =
      Seq(5L, 123L, 385L, 390L, 420L, 430L, 470L).flatMap { id =>
        val (v, l) = rows(id)
        Seq((v, null), (v, Array(l)), (v, Array(l, ((l + 1) % 10).toShort)))
      } ++ Seq((null, null), (null, Array(rows(5L)._2)))
    val k = 10
    val qSchema = StructType(Seq(StructField("qid", LongType, nullable = false),
      StructField("qvec", ArrayType(FloatType)),
      StructField("qlabels", ArrayType(ShortType))))
    def viaFrame(qv: Array[Float], ql: Array[Short]): Seq[(Long, Double)] = {
      val q = spark.createDataFrame(java.util.Arrays.asList(Row(0L,
        Option(qv).map(_.toSeq).orNull, Option(ql).map(_.toSeq).orNull)),
        qSchema)
      viaSparkDelta(path, q, k)
        .map(r => (r.getLong(1), r.getDouble(2)))
        .sortBy { case (rid, d) => (d, rid) }.toSeq
    }
    // bit-identical distances; NaN (a null query on a cosine index) equals NaN
    def bits(hs: Seq[(Long, Double)]): Seq[(Long, Long)] =
      hs.map { case (rid, d) => (rid, java.lang.Double.doubleToLongBits(d)) }
    cases.foreach { case (qv, ql) =>
      val want = viaFrame(qv, ql)
      val got = StreamingIngest.searchPointFresh(spark, path, qv, k,
        qlabels = ql)
      val pool = StreamingIngest.servePointBatchFresh(spark, path,
        Seq((0L, qv, ql)), k).map(h => (h._2, h._3))
      val what = s"qvec=${Option(qv).map(_.take(2).mkString(","))} " +
        s"qlabels=${Option(ql).map(_.mkString(","))}"
      assert(want.length == k, s"$what: frame path returned ${want.length}")
      assert(bits(got) == bits(want), s"$what: point $got vs frame $want")
      assert(bits(pool) == bits(want), s"$what: pool $pool vs frame $want")
      assert(got.map(_._1).distinct.length == got.length &&
        !got.exists(h => dead(h._1)), s"$what: $got")
    }

    // warm point reads start no Spark job: the first read after the last
    // write has already collected the delta and tombstone memos and decoded
    // every shard
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        groups.add(Option(jobStart.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val (qv, l) = rows(420L)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("warm-point-reads", "warm point reads")
      try {
        DiskannIndex.searchPoint(spark, path, qv, k)
        DiskannIndex.searchPoint(spark, path, qv, k, qlabels = Array(l))
        StreamingIngest.searchPointFresh(spark, path, qv, k)
        StreamingIngest.searchPointFresh(spark, path, qv, k, qlabels = Array(l))
        StreamingIngest.searchPointFresh(spark, path, null, k)
      } finally sc.clearJobGroup()
      // the listener bus delivers events in order: once the marker job's
      // start arrives, every earlier job's start has arrived too
      sc.setJobGroup("warm-point-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        !groups.contains("warm-point-marker")) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    assert(groups.contains("warm-point-marker"), "marker job never observed")
    assert(!groups.contains("warm-point-reads"),
      s"warm point reads started ${groups.toArray.count(_ == "warm-point-reads")} job(s)")
  }

  test("searchPointFresh: a delta above graft.delta.maxBroadcastRows fails by the knob's name") {
    val path = "/tmp/graft_test_index/point_fresh_cap"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val fixture = pointFixture()
    val e = fixture.map { case (id, v, _) => (id, v) }.toDF("vec_id", "embedding")
    DiskannIndex.build(e.filter($"vec_id" < 400), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    StreamingIngest.appendBatchToDelta(path)(e.filter($"vec_id" >= 400)
      .select($"vec_id".as("row_id"), $"embedding".as("vec")), 0L)
    val v450 = fixture(450)._2
    // under the default cap the 100-row delta serves (and is memoized)
    assert(StreamingIngest.searchPointFresh(spark, path, v450, k = 5)
      .head._1 == 450L)
    // the memoized snapshot must not outlive a lowered cap
    spark.conf.set("graft.delta.maxBroadcastRows", "40")
    try {
      val err = intercept[IllegalArgumentException] {
        StreamingIngest.searchPointFresh(spark, path, v450, k = 5)
      }
      assert(err.getMessage.contains("searchPointFresh") &&
        err.getMessage.contains("graft.delta.maxBroadcastRows"), err.getMessage)
    } finally spark.conf.unset("graft.delta.maxBroadcastRows")
  }

  /** `f`'s result and the number of Spark jobs it started: its jobs run
    * under one job group, and a marker job afterwards proves the listener
    * bus has delivered every earlier job start. */
  private def countingJobs[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        groups.add(Option(jobStart.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        !groups.contains(s"$group-marker")) Thread.sleep(20)
      assert(groups.contains(s"$group-marker"), "marker job never observed")
      (out, groups.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** The fresh answer with the delta decoded by Spark's parquet reader, an
    * independent reference for the driver decode every fresh path reads:
    * [[DiskannIndex.searchWithDelta]] over a read of the delta's files,
    * with the durable tombstones. */
  private def viaSparkDelta(path: String, q: org.apache.spark.sql.DataFrame,
      k: Int): Array[org.apache.spark.sql.Row] = {
    val tombs = DiskannIndex.loadTombstones(spark, path)
    val files = StreamingIngest.deltaFiles(spark, path).map(_.toString)
    (if (files.isEmpty) DiskannIndex.search(spark, path, q, k,
      tombstones = tombs)
    else DiskannIndex.searchWithDelta(spark, path, q,
      spark.read.parquet(files.toIndexedSeq: _*), k, tombstones = tombs))
      .collect()
  }

  /** [[viaSparkDelta]] of one query, ordered by (dist, row_id), with
    * distances as bits (NaN equals NaN). */
  private def freshFrameBits(path: String, qv: Array[Float], ql: Array[Short],
      k: Int): Seq[(Long, Long)] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val qSchema = StructType(Seq(StructField("qid", LongType, nullable = false),
      StructField("qvec", ArrayType(FloatType)),
      StructField("qlabels", ArrayType(ShortType))))
    val q = spark.createDataFrame(java.util.Arrays.asList(Row(0L,
      Option(qv).map(_.toSeq).orNull, Option(ql).map(_.toSeq).orNull)), qSchema)
    bits(viaSparkDelta(path, q, k)
      .map(r => (r.getLong(1), r.getDouble(2)))
      .sortBy { case (rid, d) => (d, rid) }.toSeq)
  }

  private def bits(hs: Seq[(Long, Double)]): Seq[(Long, Long)] =
    hs.map { case (rid, d) => (rid, java.lang.Double.doubleToLongBits(d)) }

  /** (row_id, vec, labels) rows as a delta batch; the nullability flags pick
    * the arrays' containsNull, which picks the legacy parquet list layout. */
  private def deltaBatch(rows: Seq[(Long, Array[Float], Array[Short])],
      vecNulls: Boolean = true, labelNulls: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("row_id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, vecNulls)),
      StructField("labels", ArrayType(ShortType, labelNulls))))
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, v, l) =>
      Row(id, Option(v).map(_.toSeq).orNull, Option(l).map(_.toSeq).orNull)
    }: _*), schema)
  }

  /** A labeled ivf index over fixture rows 0-399 at `path`, wiped first. */
  private def labeledPointIndex(path: String)
      : Map[Long, (Array[Float], Short)] = {
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val fixture = pointFixture()
    DiskannIndex.build(deltaBatch(fixture.filter(_._1 < 400)
        .map { case (id, v, l) => (id, v, Array(l)) }),
      "row_id", "vec", Some("labels"), path, DiskannParams(metric = "cosine",
        partitioner = "ivf", ivfSeed = Some("pf17"), shardTargetRows = 100))
    fixture.map { case (id, v, l) => id -> (v, l) }.toMap
  }

  test("searchPointFresh: the first read after an append or a delete runs 0 jobs and equals searchFresh") {
    val path = "/tmp/graft_test_index/point_fresh_first"
    val rows = labeledPointIndex(path)
    def labeled(ids: Range) = ids.map(i => (i.toLong, rows(i)._1, Array(rows(i)._2)))
    // a replayed batch (row_ids 400-429 twice) plus a null-vector row
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(labeled(400 until 430)), 0L)
    StreamingIngest.appendBatchToDelta(path)(
      deltaBatch(labeled(400 until 430) :+ ((9999L, null, Array(1.toShort)))), 1L)
    val k = 10
    val cases: Seq[(Array[Float], Array[Short])] =
      Seq(5L, 405L, 420L, 440L, 455L).flatMap { id =>
        val (v, l) = rows(id)
        Seq((v, null), (v, Array(l)), (v, Array(l, ((l + 1) % 10).toShort)))
      } :+ ((null, null))
    def firstReadsMatch(what: String): Unit = {
      val (got, jobs) = countingJobs(cases.map { case (qv, ql) =>
        StreamingIngest.searchPointFresh(spark, path, qv, k, qlabels = ql)
      })
      assert(jobs == 0, s"$what: the first fresh reads started $jobs job(s)")
      cases.zip(got).foreach { case ((qv, ql), hits) =>
        val want = freshFrameBits(path, qv, ql, k)
        assert(want.length == k, s"$what: frame path returned ${want.length}")
        assert(bits(hits) == want, s"$what: qlabels=" +
          s"${Option(ql).map(_.mkString(","))}: point $hits vs frame $want")
      }
    }
    // warm: every probed shard decoded and the current delta memoized
    cases.foreach { case (qv, ql) =>
      StreamingIngest.searchPointFresh(spark, path, qv, k, qlabels = ql)
    }
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(labeled(430 until 460)), 2L)
    firstReadsMatch("after an append")
    DiskannIndex.deleteRows(spark, path, Seq(5L, 405L, 440L))
    firstReadsMatch("after a delete")
  }

  test("searchPointFresh decodes every list layout, skips files that vanish before decode, and forgets compacted files") {
    import graft.index.WriteOnceFiles
    val path = "/tmp/graft_test_index/point_fresh_layouts"
    val rows = labeledPointIndex(path)
    def labeled(ids: Range) = ids.map(i =>
      (i.toLong, rows(i)._1, Array(rows(i)._2, ((rows(i)._2 + 3) % 10).toShort)))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the standard 3-level layout, then both legacy 2-level ones (the
    // `bag` group for nullable elements, a bare repeated `array` otherwise)
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(labeled(400 until 420)), 0L)
    spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
    try {
      StreamingIngest.appendBatchToDelta(path)(deltaBatch(labeled(420 until 440),
        vecNulls = true, labelNulls = false), 1L)
      StreamingIngest.appendBatchToDelta(path)(deltaBatch(labeled(440 until 460),
        vecNulls = false, labelNulls = true), 2L)
    } finally spark.conf.unset("spark.sql.parquet.writeLegacyFormat")
    // a bare repeated field with no LIST group, as non-Spark writers emit
    locally {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message m { required int64 row_id; repeated float vec; " +
          "repeated int32 labels (INT_16); }")
      val tmp = new org.apache.hadoop.fs.Path(s"$path/_one_level.parquet")
      val w = ExampleParquetWriter.builder(tmp).withType(schema)
        .withConf(spark.sessionState.newHadoopConf()).build()
      try labeled(460 until 480).foreach { case (id, v, l) =>
        val g = new SimpleGroupFactory(schema).newGroup().append("row_id", id)
        v.foreach(g.append("vec", _))
        l.foreach(x => g.append("labels", x.toInt))
        w.write(g)
      } finally w.close()
      assert(fs.rename(tmp, new org.apache.hadoop.fs.Path(s"$path/delta/b_one_level.parquet")))
    }
    val k = 10
    val probes = Seq(5L, 410L, 430L, 450L, 470L)
    def matches(what: String): Unit = probes.foreach { id =>
      val (v, l) = rows(id)
      Seq(null, Array(l)).foreach { ql =>
        val got = StreamingIngest.searchPointFresh(spark, path, v, k, qlabels = ql)
        val want = freshFrameBits(path, v, ql, k)
        assert(want.length == k && bits(got) == want,
          s"$what: row $id qlabels=${Option(ql).map(_.mkString(","))}: " +
            s"point $got vs frame $want")
      }
    }
    matches("list layouts")
    assert(probes.drop(1).forall(id =>
      StreamingIngest.searchPointFresh(spark, path, rows(id)._1, 1).head._1 == id),
      "every layout's rows must be served")

    // a delta file and a tombstone file vanish between listing and decode
    StreamingIngest.appendBatchToDelta(path)(
      deltaBatch(labeled(480 until 500)).repartition(2), 3L)
    DiskannIndex.deleteRows(spark, path, Seq(410L, 485L))
    DiskannIndex.deleteRows(spark, path, Seq(5L, 495L))
    val vanished = scala.collection.mutable.Set.empty[String]
    WriteOnceFiles.beforeDecode = { p =>
      val dir = p.getParent.getName
      if (p.toString.contains(path) && !vanished.exists(_.startsWith(s"$dir/"))) {
        assert(fs.delete(p, false))
        vanished += s"$dir/${p.getName}"
      }
    }
    val raced = try probes.map(id =>
        StreamingIngest.searchPointFresh(spark, path, rows(id)._1, k))
      finally WriteOnceFiles.beforeDecode = _ => ()
    assert(vanished.map(_.takeWhile(_ != '/')) == Set("delta", "tombstones"),
      vanished.toString)
    probes.zip(raced).foreach { case (id, got) =>
      assert(bits(got) == freshFrameBits(path, rows(id)._1, null, k),
        s"raced read of row $id: $got")
    }
    matches("after the race")

    // compact consumes every listed file: none of them stays memoized
    val consumed = (fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/delta")) ++
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
      .map(_.getPath.getName).toSet
    assert(WriteOnceFiles.memoized(spark, s"$path/delta").nonEmpty)
    StreamingIngest.compact(spark, path)
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(labeled(400 until 405)), 4L)
    matches("after compact")
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/delta"))
      .map(_.getPath.getName).filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .toSet
    assert(WriteOnceFiles.memoized(spark, s"$path/delta") == live)
    assert(WriteOnceFiles.memoized(spark, s"$path/tombstones").isEmpty)
    assert(live.nonEmpty && (live & consumed).isEmpty)
  }

  test("servePointBatchFresh: a compact between its delta read and its main search serves an appended row exactly once") {
    import graft.index.WriteOnceFiles
    val path = "/tmp/graft_test_index/pool_fresh_race"
    val rows = labeledPointIndex(path)
    val (v, l) = rows(450L)
    val q = Seq((0L, v, null: Array[Short]))
    // every shard warm, then row 450 appended to the delta only
    DiskannIndex.servePointBatch(spark, path, q, k = 5)
    StreamingIngest.appendBatchToDelta(path)(
      deltaBatch(Seq((450L, v, Array(l)))), 0L)
    // the compact lands after the delta listing, before the file's decode
    // and before the main search resolves the generation
    var compacts = 0
    WriteOnceFiles.beforeDecode = p =>
      if (p.toString.contains(s"$path/delta/") && compacts == 0) {
        compacts += 1
        StreamingIngest.compact(spark, path)
      }
    val raced = try StreamingIngest.servePointBatchFresh(spark, path, q, k = 5)
      finally WriteOnceFiles.beforeDecode = _ => ()
    assert(compacts == 1, "the delta was not read through WriteOnceFiles")
    assert(StreamingIngest.deltaFiles(spark, path).isEmpty)
    assert(raced.count(_._2 == 450L) == 1,
      s"row 450 must be served exactly once: $raced")
    assert(raced.map(h => (h._2, h._3)) ==
      StreamingIngest.searchPointFresh(spark, path, v, k = 5))
  }

  test("servePointBatchFresh, rangeSearchFresh and searchFresh start 0 Spark jobs with every shard warm and a delta pending") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = "/tmp/graft_test_index/fresh_zero_jobs"
    val rows = labeledPointIndex(path)
    def labeled(ids: Range) = ids.map(i => (i.toLong, rows(i)._1, Array(rows(i)._2)))
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(labeled(400 until 460)), 0L)
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(labeled(440 until 460)), 1L)
    DiskannIndex.deleteRows(spark, path, Seq(5L, 420L))
    val k = 10
    val batch = (0 until 64).map { i =>
      val (v, l) = rows((i * 7 % 500).toLong)
      (i.toLong, v, if (i % 2 == 0) null else Array(l))
    }
    val (qv, ql) = (rows(450L)._1, Array(rows(450L)._2))
    val q1 = spark.createDataFrame(java.util.Arrays.asList(
      Row(0L, qv.toSeq, ql.toSeq)), StructType(Seq(
        StructField("qid", LongType, nullable = false),
        StructField("qvec", ArrayType(FloatType)),
        StructField("qlabels", ArrayType(ShortType)))))
    val radius = StreamingIngest.searchPointFresh(spark, path, qv, k).last._2
    // warm: the executor pool decodes every shard into this JVM's cache
    DiskannIndex.serveBatch(spark, path, batch, k, 100, 50, 0, Set.empty,
      onDriver = false)
    def calls() = (StreamingIngest.servePointBatchFresh(spark, path, batch, k),
      StreamingIngest.rangeSearchFresh(spark, path, qv, radius),
      StreamingIngest.searchFresh(spark, path, q1, k).collect())
    calls()
    val ((pool, (inRadius, confirmed), frame), jobs) = countingJobs(calls())
    assert(jobs == 0, s"the warm fresh calls started $jobs job(s)")
    batch.foreach { case (qid, v, l) =>
      assert(bits(pool.filter(_._1 == qid).map(h => (h._2, h._3))) ==
        bits(StreamingIngest.searchPointFresh(spark, path, v, k, qlabels = l)),
        s"query $qid")
    }
    val point = StreamingIngest.searchPointFresh(spark, path, qv, k)
    assert(confirmed && point.map(_._1).toSet.subsetOf(inRadius.map(_._1).toSet)
      && inRadius.exists(_._1 == 450L), s"$inRadius vs $point")
    assert(bits(frame.map(r => (r.getLong(1), r.getDouble(2))).toSeq) ==
      bits(StreamingIngest.searchPointFresh(spark, path, qv, k, qlabels = ql)))
  }

  test("searchFresh, rangeSearchFresh and servePointBatchFresh: a delta above graft.delta.maxBroadcastRows fails by the knob's name") {
    val path = "/tmp/graft_test_index/fresh_paths_cap"
    val rows = labeledPointIndex(path)
    StreamingIngest.appendBatchToDelta(path)(deltaBatch((400 until 460)
      .map(i => (i.toLong, rows(i)._1, Array(rows(i)._2)))), 0L)
    val v = rows(450L)._1
    val q = Seq((0L, v)).toDF("qid", "qvec")
    val paths: Seq[(String, () => Any)] = Seq(
      "searchFresh" -> (() => StreamingIngest.searchFresh(spark, path, q, 5)),
      "rangeSearchFresh" -> (() =>
        StreamingIngest.rangeSearchFresh(spark, path, v, 0.1)),
      "servePointBatchFresh" -> (() => StreamingIngest.servePointBatchFresh(
        spark, path, Seq((0L, v, null)), 5)))
    // under the default cap the 60-row delta serves
    paths.foreach(_._2())
    spark.conf.set("graft.delta.maxBroadcastRows", "40")
    try paths.foreach { case (name, call) =>
      val err = intercept[IllegalArgumentException](call())
      assert(err.getMessage.contains(s"$name: pending delta") &&
        err.getMessage.contains("graft.delta.maxBroadcastRows"), err.getMessage)
    } finally spark.conf.unset("graft.delta.maxBroadcastRows")
  }

  test("searchPointFresh: a new file over graft.delta.maxBroadcastRows fails by the knob's name before it is decoded") {
    import graft.index.WriteOnceFiles
    val path = "/tmp/graft_test_index/point_fresh_cap_first"
    val rows = labeledPointIndex(path)
    def labeled(ids: Range) = ids.map(i => (i.toLong, rows(i)._1, Array(rows(i)._2)))
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(labeled(400 until 430)), 0L)
    val v = rows(450L)._1
    StreamingIngest.searchPointFresh(spark, path, v, k = 5)
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(labeled(430 until 460)), 1L)
    val decoded = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    WriteOnceFiles.beforeDecode = p =>
      if (p.toString.contains(path)) decoded.add(p.getName)
    spark.conf.set("graft.delta.maxBroadcastRows", "40")
    try {
      val err = intercept[IllegalArgumentException] {
        StreamingIngest.searchPointFresh(spark, path, v, k = 5)
      }
      assert(err.getMessage.contains("searchPointFresh") &&
        err.getMessage.contains("graft.delta.maxBroadcastRows"), err.getMessage)
      assert(decoded.isEmpty, s"decoded before the bound check: $decoded")
    } finally {
      spark.conf.unset("graft.delta.maxBroadcastRows")
      WriteOnceFiles.beforeDecode = _ => ()
    }
    assert(StreamingIngest.searchPointFresh(spark, path, v, k = 5).head._1 == 450L)
  }

  /** `f`'s result and the number of Spark jobs started while it ran: the
    * jobs whose ids fall between a marker job before it and one after it,
    * so jobs that set their own job group (build phases) count too. */
  private def jobsBetweenMarkers[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val tag = s"marker-${System.nanoTime()}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add((e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")))
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    def idOf(group: String): Option[Int] = starts.asScala.find(_._2 == group).map(_._1)
    sc.addSparkListener(listener)
    try {
      marker(s"$tag-start")
      val out = f
      marker(s"$tag-end")
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline && idOf(s"$tag-end").isEmpty)
        Thread.sleep(20)
      val (a, b) = (idOf(s"$tag-start").get, idOf(s"$tag-end").get)
      (out, starts.asScala.count(j => j._1 > a && j._1 < b))
    } finally sc.removeSparkListener(listener)
  }

  /** Every field of `m`, arrays compared by content. */
  private def metaFields(m: DiskannIndex.IndexMeta): Seq[Any] =
    m.productIterator.map {
      case a: Array[_] => a.toSeq.map {
        case b: Array[_] => b.toSeq
        case x => x
      }
      case x => x
    }.toSeq

  /** `loadMeta(path)` starts no Spark job and equals a fresh read of the
    * active generation's `_meta`. */
  private def assertMetaMemoized(path: String, what: String): Unit = {
    val (m, jobs) = countingJobs(DiskannIndex.loadMeta(spark, path))
    assert(jobs == 0, s"$what: loadMeta started $jobs job(s)")
    val fresh = DiskannIndex.readMetaAt(spark, DiskannIndex.resolveRoot(spark, path))
    assert(metaFields(m) == metaFields(fresh), s"$what: memoized meta differs from _meta")
  }

  test("incremental compaction pins: fold, rebuild, split, replayed and duplicate rows in one compaction") {
    val path = "/tmp/graft_test_index/compact_pins"
    val rows = labeledPointIndex(path)
    assertMetaMemoized(path, "after build")
    val meta0 = DiskannIndex.loadMeta(spark, path)
    assert(meta0.numShards == 4 && meta0.shardRows.length == 4)
    val metric = graft.index.Metric(meta0.metric)
    val ivf = graft.operators.Similarity.IvfModel(meta0.centroids)
    def route(v: Array[Float]): Int =
      ivf.nearest(graft.index.BuildSpace(v, meta0.dimsToIndex, metric), 1)(0)
    val members = (0L until 400L).groupBy(id => route(rows(id)._1))
    (0 until 4).foreach(s => assert(members(s).size == meta0.shardRows(s)))
    // the largest shard splits; the others fold, rebuild and stay carried
    val splitS = (0 until 4).maxBy(s => (meta0.shardRows(s), -s))
    val Seq(foldS, tombS, carriedS) = (0 until 4).filterNot(_ == splitS)
    val rnd = new scala.util.Random(29)
    var nextId = 1000L
    // n fresh rows near members of shard s that route to s
    def near(s: Int, n: Int): Seq[(Long, Array[Float], Array[Short])] = {
      val ms = members(s).toIndexedSeq
      Iterator.continually {
        val (v, l) = rows(ms(rnd.nextInt(ms.length)))
        (v.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat), l)
      }.filter(t => route(t._1) == s).take(n).toVector.map { case (v, l) =>
        nextId += 1; (nextId, v, Array(l))
      }
    }
    val folded = near(foldS, 12)
    // a main row appended again: the crash-window main∩delta duplicate
    val dup = members(foldS).head
    val foldBatch = folded :+ ((dup, rows(dup)._1, Array(rows(dup)._2)))
    val rebuilt = near(tombS, 6)
    val split = near(splitS, math.max(10, 221 - members(splitS).size))
    // a replayed batch, then one batch holding a null-vector row
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(foldBatch), 0L)
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(foldBatch), 1L)
    StreamingIngest.appendBatchToDelta(path)(deltaBatch(rebuilt ++ split :+
      ((9999L, null, Array(1.toShort)))), 2L)
    // eight main rows and one appended row of the rebuilt shard deleted
    val dead = members(tombS).take(8) :+ rebuilt.head._1
    DiskannIndex.deleteRows(spark, path, dead)

    val (_, jobs) = jobsBetweenMarkers(StreamingIngest.compact(spark, path))
    val root1 = DiskannIndex.resolveRoot(spark, path)
    val meta1 = DiskannIndex.loadMeta(spark, path)
    assert(meta1.numShards > 4, "the largest shard did not split")
    assert(meta1.numRows ==
      400 + folded.size + rebuilt.size - 1 + split.size - 8)
    assert(meta1.shardRows.sum == meta1.numRows)
    assert(meta1.shardDirs(carriedS) == "." &&
      meta1.shardBuildIds(carriedS) == meta0.shardBuildIds(carriedS) &&
      meta1.shardRows(carriedS) == meta0.shardRows(carriedS) &&
      meta1.shardRadii(carriedS) == meta0.shardRadii(carriedS))
    Seq(foldS, tombS, splitS).foreach { s =>
      assert(meta1.shardDirs(s) == "" &&
        meta1.shardBuildIds(s) != meta0.shardBuildIds(s), s"shard $s")
    }
    // the fold and rebuild shards' nodes, rows and radii, pinned to what the
    // one-job-per-step compaction wrote before the two-pass one: the fold
    // and the rebuild must stay bit-identical
    def checksum(s: Int): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      DiskannIndex.nodesDf(spark, root1, meta1, Seq(s))
        .select($"node", $"row_id", $"code", $"labels", $"neighbors")
        .collect().sortBy(_.getInt(0))
        .foreach(r => md.update(r.toString.getBytes("UTF-8")))
      md.digest().take(8).map(b => f"$b%02x").mkString
    }
    val pins = Seq(foldS, tombS).map { s =>
      s"${checksum(s)} ${meta1.shardRows(s)} ${meta1.shardRadii(s)}"
    }.mkString("; ")
    assert(pins == "b312f07d8e7c52d7 119 1.5198261506514281; " +
      "e01917fea95685ce 78 1.45698712958006", s"$pins; $jobs jobs")
    assert(jobs <= 8, s"the compaction started $jobs Spark jobs")
    assertMetaMemoized(path, "after compact")
  }

  test("an empty shard serves warm: searchPoint and servePointBatch start 0 jobs after a shard wipe") {
    val path = "/tmp/graft_test_index/empty_shard_warm"
    val rows = labeledPointIndex(path)
    val meta0 = DiskannIndex.loadMeta(spark, path)
    val victim = (0 until meta0.numShards).minBy(s => (meta0.shardRows(s), s))
    val wiped = DiskannIndex.nodesDf(spark, DiskannIndex.resolveRoot(spark, path),
      meta0, Seq(victim)).select($"row_id").collect().map(_.getLong(0))
    DiskannIndex.deleteRows(spark, path, wiped)
    StreamingIngest.compact(spark, path)
    val meta = DiskannIndex.loadMeta(spark, path)
    assert(meta.shardRows(victim) == 0L && meta.numRows == 400 - wiped.length)
    val k = 10
    val qs: Seq[(Long, Array[Float], Array[Short])] =
      Seq(3L, 150L, 277L, 390L).map(id => (id, rows(id)._1, null)) :+
        ((9L, rows(9L)._1, Array(rows(9L)._2)))
    // cold answers: the executor pool, and point queries on cold searchers
    graft.index.GraphSearcher.invalidate(path)
    val coldBatch = DiskannIndex.serveBatch(spark, path, qs, k, 100, 50, 0,
      Set.empty, onDriver = false)
    graft.index.GraphSearcher.invalidate(path)
    val coldPoints = qs.map { case (_, v, l) =>
      DiskannIndex.searchPoint(spark, path, v, k, qlabels = l)
    }
    assert(coldPoints.forall(_.length == k) && coldBatch.length == k * qs.length)
    val (warm, jobs) = countingJobs((0 until 10).map { i =>
      val (_, v, l) = qs(i % qs.length)
      (DiskannIndex.searchPoint(spark, path, v, k, qlabels = l),
        DiskannIndex.servePointBatch(spark, path, qs, k))
    })
    assert(jobs == 0, s"20 warm calls started $jobs job(s)")
    warm.zipWithIndex.foreach { case ((point, batch), i) =>
      assert(bits(point) == bits(coldPoints(i % qs.length)), s"point call $i")
      assert(batch == coldBatch, s"batch call $i")
    }
  }

  test("streaming distinct monitor: exact below k, bounded error above k") {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val batch = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(($"ts" / 1000).cast("long")))
      case _ => raw.withColumn("ts", $"ts".cast("timestamp"))
    }).select($"ts", $"event_type", $"user_id")
    val rows = batch.collect().map(r =>
      (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val exact = batch
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(countDistinct($"user_id").as("n")).collect()
      .map(r => (r.getStruct(0).getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap
    def run(k: Int, name: String): Map[(java.sql.Timestamp, String), Double] = {
      val mem = MemoryStream[(java.sql.Timestamp, String, Long)]
      val out = StreamingIngest.streamingDistinctMonitor(
        mem.toDF().toDF("ts", "event_type", "user_id"),
        "event_type", "user_id", "ts", k = k)
      mem.addData(rows.toSeq)
      val q = out.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name).collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getDouble(2)).toMap
    }
    // big k: every (window, type) cardinality is below k -> sketch is
    // exhaustive, estimates are EXACTLY the distinct counts
    val big = run(1 << 20, "distinct_big_k")
    assert(big.keySet == exact.keySet)
    big.foreach { case (key, est) =>
      assert(est == exact(key).toDouble, s"$key: $est != ${exact(key)}") }
    // small k: saturated sketches must estimate within the KMV error
    // envelope (se ~ 1/sqrt(k-2); 5 sigma on the md5-fixed determinstic
    // fixture is a stable, not flaky, bound)
    val k2 = 32
    val small = run(k2, "distinct_small_k")
    val tol = 5.0 / math.sqrt(k2 - 2.0)
    small.foreach { case (key, est) =>
      val ex = exact(key).toDouble
      assert(math.abs(est - ex) <= math.max(tol * ex, 1.0),
        s"$key: est $est vs exact $ex beyond ${tol * 100}%")
    }
  }

  test("streaming drift monitor: windowed centroids vs reference, NaN for unknown groups") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:10:00")
    val mem = MemoryStream[(java.sql.Timestamp, Int, Array[Float])]
    val ref = Map(0 -> Array(1.0, 0.0), 1 -> Array(1.0, 0.0))
    val out = StreamingIngest.streamingDriftMonitor(
      mem.toDF().toDF("ts", "label", "vec"), "label", "vec", "ts", ref, dim = 2)
    mem.addData(Seq(
      (t0, 0, Array(2f, 0f)), (t0, 0, Array(4f, 0f)), // centroid (3,0): dist 0
      (t0, 1, Array(0f, 5f)),                         // orthogonal: dist 1
      (t0, 2, Array(1f, 1f))))                        // no reference: NaN
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("drift").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("drift")
      .select($"label", $"n_members", $"centroid_cos_dist")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got(0) == ((0, 2L, 0.0)))
    assert(got(1) == ((1, 1L, 1.0)))
    assert(got(2)._1 == 2 && got(2)._3.isNaN)
  }

  test("streaming query serving: micro-batches answered against the live index via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val path = "/tmp/graft_test_index/streaming_serve"
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 300), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    val qs = e.filter($"vec_id" < 6)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()

    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("qid", "qvec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the serving pattern: every micro-batch of queries is one
        // searchFresh call (main graph + any delta), results shipped to
        // the sink — here a buffer, in production a topic/table
        StreamingIngest.searchFresh(batch.sparkSession, path, batch, k = 1,
          searchListSize = 200, rescore = 150)
          .collect().foreach(r => results.add((r.getLong(0), r.getLong(1))))
      }
      .start()
    mem.addData(qs.take(3).toSeq)
    q.processAllAvailable()
    mem.addData(qs.drop(3).toSeq) // second batch: index is served warm
    q.processAllAvailable()
    q.stop()
    // each query's nearest neighbor is itself (distance 0)
    val got = results.toArray(Array.empty[(Long, Long)]).toSeq.sorted
    assert(got == (0L until 6L).map(i => (i, i)), s"got $got")
  }

  test("streaming radius enrichment: per-batch in-radius sets, delta visible, tombstone masked") {
    implicit val sqlCtx = spark.sqlContext
    val path = "/tmp/graft_test_index/streaming_range"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 300), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    // a pending delta twin of row 0 and a tombstone on row 1: the per-batch
    // radius answer must include the twin and never the tombstoned row
    e.filter($"vec_id" === 0)
      .select(lit(9000L).as("row_id"), $"embedding".as("vec"))
      .write.mode("append").parquet(s"$path/delta")
    DiskannIndex.deleteRows(spark, path, Seq(1L))

    val qs = e.filter($"vec_id" < 2)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingIngest.streamingRangeEnrich(
      mem.toDF().toDF("qid", "qvec"), path,
      s"/tmp/graft_ckpt_range_${System.nanoTime()}", radius = 1e-9) {
      (batch, _) =>
        batch.collect().foreach(r => results.add((r.getLong(0), r.getLong(1))))
    }
    mem.addData(qs.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = results.toArray(Array.empty[(Long, Long)]).toSet
    // query 0 (radius ~0): itself + the delta twin; query 1: tombstoned,
    // so its own vector matches NOTHING
    assert(got == Set((0L, 0L), (0L, 9000L)), s"got $got")
  }

  test("stream-stream interval join: window matches, outside-window excluded, outer nulls emit") {
    implicit val sqlCtx = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = StreamingIngest.intervalJoin(
      purchases.toDF().toDF("user_id", "ts", "purchase_id"),
      clicks.toDF().toDF("user_id", "ts", "click_id"),
      "user_id", "ts", lookback = "10 seconds", watermark = "5 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attrib").start()
    // user 1: click 8s before purchase (in window) and 20s before (outside);
    // user 2: purchase with no clicks at all
    clicks.addData((1L, ts(2000), 900L), (1L, ts(14000), 901L))
    purchases.addData((1L, ts(22000), 10L), (2L, ts(22000), 11L))
    q.processAllAvailable()
    // advance the watermark far enough to close both purchases' windows so
    // the LEFT OUTER nulls are emitted
    clicks.addData((9L, ts(60000), 999L))
    purchases.addData((9L, ts(60000), 99L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("attrib")
      .select($"purchase_id", $"click_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1)))
      .filter(_._1 < 90L).sorted.toSeq
    // purchase 10 matches only click 901 (14000 in [12000, 22000]; 2000 out);
    // purchase 11 emits the outer-null row
    assert(out == Seq((10L, 901L), (11L, -1L)), s"got $out")
  }

  test("compact dedups at-least-once retries and crash-window re-folds (both rebuild paths)") {
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the delta: rows 440-499 appended TWICE (an at-least-once micro-batch
    // retry), of which 440-449 are ALSO already in the main graph (the
    // crash window: a predecessor installed its generation but died before
    // deleting the consumed delta files)
    def batch(): org.apache.spark.sql.DataFrame = e.filter($"vec_id" >= 440)
      .select($"vec_id".as("row_id"), $"embedding".as("vec"))

    // FULL-rebuild path (incremental explicitly off — hash-partitioned
    // indexes otherwise take the incremental insert-fold too)
    val path = "/tmp/graft_test_index/compact_dedup_full"
    deleteRec(new java.io.File(path))
    DiskannIndex.build(e.filter($"vec_id" < 450), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))
    StreamingIngest.appendBatchToDelta(path)(batch(), 0L)
    StreamingIngest.appendBatchToDelta(path)(batch(), 1L) // the retry
    spark.conf.set("graft.compact.incremental", "false")
    try StreamingIngest.compact(spark, path)
    finally spark.conf.unset("graft.compact.incremental")
    assert(DiskannIndex.loadMeta(spark, path).numRows == 500)
    val root = DiskannIndex.resolveRoot(spark, path)
    val nodes = spark.read.parquet(s"$root/nodes")
    assert(nodes.count() == 500 &&
      nodes.select($"row_id").distinct().count() == 500,
      "full rebuild baked duplicate row_ids into the graph")

    // INCREMENTAL (IVF manifest) path — same invariant, partial rebuild
    val pathI = "/tmp/graft_test_index/compact_dedup_incr"
    deleteRec(new java.io.File(pathI))
    DiskannIndex.build(e.filter($"vec_id" < 450), "vec_id", "embedding", None,
      pathI, DiskannParams(metric = "cosine", partitioner = "ivf",
        ivfSeed = Some("cd42"), shardTargetRows = 200))
    StreamingIngest.appendBatchToDelta(pathI)(batch(), 0L)
    StreamingIngest.appendBatchToDelta(pathI)(batch(), 1L)
    StreamingIngest.compact(spark, pathI)
    val metaI = DiskannIndex.loadMeta(spark, pathI)
    assert(metaI.numRows == 500, s"incremental numRows=${metaI.numRows}")
    val rootI = DiskannIndex.resolveRoot(spark, pathI)
    val nodesI = DiskannIndex.nodesDf(spark, rootI,
      DiskannIndex.loadMetaAt(spark, rootI), 0 until metaI.numShards)
    assert(nodesI.count() == 500 &&
      nodesI.select($"row_id").distinct().count() == 500,
      "incremental rebuild baked duplicate row_ids into the graph")
  }

  test("sessionize (flatMapGroupsWithState): gap splits sessions, watermark closes idle ones") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    // user 1: two sessions separated by a >10s gap; user 2: one idle session
    val sessions = StreamingIngest.sessionize(mem.toDS(), gapMs = 10000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    mem.addData((1L, 1000L, 1.0), (1L, 3000L, 2.0), (2L, 1000L, 5.0))
    q.processAllAvailable()
    // user 1 returns after a 20s gap -> first session closes in-line
    mem.addData((1L, 23000L, 3.0))
    q.processAllAvailable()
    // watermark is now 23000: user 2's timeout (11000) fires on the next batch
    mem.addData((3L, 30000L, 0.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("sessions").as[StreamingIngest.SessionOut]
      .collect().sortBy(s => (s.user_id, s.session_start))
    assert(out.toSeq == Seq(
      StreamingIngest.SessionOut(1L, 1000L, 3000L, 2L, 3.0),
      StreamingIngest.SessionOut(2L, 1000L, 1000L, 1L, 5.0)))
  }

  test("streaming cluster trend: broadcast-model assignment, windowed counts") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:10:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 01:10:00")
    val model = graft.operators.Similarity.IvfModel(
      Array(Array(1f, 0f), Array(0f, 1f)))
    val mem = MemoryStream[(java.sql.Timestamp, Array[Float])]
    val out = StreamingIngest.streamingClusterTrend(
      mem.toDF().toDF("ts", "vec"), "vec", "ts", model)
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("trend").start()
    mem.addData(
      (t0, Array(5f, 1f)), (t0, Array(3f, 0f)), // hour 0, cluster 0
      (t0, Array(0f, 9f)),                      // hour 0, cluster 1
      (t1, Array(0f, 2f)))                      // hour 1, cluster 1
    q.processAllAvailable()
    q.stop()
    val got = spark.table("trend")
      .collect().map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2))).toSet
    val h0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val h1 = java.sql.Timestamp.valueOf("2026-01-01 01:00:00")
    assert(got == Set((h0, 0, 2L), (h0, 1, 1L), (h1, 1, 1L)))
  }

  test("streaming rate anomaly: spike hour alerts, normal jitter does not") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    def hour(h: Int, sec: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:00:${sec % 60}%02d")
    // hours 0..5 with counts 9,10,11,9,10,11 (mean 10, var 0.8), hour 6 spikes to 100
    val counts = Seq(9, 10, 11, 9, 10, 11, 100)
    val rows = counts.zipWithIndex.flatMap { case (c, h) =>
      (0 until c).map(i => (hour(h, i), "a"))
    }
    val alerts = scala.collection.mutable.ArrayBuffer[StreamingIngest.RateAlert]()
    val q = StreamingIngest.streamingRateAnomaly(
      mem.toDF().toDF("ts", "event_type"), zThreshold = 2.0, minWindows = 3) {
      batch => alerts.synchronized { alerts ++= batch }
    }
    mem.addData(rows)
    q.processAllAvailable()
    // sentinel advances the watermark past hour 6 + 2h so it finalizes
    mem.addData((hour(9, 0), "a"))
    q.processAllAvailable()
    mem.addData((hour(11, 0), "a"))
    q.processAllAvailable()
    q.stop()

    val got = alerts.synchronized(alerts.toSeq)
    assert(got.map(_.windowStart) == Seq(hour(6, 0)))
    val a = got.head
    assert(a.eventType == "a" && a.n == 100L && math.abs(a.mean - 10.0) < 1e-9)
    assert(a.z > 50.0) // (100-10)/sqrt(0.8)
  }

  test("streaming quality monitor: bad batches alert, clean batches don't") {
    import graft.operators.DataQuality._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val violations =
      scala.collection.mutable.ArrayBuffer[StreamingIngest.QualityViolation]()
    val q = StreamingIngest.startQualityMonitor(
      mem.toDF().toDF("id", "lang", "v"),
      Seq(expectMaxNullFrac("lang", 0.0),
        expectValuesBetween("v", 0.0, 100.0),
        expectUnique("id"))) {
      bad => violations.synchronized { violations ++= bad }
    }
    // clean batch: no alerts
    mem.addData((1L, "en", 10.0), (2L, "de", 20.0))
    q.processAllAvailable()
    assert(violations.synchronized(violations.isEmpty))
    // dirty batch: out-of-range value + duplicate id, still no null langs
    mem.addData((3L, "en", 500.0), (3L, "fr", 50.0))
    q.processAllAvailable()
    q.stop()
    val got = violations.synchronized(violations.toSeq)
    assert(got.map(_.check).sorted ==
      Seq("unique_id", "values_v_in_0.0_100.0"))
    assert(got.forall(_.nRows == 2))
    assert(got.find(_.check.startsWith("values")).get.observed == 1.0)
  }

  test("streamingKnnEnrich: per-batch top-k == searchFresh, sees mid-stream appends") {
    val path = "/tmp/graft_test_index/stream_enrich"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    DiskannIndex.build(e.filter($"vec_id" < 400), "vec_id", "embedding", None,
      path, DiskannParams(metric = "cosine"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val results = scala.collection.mutable.Map[Long, Array[(Long, Long, Double)]]()
    val q = StreamingIngest.streamingKnnEnrich(
      mem.toDF().toDF("qid", "qvec"), path,
      s"/tmp/graft_ckpt_${System.nanoTime()}", k = 5,
      searchListSize = 200, rescore = 150) { (df, batchId) =>
      results.synchronized {
        results(batchId) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }
    def vec(id: Long): Array[Float] = e.filter($"vec_id" === id)
      .collect().head.getAs[scala.collection.mutable.ArraySeq[Float]](1).toArray

    mem.addData((7L, vec(7)))
    q.processAllAvailable()
    // batch 0: the query's own indexed vector must top the list, and the
    // batch result must equal a direct searchFresh of the same query
    val b0 = results.synchronized(results(0L))
    assert(b0.length == 5 && b0.head._1 == 7L)
    assert(b0.minBy(_._3)._2 == 7L)
    val direct = StreamingIngest.searchFresh(spark, path,
      e.filter($"vec_id" === 7).select($"vec_id".as("qid"), $"embedding".as("qvec")),
      k = 5, searchListSize = 200, rescore = 150).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(b0.sortBy(x => (x._3, x._2)).toSeq == direct.sortBy(x => (x._3, x._2)).toSeq)

    // append an out-of-index vector to the delta mid-stream: the NEXT batch
    // must see it (read-your-writes through the enrichment path)
    val novel = vec(450)
    Seq((450L, novel)).toDF("row_id", "vec")
      .write.mode("append").parquet(s"$path/delta")
    mem.addData((450L, novel))
    q.processAllAvailable()
    q.stop()
    val b1 = results.synchronized(results(1L))
    assert(b1.exists(r => r._2 == 450L && r._3 < 1e-6),
      s"delta row invisible to the enrichment batch: ${b1.mkString(",")}")
  }
}

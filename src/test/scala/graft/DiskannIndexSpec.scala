package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{DiskannIndex, DiskannParams, Metric}
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions._

/** End-to-end index build + search through the Spark API, including the
  * multi-shard path (the scale design: independent per-shard graphs,
  * partial top-k per shard, final merge). */
class DiskannIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def exactTop(qid: Long, k: Int, excludeSelf: Boolean): Seq[(Long, Double)] = {
    VectorFunctions.register(spark)
    val q = emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
    emb.filter(if (excludeSelf) col("vec_id") =!= qid else lit(true))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), vec_cosine_dist(col("embedding"), col("qvec")).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("build-time option validation rejects the reference's hard-error configs") {
    val path = "/tmp/graft_test_index/validate_reject"
    def err(params: DiskannParams, labels: Option[String] = None,
        df: org.apache.spark.sql.DataFrame = emb, vc: String = "embedding"): String =
      intercept[IllegalArgumentException] {
        DiskannIndex.build(df, "vec_id", vc, labels, path, params)
      }.getMessage
    // ip + plain storage (build.rs:264-266)
    assert(err(DiskannParams(metric = "ip", storage = "plain"))
      .contains("Inner product"))
    // labeled filtering + plain storage (build.rs:285-287)
    val lbl = emb.withColumn("labels", array(lit(1.toShort)))
    assert(err(DiskannParams(metric = "cosine", storage = "plain"),
      labels = Some("labels"), df = lbl).contains("Labeled filtering"))
    // dim caps: >16000 always, >2000 for plain (build.rs:192-196,276-284)
    assert(err(DiskannParams(numDimsToIndex = Some(16001))).contains("Too many dimensions"))
    assert(err(DiskannParams(storage = "plain", numDimsToIndex = Some(2001)))
      .contains("plain storage"))
    // 2-bit SBQ beyond 930 dims (meta_page.rs:325-328)
    assert(err(DiskannParams(bitsPerDim = Some(2), numDimsToIndex = Some(931)))
      .contains("more than 1 bit"))
    // >1 bit/dim requires sbq storage (meta_page.rs:329-334)
    assert(err(DiskannParams(storage = "plain", bitsPerDim = Some(2)))
      .contains("requires sbq"))
    // empty input has no width to index (build.rs:272-274)
    assert(err(DiskannParams(), df = emb.filter(lit(false)))
      .contains("No dimensions"))
    // nothing was written by any rejected build
    assert(!new java.io.File(path).exists())
  }

  test("rangeSearch: radius scan equals the exact distance filter, cold and warm") {
    val path = "/tmp/graft_test_index/range_scan"
    DiskannIndex.build(emb, "vec_id", "embedding", None, path,
      DiskannParams(metric = "cosine"))
    graft.index.GraphSearcher.invalidate(path)
    val q = emb.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.mutable.ArraySeq[Float]]("embedding")
      .toArray
    // exact ground truth: every row within the radius
    val exact = exactTop(0L, 500, excludeSelf = false)
    def expectWithin(r: Double) = exact.filter(_._2 <= r).sortBy(x => (x._2, x._1))
    // cold (escalates via searchPoint round 1, resumes after)
    val mid = expectWithin(0.8)
    // DEFAULT params everywhere: exhaustiveness is rangeSearch's own
    // contract (L widens with kk until the in-radius set stabilizes)
    val gotCold = DiskannIndex.rangeSearch(spark, path, q, 0.8)
      .sortBy(x => (x._2, x._1))
    assert(gotCold.map(_._1) == mid.map(_._1), s"cold range scan diverged")
    assert(mid.nonEmpty && mid.length < exact.length,
      "fixture radius should be selective but non-empty")
    // warm (resumable frontier drives every round)
    val gotWarm = DiskannIndex.rangeSearch(spark, path, q, 0.8)
      .sortBy(x => (x._2, x._1))
    assert(gotWarm == gotCold, "warm scan must equal the cold scan")
    // radius past the whole corpus: exhaustion returns every row
    val all = DiskannIndex.rangeSearch(spark, path, q, Double.MaxValue)
    assert(all.length == exact.length, s"exhaustive scan got ${all.length}")
    // tiny radius: only the query row itself (dist 0)
    val self = DiskannIndex.rangeSearch(spark, path, q, 1e-9)
    assert(self.map(_._1) == Seq(0L))
  }

  test("radius shard pruning: cluster radii prune soundly, results stay exact") {
    val path = "/tmp/graft_test_index/range_prune"
    // 3 well-separated clusters in 8-dim, deterministic jitter: Lloyd IVF
    // at k=3 aligns shards with clusters, so radii are tight and a
    // selective radius near one cluster must prune the other shards
    val rows = spark.range(300).selectExpr(
      "id AS vec_id",
      """transform(sequence(1, 8), d ->
        |  CAST((CASE WHEN d - 1 = CAST(pmod(id, 3) AS INT) THEN 10.0 ELSE 0.0 END)
        |    + pmod(hash(id, d), 97) / 97.0 AS FLOAT)) AS embedding""".stripMargin)
    DiskannIndex.build(rows, "vec_id", "embedding", None, path,
      DiskannParams(metric = "l2", storage = "plain", partitioner = "ivf",
        shardTargetRows = 100))
    val meta = DiskannIndex.loadMeta(spark, path)
    assert(meta.numShards == 3)
    assert(meta.shardRadii.length == 3 && meta.shardRadii.forall(_ > 0.0),
      s"cluster radii missing: ${meta.shardRadii.mkString(",")}")
    val all = rows.collect().map(r => r.getLong(0) ->
      r.getAs[scala.collection.mutable.Seq[Float]](1).toArray).toMap
    def exactWithin(q: Array[Float], r: Double): Set[Long] =
      all.filter { case (_, v) =>
        math.sqrt(graft.functions.VectorKernels.l2sq(v, q)) <= r
      }.keySet
    // a tight radius around one cluster member: the prune must drop shards
    // and the scan must still return the exact in-radius set
    val q = all(0L)
    val prunedShards = DiskannIndex.radiusShardsFor(meta, Metric.L2, q, 2.0)
    assert(prunedShards.isDefined && prunedShards.get.length < 3,
      s"expected pruning on separated clusters: ${prunedShards.map(_.mkString(","))}")
    val got = DiskannIndex.rangeSearch(spark, path, q, 2.0)
      .map(_._1).toSet
    assert(got == exactWithin(q, 2.0), s"pruned radius scan diverged")
    // soundness fuzz: across queries and radii (incl. ones spanning all
    // clusters) the pruned scan equals brute force
    Seq((1L, 1.5), (2L, 3.0), (7L, 12.0), (11L, 16.0), (42L, 0.5))
      .foreach { case (id, r) =>
        val qq = all(id)
        val g = DiskannIndex.rangeSearch(spark, path, qq, r).map(_._1).toSet
        assert(g == exactWithin(qq, r), s"q=$id r=$r diverged")
      }
    // a cross-generation fold keeps radii a sound upper bound: append a
    // twin of row 0 (same cluster) and re-check after compact
    spark.range(1).selectExpr("9000L AS row_id")
      .crossJoin(rows.filter("vec_id = 0").select(col("embedding").as("vec")))
      .write.mode("append").parquet(s"$path/delta")
    graft.streaming.StreamingIngest.compact(spark, path)
    val meta2 = DiskannIndex.loadMeta(spark, path)
    assert(meta2.shardRadii.length == 3 &&
      (0 until 3).forall(s => meta2.shardRadii(s) >= meta.shardRadii(s)))
    val got2 = DiskannIndex.rangeSearch(spark, path, q, 2.0).map(_._1).toSet
    assert(got2 == exactWithin(q, 2.0) + 9000L, s"post-fold radius scan diverged: $got2")
  }

  test("rangeSearchDistributed: batch radius == per-query truth, pruned routing, loud cap, fresh delta") {
    val path = "/tmp/graft_test_index/range_dist"
    val rows = spark.range(300).selectExpr(
      "id AS vec_id",
      """transform(sequence(1, 8), d ->
        |  CAST((CASE WHEN d - 1 = CAST(pmod(id, 3) AS INT) THEN 10.0 ELSE 0.0 END)
        |    + pmod(hash(id, d), 97) / 97.0 AS FLOAT)) AS embedding""".stripMargin)
    DiskannIndex.build(rows, "vec_id", "embedding", None, path,
      DiskannParams(metric = "l2", storage = "plain", partitioner = "ivf",
        shardTargetRows = 100))
    val all = rows.collect().map(r => r.getLong(0) ->
      r.getAs[scala.collection.mutable.Seq[Float]](1).toArray).toMap
    def exactWithin(q: Array[Float], r: Double): Set[Long] =
      all.filter { case (_, v) =>
        math.sqrt(graft.functions.VectorKernels.l2sq(v, q)) <= r
      }.keySet
    val qs = rows.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // selective radius (prune drops shards per query) AND one spanning all
    // clusters — both must equal brute force for every query
    Seq(2.0, 12.0).foreach { r =>
      val got = DiskannIndex.rangeSearchDistributed(spark, path, qs, r)
        .collect().map(x => (x.getLong(0), x.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      (0L until 6L).foreach { qid =>
        val want = exactWithin(all(qid), r)
        assert(got.getOrElse(qid, Set.empty) == want,
          s"qid=$qid r=$r diverged: got ${got.get(qid).map(_.size)} want ${want.size}")
      }
    }
    // strict truncation is LOUD: a per-shard cap far below the population
    // fails the job naming maxResults; strict=false keeps partial rows
    val err = intercept[org.apache.spark.SparkException] {
      DiskannIndex.rangeSearchDistributed(spark, path, qs, 12.0,
        maxResults = 4).collect()
    }
    assert(err.getMessage.contains("maxResults") ||
      Option(err.getCause).exists(_.getMessage.contains("maxResults")),
      s"cap error must name the knob: ${err.getMessage}")
    val partial = DiskannIndex.rangeSearchDistributed(spark, path, qs, 12.0,
      maxResults = 4, strict = false).collect()
    assert(partial.nonEmpty)
    // fresh twin: a pending delta row (copy of row 0) surfaces for every
    // query whose ball covers row 0; a tombstoned delta row never does
    import spark.implicits._
    val delta = Seq((9000L, all(0L)), (9001L, all(0L)))
      .toDF("row_id", "vec")
    val fresh = DiskannIndex.rangeSearchDistributedFresh(spark, path, qs,
        delta, radius = 2.0, tombstones = Set(9001L))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L until 6L).foreach { qid =>
      val base = exactWithin(all(qid), 2.0)
      val want = if (math.sqrt(graft.functions.VectorKernels.l2sq(
        all(qid), all(0L))) <= 2.0) base + 9000L else base
      assert(fresh.getOrElse(qid, Set.empty) == want,
        s"fresh qid=$qid diverged")
    }
  }

  test("multi-shard build: 4 shards, search merges to the exact top-10") {
    val path = "/tmp/graft_test_index/multishard"
    DiskannIndex.build(emb, "vec_id", "embedding", None, path,
      DiskannParams(metric = "cosine", shardTargetRows = 128))
    val meta = DiskannIndex.loadMeta(spark, path)
    assert(meta.numShards == 4 && meta.numRows == 500)

    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = DiskannIndex.search(spark, path, queries, k = 10,
      searchListSize = 100, rescore = 50)
      .collect().groupBy(_.getLong(0))
    (0L until 3L).foreach { qid =>
      val exact = exactTop(qid, 10, excludeSelf = false).map(_._1)
      val ann = got(qid).sortBy(r => (r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq
      val recall = exact.toSet.intersect(ann.toSet).size / 10.0
      assert(recall >= 0.9, s"qid=$qid sharded recall $recall")
      // the query vector itself must always come back first at distance ~0
      assert(ann.head == qid)
    }
  }

  test("each shard graph is self-contained (neighbors index into own shard)") {
    val nodes = spark.read.parquet("/tmp/graft_test_index/multishard/nodes")
    val bad = nodes.groupBy(col("shard")).agg(
      max(array_max(col("neighbors"))).as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") >= col("n")).count()
    assert(bad == 0)
  }

  test("index survives executor-cache invalidation and reload (fresh searcher)") {
    graft.index.GraphSearcher.invalidate("/tmp/graft_test_index/multishard")
    val queries = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = DiskannIndex.search(spark, "/tmp/graft_test_index/multishard",
      queries, k = 5).collect()
    assert(out.length == 5 && out.map(_.getLong(1)).contains(7L))
  }

  test("all-warm serving fast path returns exactly the cold-path rows") {
    val path = "/tmp/graft_test_index/multishard"
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def rows() = DiskannIndex.search(spark, path, queries, k = 7,
        searchListSize = 100, rescore = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.index.GraphSearcher.invalidate(path)
    val cold = rows() // scan path: builds + caches every shard searcher
    val warm = rows() // all shards warm => driver-local merge, no window job
    assert(warm == cold)
    // and the warm plan must be a LocalRelation (no window/shuffle merge)
    val plan = DiskannIndex.search(spark, path, queries, k = 7,
      searchListSize = 100, rescore = 50).queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation") && !plan.contains("Window"),
      s"expected driver-local all-warm merge:\n$plan")
  }

  test("searchPoint == the DataFrame path, sorted (dist, row_id)") {
    val path = "/tmp/graft_test_index/multishard"
    val q = emb.filter(col("vec_id") === 11)
    val qvec = q.select(col("embedding")).head().getSeq[Float](0).toArray
    val viaDf = DiskannIndex.search(spark, path,
        q.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        k = 9, searchListSize = 100, rescore = 50).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
      .sortBy { case (rid, d) => (d, rid) }.toSeq
    val viaPoint = DiskannIndex.searchPoint(spark, path, qvec, k = 9,
      searchListSize = 100, rescore = 50)
    assert(viaPoint == viaDf)
    assert(viaPoint.head._1 == 11L) // self comes back first at dist ~0
  }

  test("stats / reachableCount / toDot introspection (V2, V6)") {
    val path = "/tmp/graft_test_index/multishard"
    val st = DiskannIndex.stats(spark, path)
    assert(st.numRows == 500 && st.numShards == 4)
    assert(st.avgDegree > 0 && st.maxDegree <= 50)
    // completeness gate over the on-disk index (build.rs:1717-1753 analog):
    // every node reachable from its shard's start node
    assert(DiskannIndex.reachableCount(spark, path) == 500)
    val dot = DiskannIndex.toDot(spark, path, shard = 0, maxNodes = 20)
    assert(dot.startsWith("digraph") && dot.contains("->"))
  }

  test("edges: out-edge export matches the nodes table and feeds distributed PageRank") {
    val path = "/tmp/graft_test_index/multishard"
    val edges = DiskannIndex.edges(spark, path)
    val st = DiskannIndex.stats(spark, path)
    // exactly one edge per neighbor-list slot, endpoints are real row ids,
    // and every row has out-edges (the graph is the index)
    assert(edges.count() == st.numEdges)
    val ids = emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val endpoints = edges.select(col("src")).union(edges.select(col("dst")))
      .distinct().collect().map(_.getLong(0))
    assert(endpoints.forall(ids))
    assert(edges.select(col("src")).distinct().count() == st.numRows)
    // link analysis over index edges: distributed kernel == driver fast
    // path, bit-identical (same gate as GraphOpsSpec, on a REAL index graph)
    def ranks(mde: Int) = {
      val out = graft.operators.GraphOps.pageRank(edges, nIter = 3,
        driverSolveMaxEdges = mde)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      CacheScope.releaseAll()
      out
    }
    assert(ranks(1000000) == ranks(0))
  }

  test("IVF partitioner: nProbe routing preserves recall on clustered data") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    // 8 well-separated gaussian blobs in 16-d: the shape IVF routing exists for
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian().toFloat * 10f))
    val rows = (0L until 800L).map { i =>
      val c = centers((i % 8).toInt)
      Row(i, c.map(x => x + rnd.nextGaussian().toFloat * 0.5f))
    }
    val schema = StructType(Seq(
      StructField("row_id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType), nullable = false)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val path = "/tmp/graft_test_index/ivf_routed"
    DiskannIndex.build(df, "row_id", "vec", None, path,
      DiskannParams(metric = "l2", numNeighbors = 16, searchListSize = 32,
        shardTargetRows = 100, partitioner = "ivf"))
    val meta = DiskannIndex.loadMeta(spark, path)
    assert(meta.partitioner == "ivf" && meta.centroids.length == meta.numShards)

    val qSchema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("qvec", ArrayType(FloatType), nullable = false)))
    val queries = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 8).map(q => Row(q.toLong, rows(q * 97).getAs[Array[Float]](1)))), qSchema)

    val full = DiskannIndex.search(spark, path, queries, 10, 100, 100)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val routed = DiskannIndex.search(spark, path, queries, 10, 100, 100, nProbe = 2)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    (0L until 8L).foreach { q =>
      val recall = full(q).intersect(routed(q)).size / 10.0
      assert(recall >= 0.9, s"qid=$q nProbe=2 recall $recall")
    }
  }

  test("qlabels against an unlabeled index matches nothing (no NPE)") {
    import org.apache.spark.sql.types._
    val path = "/tmp/graft_test_index/multishard" // built without labels
    val schema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("qvec", ArrayType(FloatType), nullable = false),
      StructField("qlabels", ArrayType(ShortType), nullable = true)))
    val q = emb.filter(col("vec_id") === 1).head()
      .getAs[scala.collection.mutable.ArraySeq[Float]]("embedding").toArray
    val queries = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, q, Array[Short](3))), schema)
    val out = DiskannIndex.search(spark, path, queries, k = 5).collect()
    assert(out.isEmpty) // P1 semantics: filter on an index with no labels
  }

  test("whole-shard scan: forced parquet splits still deliver complete shards") {
    val path = "/tmp/graft_test_index/multishard"
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val expected = DiskannIndex.search(spark, path, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // shrink the split size so every shard file is chopped into many splits —
    // without the whole-shard scan each task would see a shard subset and
    // build corrupt adjacency (node ids != array positions)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    graft.index.GraphSearcher.invalidate(path) // force searcher rebuild from the split scan
    try {
      val got = DiskannIndex.search(spark, path, queries, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == expected)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("high shard count takes the repartition scan path and stays correct") {
    // shardTargetRows=1 -> 500 single-node shards (> 256), exercising the
    // repartition-by-shard branch of the whole-shard scan
    val path = "/tmp/graft_test_index/manyshards"
    DiskannIndex.build(emb, "vec_id", "embedding", None, path,
      DiskannParams(metric = "cosine", shardTargetRows = 1))
    val meta = DiskannIndex.loadMeta(spark, path)
    assert(meta.numShards == 500)
    val queries = emb.filter(col("vec_id") === 11)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // 1-node shards make graph search exhaustive per shard: merged result
    // must equal the exact brute-force top-10
    val got = DiskannIndex.search(spark, path, queries, k = 10)
      .collect().sortBy(r => (r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq
    assert(got == exactTop(11L, 10, excludeSelf = false).map(_._1))
  }

  test("searchDistributed (no driver collect) matches the broadcast path") {
    val path = "/tmp/graft_test_index/multishard"
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val viaBroadcast = norm(DiskannIndex.search(spark, path, queries, k = 10).collect())
    val viaCogroup = norm(DiskannIndex.searchDistributed(spark, path, queries, k = 10).collect())
    assert(viaCogroup == viaBroadcast)

    // routed variant on the IVF index from the earlier test
    val ivfPath = "/tmp/graft_test_index/ivf_routed"
    val n = spark.read.parquet(s"$ivfPath/nodes")
    val q2 = n.filter(col("row_id") < 4)
      .select(col("row_id").as("qid"), col("vec").as("qvec"))
    val a = norm(DiskannIndex.search(spark, ivfPath, q2, 5, nProbe = 2).collect())
    val b = norm(DiskannIndex.searchDistributed(spark, ivfPath, q2, 5, nProbe = 2).collect())
    assert(a == b)

    // > 256 shards: since round 4 the zip path serves ANY shard count up to
    // graft.search.zipMaxShards (default 4096) — 500 single-row shards stay
    // on the shuffle-free nodes scan and must agree with the broadcast path
    val manyPath = "/tmp/graft_test_index/manyshards"
    val qm = emb.filter(col("vec_id") === 11)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val viaScan = norm(DiskannIndex.search(spark, manyPath, qm, 10).collect())
    val viaZip = norm(DiskannIndex.searchDistributed(spark, manyPath, qm, 10).collect())
    assert(viaZip == viaScan)
    // the defining property at 100 TB: the nodes side of the distributed
    // search carries NO shuffle dependency at >256 shards (one aligned
    // partition per shard directory instead of an Exchange)
    val nodes500 = spark.read.parquet(s"$manyPath/nodes")
    val aligned = DiskannIndex.shardAlignedNodesRdd(spark, nodes500, 0 until 500)
    assert(aligned.getNumPartitions == 500)
    assert(!DiskannIndex.hasShuffle(aligned),
      "shard-aligned nodes RDD must not shuffle the index")
    // past zipMaxShards, buckets hold MULTIPLE whole shards (round 5
    // replaced the dual-shuffle cogroup fallback) — results must agree AND
    // the bucketed nodes RDD must still be shuffle-free
    spark.conf.set("graft.search.zipMaxShards", "16")
    try {
      val viaBucketed = norm(DiskannIndex.searchDistributed(spark, manyPath, qm, 10).collect())
      assert(viaBucketed == viaScan)
      val buckets = (0 until 500).grouped(32).toIndexedSeq
      val bucketed = DiskannIndex.bucketedNodesRdd(spark, nodes500, buckets)
      assert(bucketed.getNumPartitions == buckets.length)
      assert(!DiskannIndex.hasShuffle(bucketed),
        "bucketed nodes RDD must not shuffle the index past zipMaxShards")
    } finally spark.conf.unset("graft.search.zipMaxShards")
  }

  test("searchDistributed honors label filters like the broadcast path") {
    import org.apache.spark.sql.types._
    val path = "/tmp/graft_test_index/dist_lbl"
    val labeled = emb.withColumn("labels",
      array((col("vec_id") % 4).cast(ShortType)))
    DiskannIndex.build(labeled, "vec_id", "embedding", Some("labels"), path,
      DiskannParams(metric = "cosine", shardTargetRows = 200))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        typedlit(Array[Short](2)).cast(ArrayType(ShortType)).as("qlabels"))
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val a = norm(DiskannIndex.search(spark, path, queries, k = 5,
      searchListSize = 200, rescore = 150).collect())
    val b = norm(DiskannIndex.searchDistributed(spark, path, queries, k = 5,
      searchListSize = 200, rescore = 150).collect())
    assert(a == b && a.nonEmpty)
    assert(a.forall(_._2 % 4 == 2)) // only label-2 rows emitted
  }

  test("legacy meta (pre-IVF, pre-buildId) loads with upgrade defaults") {
    // the analog of the reference's V1/V2->V3 meta upgrade tests
    // (upgrade_test.rs): drop the newer columns and reload
    val src = "/tmp/graft_test_index/multishard"
    val legacy = "/tmp/graft_test_index/legacy_meta"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(legacy))
    spark.read.parquet(s"$src/nodes").write.parquet(s"$legacy/nodes")
    spark.read.parquet(s"$src/_meta")
      .drop("partitioner", "centroids", "shardTargetRows", "buildId")
      .coalesce(1).write.parquet(s"$legacy/_meta")
    val meta = DiskannIndex.loadMeta(spark, legacy)
    assert(meta.partitioner == "hash" && meta.centroids.isEmpty &&
      meta.shardTargetRows == (1L << 20) && meta.buildId == "legacy")
    // and the index still serves
    val queries = emb.filter(col("vec_id") === 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = DiskannIndex.search(spark, legacy, queries, k = 5).collect()
    assert(out.length == 5 && out.map(_.getLong(1)).contains(3L))
  }

  test("executor shard-graph cache evicts LRU past spark.graft.maxCachedShards") {
    val env = org.apache.spark.SparkEnv.get
    val prev = env.conf.getOption("spark.graft.maxCachedShards")
    env.conf.set("spark.graft.maxCachedShards", "2")
    try {
      graft.index.GraphSearcher.invalidate("") // clear everything
      assert(graft.index.GraphSearcher.cachedCount == 0)
      val queries = emb.filter(col("vec_id") === 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // searching the 4-shard index builds 4 searchers; only 2 may remain
      val out = DiskannIndex.search(spark, "/tmp/graft_test_index/multishard",
        queries, k = 5).collect()
      assert(out.length == 5)
      assert(graft.index.GraphSearcher.cachedCount <= 2,
        s"cache held ${graft.index.GraphSearcher.cachedCount} > bound 2")
    } finally {
      prev match {
        case Some(v) => env.conf.set("spark.graft.maxCachedShards", v)
        case None => env.conf.remove("spark.graft.maxCachedShards")
      }
      graft.index.GraphSearcher.invalidate("")
    }
  }

  test("build phases fire in order: training -> building -> finalizing (ambuildphasename, build.rs:1154-1167)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        val grp = Option(jobStart.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (grp.startsWith(DiskannIndex.PhasePrefix))
          phases.add(grp.stripPrefix(DiskannIndex.PhasePrefix))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      DiskannIndex.build(emb, "vec_id", "embedding", None,
        "/tmp/graft_test_index/phases", DiskannParams(numNeighbors = 8, searchListSize = 16))
      // listener events are delivered asynchronously — poll for the last phase
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        !phases.contains(DiskannIndex.PhaseFinalizing)) Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    // distinct in arrival order: each phase may span several jobs
    val seen = phases.toArray(Array.empty[String]).foldLeft(Vector.empty[String]) {
      (acc, p) => if (acc.lastOption.contains(p)) acc else acc :+ p
    }
    assert(seen == Vector(DiskannIndex.PhaseTraining, DiskannIndex.PhaseBuilding,
      DiskannIndex.PhaseFinalizing), s"phases observed: $seen")
  }

  test("null query vector searches the zero vector (labels/mod.rs:214-216)") {
    import org.apache.spark.sql.types._
    val path = "/tmp/graft_test_index/multishard"
    val schema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("qvec", ArrayType(FloatType), nullable = true)))
    val queries = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(0L, null)), schema)
    val out = DiskannIndex.search(spark, path, queries, k = 5).collect()
    assert(out.length == 5) // zero-vector search still returns k rows
  }

  test("servePointBatch: executor pool == search path; warm tasks read zero bytes") {
    val path = "/tmp/graft_test_index/servepool"
    DiskannIndex.build(emb, "vec_id", "embedding", None, path,
      DiskannParams(metric = "cosine", shardTargetRows = 128))
    val qrows = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        null: Array[Short])).toSeq
    val viaDf = {
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      DiskannIndex.search(spark, path, queries, k = 7,
          searchListSize = 100, rescore = 50).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sortBy(h => (h._1, h._3, h._2))
    }
    graft.index.GraphSearcher.invalidate(path)
    val cold = DiskannIndex.servePointBatch(spark, path, qrows, k = 7,
      searchListSize = 100, rescore = 50)
    assert(cold == viaDf, "executor-resident pool diverged from search()")
    // warm shards answer on the driver; the executor pool (forced here)
    // returns the same rows, and its per-shard tasks must not consume the
    // lazy scan — total input bytes of the serve job is zero
    assert(DiskannIndex.servePointBatch(spark, path, qrows, k = 7,
      searchListSize = 100, rescore = 50) == cold)
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val jobsEnded = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobsEnded.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val warm = DiskannIndex.serveBatch(spark, path, qrows, k = 7,
        searchListSize = 100, rescore = 50, nProbe = 0,
        tombstones = Set.empty, onDriver = false)
      assert(warm == cold)
      // task-end events for a job are delivered before its job-end event;
      // poll until the serve job's events drained
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline && jobsEnded.get() < 1)
        Thread.sleep(20)
      assert(jobsEnded.get() >= 1, "serve job events never arrived")
      assert(bytes.get() == 0L,
        s"warm serve read ${bytes.get()} bytes; the scan must stay unconsumed")
    } finally spark.sparkContext.removeSparkListener(listener)
    // deletes are honored at the serving layer: tombstone the top hit
    val victim = cold.head._2
    DiskannIndex.deleteRows(spark, path, Seq(victim))
    try {
      val masked = DiskannIndex.servePointBatch(spark, path, qrows, k = 7,
        searchListSize = 100, rescore = 50)
      assert(!masked.exists(_._2 == victim), "tombstoned row still served")
    } finally {
      val t = new org.apache.hadoop.fs.Path(s"$path/tombstones")
      t.getFileSystem(spark.sessionState.newHadoopConf()).delete(t, true)
    }
  }

  test("delta driver-boundedness: capped radius pass stays unconfirmed, oversize broadcast fails naming StreamingIngest.compact") {
    val path = "/tmp/graft_test_index/delta_guard"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(path))
    import spark.implicits._
    def vec(base: Float, seed: Int): Array[Float] =
      Array.tabulate(8)(d =>
        if (d == 0) base + seed * 0.01f else seed * 0.001f * (d + 1))
    val main = (0 until 50).map(i => (i.toLong, vec(10f, i)))
      .toDF("vec_id", "embedding")
    DiskannIndex.build(main, "vec_id", "embedding", None, path,
      DiskannParams(metric = "l2", storage = "plain"))
    // 80 pending delta rows clustered far from every main row
    (0 until 80).map(i => (9000L + i, vec(-10f, i))).toDF("row_id", "vec")
      .write.mode("append").parquet(s"$path/delta")
    val q = vec(-10f, 40)

    // the point path's delta collect is capped at maxResults + 1: with 80
    // in-radius delta rows and a cap of 70, rows past the cap never reach
    // the driver and the answer must be UNCONFIRMED (the SQL scan's signal
    // to bail to the exact scan) — even though collapsing could have
    // shrunk the merge under the cap
    val (_, confirmed) = graft.streaming.StreamingIngest.rangeSearchFresh(
      spark, path, q, radius = 5.0, maxResults = 70)
    assert(!confirmed, "delta overflow past maxResults must be unconfirmed")
    // a generous cap returns the full exact delta set, confirmed
    val (hits, ok) = graft.streaming.StreamingIngest.rangeSearchFresh(
      spark, path, q, radius = 5.0, maxResults = 500)
    assert(ok, "generous cap must confirm")
    assert(hits.map(_._1).toSet == (0 until 80).map(9000L + _).toSet)

    // the fresh BATCH paths broadcast the delta — oversize is enforced,
    // not advisory, and the error names the real fix (folding the delta)
    val qs = Seq((0L, q)).toDF("qid", "qvec")
    val deltaDf = spark.read.parquet(s"$path/delta")
    spark.conf.set("graft.delta.maxBroadcastRows", "4")
    try {
      val e1 = intercept[IllegalArgumentException] {
        DiskannIndex.rangeSearchDistributedFresh(spark, path, qs, deltaDf,
          radius = 5.0).collect()
      }
      assert(e1.getMessage.contains("StreamingIngest.compact") &&
        e1.getMessage.contains("graft.delta.maxBroadcastRows"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        DiskannIndex.searchDistributedFresh(spark, path, qs, deltaDf, k = 3)
          .collect()
      }
      assert(e2.getMessage.contains("StreamingIngest.compact"), e2.getMessage)
    } finally spark.conf.unset("graft.delta.maxBroadcastRows")
  }

  test("serving memos invalidate: delta append and in-place rebuild stay visible") {
    // The serving memos (nodesBaseDf keyed on the generation BUILD ID since
    // round 16 — a UUID minted per (re)build, so even a rebuild landing
    // within the same filesystem-timestamp second, or on a store whose
    // directory mtimes don't track children, invalidates exactly;
    // WriteOnceFiles keyed on the delta listing fingerprint) must never
    // serve stale index state: an append changes the delta fingerprint, a
    // wipe-and-rebuild at the SAME path mints a new buildId. The rebuild
    // below typically lands within the same second as the first build, so
    // this test IS the same-second-rebuild aliasing case.
    val path = "/tmp/graft_test_index/memo_invalidation"
    graft.tools.LocalFs.deleteRec(new java.io.File(path))
    def buildOver(lo: Long, hi: Long): Unit = DiskannIndex.build(
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id").as("row_id"), col("embedding").as("vec")),
      "row_id", "vec", None, path, DiskannParams(metric = "cosine"))
    buildOver(0L, 100L)
    val q = emb.filter(col("vec_id") === 0)
      .select(lit(0L).as("qid"), col("embedding").as("qvec"))
    def hits(): Set[Long] = graft.streaming.StreamingIngest
      .searchFresh(spark, path, q, k = 5, searchListSize = 64, rescore = 64)
      .collect().map(_.getLong(1)).toSet
    val h1 = hits()
    assert(h1.nonEmpty && h1.forall(_ < 100L), s"base hits: $h1")
    assert(hits() == h1) // memo-warm repeat serves the same state
    // append a twin of the query vector: the delta fingerprint changes, so
    // the memoized (empty) snapshot must NOT be served — the twin is an
    // exact match and must surface
    graft.streaming.StreamingIngest.appendBatchToDelta(path)(
      emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 9000L).as("row_id"), col("embedding").as("vec")), 0L)
    assert(hits().contains(9000L), "delta append invisible: stale snapshot memo")
    // wipe-and-rebuild at the SAME path over a DISJOINT id slice (the
    // fixture-regen scenario): the recreated nodes dir has a new mtime, so
    // the memoized nodes scan must not serve the old generation's rows
    val buildId1 = DiskannIndex.loadMeta(spark, path).buildId
    graft.tools.LocalFs.deleteRec(new java.io.File(path))
    buildOver(100L, 200L)
    // the invalidation token: every (re)build mints a fresh UUID
    assert(DiskannIndex.loadMeta(spark, path).buildId != buildId1,
      "rebuild must mint a fresh buildId (the nodes-memo invalidation token)")
    val h3 = hits()
    assert(h3.nonEmpty && h3.forall(id => id >= 100L && id < 200L),
      s"post-rebuild hits leak the old generation: $h3")
  }

  /** 600 cosine rows in 4 IVF shards, labels 0-4, with 3 rows tombstoned. */
  private def servingFixture(path: String): Unit = {
    graft.tools.LocalFs.deleteRec(new java.io.File(path))
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val rows = (0 until 600).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat + (i % 4) * 2f),
        Array((i % 5).toShort))
    }
    DiskannIndex.build(rows.toDF("vec_id", "embedding", "labels"), "vec_id",
      "embedding", Some("labels"), path, DiskannParams(metric = "cosine",
        partitioner = "ivf", ivfSeed = Some("sb61"), shardTargetRows = 150))
    DiskannIndex.deleteRows(spark, path, Seq(3L, 40L, 333L))
  }

  test("servePointBatch: warm batches run 0 Spark jobs and equal the executor pool bit for bit") {
    val path = "/tmp/graft_test_index/serve_driver"
    servingFixture(path)
    val rnd = new scala.util.Random(62)
    // unfiltered, one label, two labels, and null vectors with and without
    // a filter; qids not in ascending order
    def batch(n: Int): Seq[(Long, Array[Float], Array[Short])] =
      (0 until n).map { i =>
        val v = if (i % 9 == 4) null
          else Array.fill(16)(rnd.nextGaussian().toFloat + (i % 4) * 2f)
        val l: Array[Short] = i % 3 match {
          case 0 => null
          case 1 => Array((i % 5).toShort)
          case _ => Array(((i + 1) % 5).toShort, (i % 5).toShort)
        }
        ((n - i) * 7L, v, l)
      }
    // (batch, k, nProbe, ad-hoc tombstones); k = 700 exceeds the 600 rows
    val cases = for {
      qs <- Seq(batch(1), batch(64), batch(128))
      k <- Seq(10, 700)
      nProbe <- Seq(0, 1)
      extra <- Seq(Set.empty[Long], Set(5L, 77L, 401L))
    } yield (qs, k, nProbe, extra)
    // the pool first: cold, it decodes every shard into this JVM's cache
    val want = cases.map { case (qs, k, nProbe, extra) =>
      DiskannIndex.serveBatch(spark, path, qs, k, 100, 50, nProbe, extra,
        onDriver = false)
    }
    def bits(hs: Seq[(Long, Long, Double)]) =
      hs.map(h => (h._1, h._2, java.lang.Double.doubleToLongBits(h._3)))
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        groups.add(Option(jobStart.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    val (got, threaded) = try {
      marker("serve-start")
      val got = cases.map { case (qs, k, nProbe, extra) =>
        DiskannIndex.servePointBatch(spark, path, qs, k, nProbe = nProbe,
          tombstones = extra)
      }
      // 4 client threads at once, each over every case
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val threaded = try {
        (0 until 4).map(_ => pool.submit(() => cases.map {
          case (qs, k, nProbe, extra) =>
            DiskannIndex.servePointBatch(spark, path, qs, k, nProbe = nProbe,
              tombstones = extra)
        })).map(_.get())
      } finally pool.shutdown()
      marker("serve-end")
      // events arrive in order: once the end marker's start has arrived,
      // every job started before it has too
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        !groups.contains("serve-end")) Thread.sleep(20)
      (got, threaded)
    } finally sc.removeSparkListener(listener)
    val order = groups.toArray(Array.empty[String]).toSeq
    assert(order.contains("serve-start") && order.contains("serve-end"),
      s"marker jobs never observed: $order")
    val between = order.dropWhile(_ != "serve-start").drop(1)
      .takeWhile(_ != "serve-end")
    assert(between.isEmpty, s"warm servePointBatch started ${between.length} job(s)")

    val dead = Set(3L, 40L, 333L)
    cases.indices.foreach { i =>
      val (qs, k, nProbe, extra) = cases(i)
      val what = s"batch=${qs.length} k=$k nProbe=$nProbe extra=$extra"
      assert(bits(got(i)) == bits(want(i)), s"$what: driver path != pool")
      threaded.foreach(t => assert(bits(t(i)) == bits(want(i)),
        s"$what: a concurrent client diverged"))
      assert(want(i).map(_._1).distinct == qs.map(_._1).sorted.distinct,
        s"$what: every query answered, in qid order")
      assert(!want(i).exists(h => dead(h._2) || extra(h._2)),
        s"$what: a tombstoned row was served")
      want(i).groupBy(_._1).values.foreach { hs =>
        assert(hs.length <= k && hs.map(_._2).distinct.length == hs.length)
      }
    }
    // k > n: an unfiltered, unrouted query returns every live row
    val full = want(cases.indexWhere(c =>
      c._1.length == 1 && c._2 == 700 && c._3 == 0 && c._4.isEmpty))
    assert(full.length == 597, s"k > n returned ${full.length} of 597 rows")
  }

  test("search: a small warm batch adds the telemetry of its queries run one by one, on the calling thread") {
    import org.apache.spark.sql.execution.metric.SQLMetric
    val path = "/tmp/graft_test_index/serve_driver_metrics"
    servingFixture(path)
    import spark.implicits._
    val rnd = new scala.util.Random(63)
    val qs = (0 until 48).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat + (i % 4) * 2f)))
    // SQLMetric.add is not atomic: every driver-side add must come from the
    // thread that called search, never from the batch's worker threads
    val adders = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    def run(batch: Seq[(Long, Array[Float])]): (Long, Long, Long) = {
      def metric(): SQLMetric = {
        val m = new SQLMetric("sum", 0L) {
          override def add(v: Long): Unit = {
            adders.add(Thread.currentThread())
            super.add(v)
          }
        }
        spark.sparkContext.register(m)
        m
      }
      val m = DiskannIndex.SearchMetrics(metric(), metric(), metric())
      DiskannIndex.search(spark, path, batch.toDF("qid", "qvec"), k = 10,
        metrics = Some(m)).collect()
      (m.nodesVisited.value, m.quantizedCmps.value, m.exactCmps.value)
    }
    run(qs.take(1)) // decodes every shard: later calls are warm
    val serial = qs.map(q => run(Seq(q))).reduce((a, b) =>
      (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    assert(serial._1 > 0 && serial._2 > 0 && serial._3 > 0, s"$serial")
    adders.clear()
    (0 until 3).foreach(_ => assert(run(qs) == serial))
    assert(adders.size == 1 && adders.contains(Thread.currentThread()),
      s"telemetry added from ${adders.size} threads")
  }
}

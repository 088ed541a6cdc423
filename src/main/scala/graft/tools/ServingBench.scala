package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.index.{DiskannIndex, DiskannParams}

/**
 * Serving-throughput bench: queries/second through the index's online
 * `search` path vs the exact brute-force scan, at reference query-GUC
 * defaults (L=100, rescore=50, k=10) — the throughput/latency axis the
 * reference's published benchmark is about (BASELINE.md: 16× Pinecone
 * throughput, 28× lower p95; no absolute numbers published, so this
 * records OURS per round for trend tracking).
 *
 * Method: one untimed warm pass (index build reused from /tmp, searcher
 * caches decode once — the steady state of a long-lived serving session),
 * then `reps` timed passes over a `nq`-query batch; reports best-pass and
 * mean QPS for the index path, the brute-force scan's QPS at the same
 * batch size, and the speedup. Run:
 *
 *   sbt 'runMain graft.tools.ServingBench /root/testdata/sf0.1'
 *   # second arg: explicit embeddings parquet (e.g. a ScaleProbe ×100
 *   # replica — the regime where the index's advantage is measurable;
 *   # at sf0.1's 2k vectors per-query scheduling dominates everything)
 *   sbt 'runMain graft.tools.ServingBench x100 /tmp/graft_scaleprobe/emb_x100'
 */
object ServingBench {

  /** `--text [docsParquet]`: BM25 serving through the STORED text index
    * ([[graft.operators.TextIndex]]) vs the one-shot corpus scorer, same
    * caller-shaped measurement as the ANN legs (collect, not count).
    * Query bags rotate over the corpus's top-df terms so the pruned
    * buckets differ per query — no single-partition cache flattery. */
  private def runText(spark: SparkSession, docsParquet: String): Unit = {
    import graft.operators.{TextAnalysis, TextIndex}
    val docs = spark.read.parquet(docsParquet).cache()
    val nDocs = docs.count()
    val tag = docsParquet.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"/tmp/graft_servingbench/text_$tag"
    if (!new java.io.File(s"$path/corpusstats/_SUCCESS").exists())
      TextIndex.buildTextIndex(docs, "doc_id", "text", path)
    // 96 highest-df terms → 32 rotating 3-term bags (deterministic)
    val top = spark.read.parquet(s"$path/termstats")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .orderBy(col("df").desc, col("term")).limit(96)
      .collect().map(_.getString(0))
    val bags = top.grouped(3).toSeq
    bags.take(4).foreach(b => // warm: file listings, codegen
      TextIndex.bm25SearchIndexed(spark, path, b.toSeq, n = 20).collect())
    val lats = bags.map { b =>
      val t0 = System.nanoTime()
      val n = TextIndex.bm25SearchIndexed(spark, path, b.toSeq, n = 20)
        .collect().length
      require(n > 0, s"empty result for bag ${b.mkString(",")}")
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val p50 = lats(lats.length / 2)
    val p95 = lats(math.min(lats.length - 1, (lats.length * 95) / 100))
    // the no-index cost: one-shot scorer = full tokenize pass per query
    val blats = bags.take(8).map { b =>
      val t0 = System.nanoTime()
      TextAnalysis.bm25(docs, "doc_id", "text", b.toSeq)
        .filter(col("bm25") > 0)
        .orderBy(col("bm25").desc, col("doc_id")).limit(20).collect()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val bp50 = blats(blats.length / 2)
    Console.err.println(f"[servingbench] text index ms: p50=$p50%.1f " +
      f"p95=$p95%.1f; one-shot p50=$bp50%.1f (vocab=${top.length} terms)")
    // n_terms matters for reading the number: the synthetic corpus has a
    // ~31-word vocabulary, so EVERY posting list is corpus-sized — the
    // inverted index's worst case (a Zipfian corpus's selective terms have
    // short pruned postings and serve near-constant). The speedup here is
    // pure tokenize-avoidance + columnar postings; treat it as the FLOOR.
    println(f"""{"metric":"servingbench_text","docs":"$docsParquet",""" +
      f""""n_docs":$nDocs,"n_terms":${top.length},"nq":${bags.length},""" +
      f""""indexed_p50_ms":$p50%.1f,"indexed_p95_ms":$p95%.1f,""" +
      f""""oneshot_p50_ms":$bp50%.1f,"speedup_p50":${bp50 / p50}%.2f}""")
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--text")) {
      val rest = args.filterNot(_ == "--text")
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      runText(spark, rest.headOption
        .getOrElse("/tmp/graft_scaleprobe/docs_x100"))
      spark.stop()
      return
    }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nq = sys.env.getOrElse("SPARK_GRAFT_NQ", "512").toInt
    val reps = 5
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    VectorFunctions.register(spark)

    val embPath = args.lift(1).getOrElse(s"$sfDir/embeddings.parquet")
    val e = spark.read.parquet(embPath)
    val nRows = e.count()
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"/tmp/graft_servingbench/$tag/cos_ivf"
    if (!new java.io.File(s"$path/_meta/_SUCCESS").exists())
      DiskannIndex.build(e, "vec_id", "embedding", None, path,
        DiskannParams(metric = "cosine", partitioner = "ivf"))

    val queries = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .cache()
    // QPS divides by the ACTUAL batch size: sparse/offset vec_ids would
    // otherwise silently inflate every reported rate
    val nqActual = queries.count()
    require(nqActual > 0, s"no query rows with vec_id < $nq in $embPath")

    def timeReps(label: String)(body: => Long): (Double, Double) = {
      body // warm (untimed): caches, codegen, file listings
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = body
        val s = (System.nanoTime() - t0) / 1e9
        Console.err.println(f"[servingbench] $label: $s%.3fs ($n rows)")
        s
      }
      (secs.min, secs.sum / reps)
    }

    // online serving path at reference GUC defaults, all shards probed
    val (annBest, annMean) = timeReps("ann_search") {
      DiskannIndex.search(spark, path, queries, k = 10,
        searchListSize = 100, rescore = 50).count()
    }
    // IVF-routed serving (nProbe=4 of the default shard count): the
    // production configuration when the corpus outgrows all-shards scans
    val (ivfBest, ivfMean) = timeReps("ann_search_nprobe4") {
      DiskannIndex.search(spark, path, queries, k = 10,
        searchListSize = 100, rescore = 50, nProbe = 4).count()
    }
    // exact brute force at the same batch size: broadcast queries ×
    // corpus scan + partial top-k — the "no index" cost
    val (bfBest, bfMean) = timeReps("brute_force") {
      graft.operators.Similarity.knnJoin(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")),
        queries, 10,
        (a, b) => VectorFunctions.vec_cosine_dist(a, b)).count()
    }

    // single-query latency through the warm serving path (p50/p95 — the
    // reference's headline axis is p95): 64 sequential one-query searches,
    // IVF-routed, warm searcher caches. In local mode this exercises the
    // warm-cache direct path (no per-query scan job once the shard's
    // GraphSearcher is decoded in this JVM) — the serving-node-colocated
    // configuration.
    import spark.implicits._
    val qrows = queries.limit(64).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    qrows.take(4).foreach { case (qid, v) => // warm: decode + codegen
      DiskannIndex.search(spark, path, Seq((qid, v)).toDF("qid", "qvec"),
        k = 10, searchListSize = 100, rescore = 50, nProbe = 4).count()
    }
    val lats = qrows.map { case (qid, v) =>
      val one = Seq((qid, v)).toDF("qid", "qvec")
      val t0 = System.nanoTime()
      // collect(), not count(): the all-warm result is a LocalRelation,
      // which executeCollect() serves driver-side with no job at all —
      // exactly what a serving caller does with a k-row answer (a count()
      // would plan an Aggregate and pay a 1-task job for nothing)
      val n = DiskannIndex.search(spark, path, one, k = 10,
        searchListSize = 100, rescore = 50, nProbe = 4).collect().length
      require(n > 0)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val p50 = lats(lats.length / 2)
    val p95 = lats(math.min(lats.length - 1, (lats.length * 95) / 100))
    Console.err.println(f"[servingbench] single-query latency ms: " +
      f"p50=$p50%.1f p95=$p95%.1f min=${lats.head}%.1f max=${lats.last}%.1f")

    // the point API (no DataFrame round-trip at all): the serving call a
    // reference client's per-query SQL maps to
    val plats = qrows.map { case (_, v) =>
      val t0 = System.nanoTime()
      val hits = DiskannIndex.searchPoint(spark, path, v, k = 10,
        searchListSize = 100, rescore = 50, nProbe = 4)
      require(hits.nonEmpty)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val pp50 = plats(plats.length / 2)
    val pp95 = plats(math.min(plats.length - 1, (plats.length * 95) / 100))
    Console.err.println(f"[servingbench] point-API latency ms: " +
      f"p50=$pp50%.1f p95=$pp95%.1f min=${plats.head}%.1f max=${plats.last}%.1f")

    // CLUSTER-MODE-faithful serving: servePointBatch's executor pool,
    // forced (`onDriver = false`) — every call is a real Spark job whose
    // per-shard tasks answer from EXECUTOR-resident searchers (warm tasks
    // read zero bytes; asserted in DiskannIndexSpec). This is the number a
    // driver NOT colocated with the cache gets, which the driver-local
    // paths above structurally cannot measure.
    val execQ = qrows.map { case (qid, v) => (qid, v, null: Array[Short]) }
    execQ.take(4).foreach(q => // warm executor caches + codegen
      DiskannIndex.serveBatch(spark, path, Seq(q), k = 10, 100, 50, 4,
        Set.empty, onDriver = false))
    val elats = execQ.map { q =>
      val t0 = System.nanoTime()
      val hits = DiskannIndex.serveBatch(spark, path, Seq(q), k = 10, 100,
        50, 4, Set.empty, onDriver = false)
      require(hits.nonEmpty)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val ep50 = elats(elats.length / 2)
    val ep95 = elats(math.min(elats.length - 1, (elats.length * 95) / 100))
    Console.err.println(f"[servingbench] executor-pool latency ms: " +
      f"p50=$ep50%.1f p95=$ep95%.1f min=${elats.head}%.1f max=${elats.last}%.1f")
    // and its batched throughput: the whole nq batch through one pool call
    val allQ = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, null: Array[Short]))
      .toSeq
    val (epBest, epMean) = timeReps("executor_pool_batch") {
      DiskannIndex.serveBatch(spark, path, allQ, k = 10, 100, 50, 4,
        Set.empty, onDriver = false).length.toLong
    }

    def qps(sec: Double): Double = nqActual / sec
    println(f"""{"metric":"servingbench","sf":"$sfDir","n_rows":$nRows,"nq":$nqActual,"k":10,""" +
      f""""ann_qps_best":${qps(annBest)}%.1f,"ann_qps_mean":${qps(annMean)}%.1f,""" +
      f""""ivf4_qps_best":${qps(ivfBest)}%.1f,"ivf4_qps_mean":${qps(ivfMean)}%.1f,""" +
      f""""brute_qps_best":${qps(bfBest)}%.1f,"speedup_best":${bfBest / annBest}%.2f,""" +
      f""""single_query_p50_ms":$p50%.1f,"single_query_p95_ms":$p95%.1f,""" +
      f""""point_p50_ms":$pp50%.1f,"point_p95_ms":$pp95%.1f,""" +
      f""""executor_pool_p50_ms":$ep50%.1f,"executor_pool_p95_ms":$ep95%.1f,""" +
      f""""executor_pool_qps_best":${qps(epBest)}%.1f,"executor_pool_qps_mean":${qps(epMean)}%.1f}""")
    spark.stop()
  }
}

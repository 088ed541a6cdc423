package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{Graft, KnnCatalog}
import graft.index.{DiskannIndex, DiskannParams}
import graft.functions.VectorFunctions._

/** Planner integration: ORDER BY dist LIMIT k over a registered relation is
  * planned as KnnIndexScan; everything else falls back to the native plan. */
class KnnStrategySpec extends AnyFunSuite {
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

  private val srcPath = "/root/testdata/sf0.001/embeddings.parquet"
  private val idxPath = "/tmp/graft_test_index/strategy_cos"

  private lazy val setup: Unit = {
    val e = spark.read.parquet(srcPath)
    DiskannIndex.build(e, "vec_id", "embedding", None, idxPath,
      DiskannParams(metric = "cosine"))
    Graft.enable(spark)
    KnnCatalog.register(srcPath, KnnCatalog.Entry(idxPath, srcPath,
      "vec_id", "embedding", None, "cosine"))
    spark.conf.set("graft.knn.searchListSize", "200")
    spark.conf.set("graft.knn.rescore", "150")
  }

  private def qvecSql: String = {
    val q = spark.read.parquet(srcPath).filter($"vec_id" === 0)
      .head().getAs[scala.collection.mutable.ArraySeq[Float]]("embedding")
    s"CAST(array(${q.mkString(", ")}) AS ARRAY<FLOAT>)"
  }

  test("SQL ORDER BY cosine LIMIT k plans through the index and matches brute force") {
    setup
    val sql =
      s"""SELECT vec_id FROM parquet.`$srcPath`
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 10""".stripMargin
    val df = spark.sql(sql)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("KnnIndexScan"), s"expected index scan in plan:\n$plan")
    val got = df.collect().map(_.getLong(0)).toSeq
    val brute = spark.read.parquet(srcPath)
      .crossJoin(broadcast(spark.read.parquet(srcPath).filter($"vec_id" === 0)
        .select($"embedding".as("q"))))
      .select($"vec_id", vec_cosine_dist($"embedding", $"q").as("d"))
      .orderBy($"d", $"vec_id").limit(10).collect().map(_.getLong(0)).toSeq
    assert(got == brute)
    assert(got.head == 0L) // the query vector itself, distance 0
  }

  test("REGISTER INDEX EDGES binds the Vamana graph as a lazy distributed view") {
    import org.apache.spark.sql.SparkSession
    setup
    val src = "/tmp/graft_test_index/sql_edges_src"
    spark.read.parquet(srcPath).write.mode("overwrite").parquet(src)
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // the DDL goes through GraftSqlParser, which installs with the
      // session extensions (same setup as the DDL-lifecycle test)
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      s2.sql(
        s"""CREATE INDEX edge_idx ON '$src' USING DISKANN (embedding vector_cosine_ops)
           |WITH (id_col='vec_id')""".stripMargin).collect()
      s2.sql("REGISTER INDEX EDGES edge_idx AS g_edges")
      val st = DiskannIndex.stats(s2, s"$src/_graft_index/edge_idx")
      // one edge per neighbor slot, and a degree audit over the view
      // agrees with the index's own stats — all through plain SQL
      assert(s2.sql("SELECT count(*) FROM g_edges").head().getLong(0)
        == st.numEdges)
      val maxOut = s2.sql(
        "SELECT max(c) FROM (SELECT src, count(*) AS c FROM g_edges GROUP BY src)")
        .head().getLong(0)
      assert(maxOut == st.maxDegree)
      // freshness across compaction: a delta-appended row has no edges
      // until compact folds it in; after compact the registered view must
      // serve the NEW generation's graph without re-registration (a view
      // pinned to the registration-time generation would miss the row —
      // and break entirely once GC collects that generation)
      val idxPath = s"$src/_graft_index/edge_idx"
      val dim = s2.read.parquet(src).selectExpr("size(embedding)")
        .head().getInt(0)
      val newId = 999999L
      locally {
        import s2.implicits._
        val batch = Seq((newId, Array.fill(dim)(0.5f))).toDF("row_id", "vec")
        graft.streaming.StreamingIngest.appendBatchToDelta(idxPath)(batch, 0L)
      }
      assert(s2.sql(s"SELECT count(*) FROM g_edges WHERE src = $newId")
        .head().getLong(0) == 0L) // delta rows have no edges pre-compact
      graft.streaming.StreamingIngest.compact(s2, idxPath)
      assert(s2.sql(s"SELECT count(*) FROM g_edges WHERE src = $newId")
        .head().getLong(0) > 0L,
        "registered edges view must serve the post-compaction generation")
      s2.sql("DROP INDEX edge_idx WITH (delete_files=true)")
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("unregistered relation falls back to native TakeOrdered") {
    setup
    val sql =
      s"""SELECT doc_id FROM parquet.`/root/testdata/sf0.001/documents.parquet`
         |ORDER BY doc_id LIMIT 5""".stripMargin
    val plan = spark.sql(sql).queryExecution.executedPlan.toString
    assert(!plan.contains("KnnIndexScan"))
  }

  test("descending order falls back; residual predicates plan as recheck") {
    setup
    val desc = spark.sql(
      s"""SELECT vec_id FROM parquet.`$srcPath`
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) DESC LIMIT 5""".stripMargin)
    assert(!desc.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
    // a non-label WHERE becomes a residual recheck above the index scan
    // (P4 / xs_recheck) with an over-fetch loop, not a brute-force fallback
    val filtered = spark.sql(
      s"""SELECT vec_id FROM parquet.`$srcPath` WHERE vec_id > 100
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("KnnIndexScan") && plan.contains("recheck"), s"plan:\n$plan")
    val got = filtered.collect().map(_.getLong(0)).toSeq
    val brute = spark.read.parquet(srcPath).filter($"vec_id" > 100)
      .crossJoin(broadcast(spark.read.parquet(srcPath).filter($"vec_id" === 0)
        .select($"embedding".as("q"))))
      .select($"vec_id", vec_cosine_dist($"embedding", $"q").as("d"))
      .orderBy($"d", $"vec_id").limit(5).collect().map(_.getLong(0)).toSeq
    assert(got == brute)
  }

  test("subquery and non-deterministic residuals fall back to native plan") {
    setup
    val sub = spark.sql(
      s"""SELECT vec_id FROM parquet.`$srcPath`
         |WHERE vec_id > (SELECT min(vec_id) + 100 FROM parquet.`$srcPath`)
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
    assert(!sub.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
    assert(sub.collect().length == 5) // native plan answers it correctly
    // rand() is non-deterministic: the residual cannot be re-evaluated in
    // the scan's over-fetch loop, so the plan must stay native
    val rand = spark.sql(
      s"""SELECT vec_id FROM parquet.`$srcPath` WHERE rand(7) < 0.9
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
    assert(!rand.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
    assert(rand.collect().length <= 5)
  }

  test("highly selective residual escalates the over-fetch until k survive") {
    setup
    // ~1% of rows survive: forces at least one k escalation round
    val q = spark.sql(
      s"""SELECT vec_id FROM parquet.`$srcPath` WHERE vec_id % 50 = 7
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
    assert(q.queryExecution.executedPlan.toString.contains("recheck"))
    val got = q.collect().map(_.getLong(0)).toSeq
    assert(got.length == 5 && got.forall(_ % 50 == 7))
    val brute = spark.read.parquet(srcPath).filter($"vec_id" % 50 === 7)
      .crossJoin(broadcast(spark.read.parquet(srcPath).filter($"vec_id" === 0)
        .select($"embedding".as("q"))))
      .select($"vec_id", vec_cosine_dist($"embedding", $"q").as("d"))
      .orderBy($"d", $"vec_id").limit(5).collect().map(_.getLong(0)).toSeq
    assert(got == brute)
  }

  test("selective residual at 100k rows stays distributed and bails to exact brute force at the cap") {
    setup
    val bigSrc = "/tmp/graft_test_index/resid_big_src"
    val bigIdx = "/tmp/graft_test_index/resid_big_idx"
    val n = 100000
    // deterministic 8-d vectors; ~0.1% of rows satisfy the residual below
    spark.range(n).selectExpr("id AS vec_id",
      "transform(sequence(1, 8), d -> CAST(pmod(hash(id, d), 997) / 997.0 AS FLOAT)) AS embedding")
      .write.mode("overwrite").parquet(bigSrc)
    DiskannIndex.build(spark.read.parquet(bigSrc), "vec_id", "embedding", None,
      bigIdx, DiskannParams(metric = "cosine", numNeighbors = 16,
        searchListSize = 32, storage = "plain", shardTargetRows = 8192))
    KnnCatalog.register(bigSrc, KnnCatalog.Entry(bigIdx, bigSrc,
      "vec_id", "embedding", None, "cosine"))
    // cap the over-fetch well below the survivor horizon: with selectivity
    // 1/1024 the first (and only) 4096-row round finds ~4 < 10 survivors and
    // the scan must bail out to the exact distributed brute-force shape —
    // never an isin over 100k literals, never a 100k-row driver collect
    spark.conf.set("graft.knn.residual.maxOverfetch", "4096")
    spark.conf.set("graft.knn.residual.maxRounds", "2")
    val qv8 = "CAST(array(0.5, 0.1, 0.9, 0.3, 0.7, 0.2, 0.8, 0.4) AS ARRAY<FLOAT>)"
    try {
      val q = spark.sql(
        s"""SELECT vec_id FROM parquet.`$bigSrc` WHERE vec_id % 1024 = 5
           |ORDER BY vec_cosine_dist(embedding, $qv8) LIMIT 10""".stripMargin)
      assert(q.queryExecution.executedPlan.toString.contains("recheck"))
      val got = q.collect().map(_.getLong(0)).toSeq
      // the bail-out is exact, so the answer must EQUAL brute force
      val brute = spark.sql(
        s"""SELECT vec_id, vec_cosine_dist(embedding, $qv8) AS d
           |FROM parquet.`$bigSrc` WHERE vec_id % 1024 = 5
           |ORDER BY d, vec_id LIMIT 10""".stripMargin)
        .collect().map(_.getLong(0)).toSeq
      assert(got == brute, s"got=$got brute=$brute")
    } finally {
      spark.conf.unset("graft.knn.residual.maxOverfetch")
      spark.conf.unset("graft.knn.residual.maxRounds")
      KnnCatalog.unregister(bigSrc)
    }
  }

  test("resumable escalation: warm rounds extend the frontier instead of re-searching") {
    setup
    graft.index.GraphSearcher.invalidate(idxPath)
    def runEscalating(): Long = {
      // fresh plan per run => fresh SQLMetrics; ~2% selectivity forces the
      // over-fetch loop through at least one escalation round
      val q = spark.sql(
        s"""SELECT vec_id FROM parquet.`$srcPath` WHERE vec_id % 50 = 7
           |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
      assert(q.collect().map(_.getLong(0)).forall(_ % 50 == 7))
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: graft.plans.KnnIndexScanExec => s }.get
      scan.metrics("numNodesVisited").value
    }
    val cold = runEscalating() // round 1 distributed, later rounds resume
    val warm = runEscalating() // every round resumes: ~ the FINAL budget only
    assert(warm > 0, "metric not recorded")
    assert(warm < cold,
      s"warm escalation ($warm visits) should beat cold restart-rounds ($cold)")
    // the resumable path's total is ~the last round's budget; the cold run
    // re-paid at least one earlier full round on top — require a real gap
    assert(warm <= 0.8 * cold, s"expected <=0.8x, got $warm vs $cold")
  }

  test("label gate: one overlap on labelsCol claimed; AND of two or wrong column falls back") {
    setup
    val lblSrc = "/tmp/graft_test_index/strategy_lbl_src"
    val lblIdx = "/tmp/graft_test_index/strategy_lbl"
    // labels = (id%4, id%3+10); tags is an array column the index was NOT built on
    spark.read.parquet(srcPath)
      .withColumn("labels", array(($"vec_id" % 4).cast("short"),
        ($"vec_id" % 3 + 10).cast("short")))
      .withColumn("tags", array(($"vec_id" % 5).cast("short")))
      .write.mode("overwrite").parquet(lblSrc)
    DiskannIndex.build(spark.read.parquet(lblSrc), "vec_id", "embedding",
      Some("labels"), lblIdx, DiskannParams(metric = "cosine"))
    KnnCatalog.register(lblSrc, KnnCatalog.Entry(lblIdx, lblSrc,
      "vec_id", "embedding", Some("labels"), "cosine"))
    def q(where: String) = spark.sql(
      s"""SELECT vec_id FROM parquet.`$lblSrc` WHERE $where
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
    def sArr(x: Int) = s"CAST(array($x) AS ARRAY<SHORT>)"

    val one = q(s"arrays_overlap(labels, ${sArr(1)})")
    assert(one.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
    val got = one.collect().map(_.getLong(0)).toSeq
    assert(got.length == 5 && got.forall(_ % 4 == 1)) // filter actually applied

    // AND of two overlaps: no row carries both 1 and 2 (1 -> id%4==1,
    // 2 -> id%4==2 are disjoint), so the correct answer is EMPTY. The old
    // unioned-label-set gate claimed this with OR semantics; now the whole
    // conjunction is a residual recheck — exact AND, zero survivors, even
    // after the over-fetch loop exhausts the index.
    val anded = q(s"arrays_overlap(labels, ${sArr(1)}) AND arrays_overlap(labels, ${sArr(2)})")
    assert(anded.queryExecution.executedPlan.toString.contains("recheck"))
    assert(anded.collect().isEmpty)

    // an overlap on an array column the index was NOT built with cannot be
    // claimed as the index filter — it must be re-checked as residual
    val wrongCol = q(s"arrays_overlap(tags, ${sArr(1)})")
    assert(wrongCol.queryExecution.executedPlan.toString.contains("recheck"))
    val wc = wrongCol.collect().map(_.getLong(0))
    assert(wc.length == 5 && wc.forall(_ % 5 == 1))
  }

  test("selectivity-aware escalation: round 2 is sized from the observed survival rate") {
    setup
    // ~1/50 survival with k=5: the blind x4 ladder needs 3 rounds
    // (64 -> 256 -> cap); the adaptive sizing measures ~2% survival in
    // round 1 and jumps straight to the cap — 2 rounds
    val q = spark.sql(
      s"""SELECT vec_id FROM parquet.`$srcPath` WHERE vec_id % 50 = 7
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
    val got = q.collect().map(_.getLong(0)).toSeq
    assert(got.length == 5 && got.forall(_ % 50 == 7))
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case k: graft.plans.KnnIndexScanExec => k }
    assert(scan.isDefined, "expected a KnnIndexScan with residual recheck")
    val rounds = scan.get.metrics("numEscalationRounds").value
    assert(rounds <= 2, s"adaptive sizing should need <=2 rounds, took $rounds")
  }

  test("label-selectivity bound (labelstats): a selective label exhausts in one round") {
    setup
    val lblSrc = "/tmp/graft_test_index/strategy_sel_src"
    val lblIdx = "/tmp/graft_test_index/strategy_sel_idx"
    // rare label 99 on exactly 64 rows — equal to the default first-round
    // over-fetch, the case the blind loop cannot tell from "more to fetch"
    // (round 1 returns exactly kk hits) and burns a second round on
    spark.read.parquet(srcPath)
      .withColumn("labels",
        when($"vec_id" < 64, array(lit(99).cast("short")))
          .otherwise(array(($"vec_id" % 4).cast("short"))))
      .write.mode("overwrite").parquet(lblSrc)
    DiskannIndex.build(spark.read.parquet(lblSrc), "vec_id", "embedding",
      Some("labels"), lblIdx, DiskannParams(metric = "cosine"))
    KnnCatalog.register(lblSrc, KnnCatalog.Entry(lblIdx, lblSrc,
      "vec_id", "embedding", Some("labels"), "cosine"))
    try {
      // labelstats recorded at build: label 99 -> 64 nodes
      val counts = DiskannIndex.labelCounts(spark, lblIdx)
      assert(counts.exists(_.get(99.toShort).contains(64L)),
        s"labelstats missing or wrong: $counts")
      // label pushed to traversal; residual keeps only 4 of the 64
      // (0,16,32,48) — fewer than k, so without the population bound the
      // loop would escalate. With it, round 1 kk == population ⇒ exhausted.
      val q = spark.sql(
        s"""SELECT vec_id FROM parquet.`$lblSrc`
           |WHERE arrays_overlap(labels, CAST(array(99) AS ARRAY<SHORT>))
           |  AND vec_id % 16 = 0
           |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
      val got = q.collect().map(_.getLong(0)).toSeq.sorted
      assert(got == Seq(0L, 16L, 32L, 48L), s"got $got")
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case k: graft.plans.KnnIndexScanExec => k }
      assert(scan.isDefined)
      val rounds = scan.get.metrics("numEscalationRounds").value
      assert(rounds == 1,
        s"population-bounded scan should exhaust in round 1, took $rounds")
    } finally KnnCatalog.unregister(lblSrc)
  }

  test("delta-size bound: a small index + small delta exhausts in round 1") {
    // 60 rows in the main graph + 4 pending delta rows = 64 returnable
    // rows, exactly the default first-round over-fetch. With the delta
    // counted from parquet footers, round 1 kk == total ⇒ exhausted; with
    // the old "delta size unknown ⇒ +maxOverfetch" term the loop burned
    // every escalation round and bailed to brute force.
    val dSrc = "/tmp/graft_test_index/strategy_delta_bound_src"
    val dIdx = "/tmp/graft_test_index/strategy_delta_bound_idx"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(dIdx))
    val e = spark.read.parquet(srcPath).filter($"vec_id" < 64)
    e.write.mode("overwrite").parquet(dSrc)
    DiskannIndex.build(spark.read.parquet(dSrc).filter($"vec_id" < 60),
      "vec_id", "embedding", None, dIdx, DiskannParams(metric = "cosine"))
    spark.read.parquet(dSrc).filter($"vec_id" >= 60)
      .select($"vec_id".as("row_id"), $"embedding".as("vec"))
      .write.mode("append").parquet(s"$dIdx/delta")
    Graft.enable(spark)
    KnnCatalog.register(dSrc, KnnCatalog.Entry(dIdx, dSrc,
      "vec_id", "embedding", None, "cosine"))
    try {
      assert(graft.streaming.StreamingIngest.deltaRowCount(spark, dIdx) == 4L)
      // only 4 survivors (1,17,33,49) < k=5: without the exhaustion
      // shortcut the loop must escalate/bail; with it, round 1 is terminal
      // (k=5 stays under the cost gate's n*maxKFraction = 6 on 60 rows)
      val q = spark.sql(
        s"""SELECT vec_id FROM parquet.`$dSrc` WHERE vec_id % 16 = 1
           |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
      val got = q.collect().map(_.getLong(0)).toSeq.sorted
      assert(got == Seq(1L, 17L, 33L, 49L), s"got $got")
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case k: graft.plans.KnnIndexScanExec => k }
      assert(scan.isDefined, "expected a KnnIndexScan with residual recheck")
      val rounds = scan.get.metrics("numEscalationRounds").value
      assert(rounds == 1,
        s"delta-bounded scan should exhaust in round 1, took $rounds")
    } finally KnnCatalog.unregister(dSrc)
  }

  test("SQL radius filter (no LIMIT) plans as KnnRangeScan and matches brute force") {
    setup
    val q = spark.sql(
      s"""SELECT vec_id FROM parquet.`$srcPath`
         |WHERE vec_cosine_dist(embedding, $qvecSql) <= 0.8 AND vec_id % 2 = 0
         |ORDER BY vec_id""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("KnnRangeScan"), s"expected radius index scan:\n$plan")
    val got = q.collect().map(_.getLong(0)).toSeq
    val brute = spark.read.parquet(srcPath)
      .crossJoin(broadcast(spark.read.parquet(srcPath).filter($"vec_id" === 0)
        .select($"embedding".as("q"))))
      .filter(vec_cosine_dist($"embedding", $"q") <= 0.8 && $"vec_id" % 2 === 0)
      .select($"vec_id").orderBy($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == brute, s"radius scan diverged: got ${got.length} vs ${brute.length} rows")
    assert(got.nonEmpty && got.length < 500, "fixture radius should be selective but non-empty")
    // reversed operand + strict `<` plan through the same rewrite
    val rev = spark.sql(
      s"""SELECT count(*) FROM parquet.`$srcPath`
         |WHERE 0.8 > vec_cosine_dist(embedding, $qvecSql)""".stripMargin)
    assert(rev.queryExecution.executedPlan.toString.contains("KnnRangeScan"))
    assert(rev.head().getLong(0) > 0)
  }

  test("SQL radius filter claims the label overlap for the traversal") {
    val lSrc = "/tmp/graft_test_index/strategy_range_lbl_src"
    val lIdx = "/tmp/graft_test_index/strategy_range_lbl_idx"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(lIdx))
    spark.read.parquet(srcPath)
      .withColumn("labels", array(($"vec_id" % 4).cast("short")))
      .write.mode("overwrite").parquet(lSrc)
    DiskannIndex.build(spark.read.parquet(lSrc), "vec_id", "embedding",
      Some("labels"), lIdx, DiskannParams(metric = "cosine"))
    Graft.enable(spark)
    KnnCatalog.register(lSrc, KnnCatalog.Entry(lIdx, lSrc,
      "vec_id", "embedding", Some("labels"), "cosine"))
    try {
      val q = spark.sql(
        s"""SELECT vec_id FROM parquet.`$lSrc`
           |WHERE arrays_overlap(labels, CAST(array(1) AS ARRAY<SHORT>))
           |  AND vec_cosine_dist(embedding, $qvecSql) <= 0.8""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("KnnRangeScan") && plan.contains("labels=[1]"),
        s"label not claimed by the radius scan:\n$plan")
      val got = q.collect().map(_.getLong(0)).toSeq.sorted
      val brute = spark.read.parquet(lSrc)
        .crossJoin(broadcast(spark.read.parquet(srcPath)
          .filter($"vec_id" === 0).select($"embedding".as("q"))))
        .filter($"vec_id" % 4 === 1 &&
          vec_cosine_dist($"embedding", $"q") <= 0.8)
        .select($"vec_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(got == brute, s"labeled radius scan diverged (${got.length} vs ${brute.length})")
      assert(got.nonEmpty && got.forall(_ % 4 == 1))
      // labeled radius THROUGH the delta merge: two twins of the query
      // vector land in the delta — one carrying the claimed label, one not.
      // The heap must hold them (they are fetched by id), the plan must
      // stay KnnRangeScan, and only the matching twin may surface.
      val q0 = spark.read.parquet(srcPath).filter($"vec_id" === 0)
        .select($"embedding").head()
        .getAs[scala.collection.mutable.ArraySeq[Float]](0).toArray
      val twoRows = spark.createDataFrame(Seq(
          (8001L, q0, Array(1.toShort)), (8002L, q0, Array(2.toShort))))
        .toDF("vec_id", "embedding", "labels")
      spark.read.parquet(lSrc).select($"vec_id", $"embedding", $"labels")
        .unionByName(twoRows)
        .write.mode("overwrite").parquet(s"${lSrc}_plus")
      KnnCatalog.register(s"${lSrc}_plus", KnnCatalog.Entry(lIdx,
        s"${lSrc}_plus", "vec_id", "embedding", Some("labels"), "cosine"))
      try {
        twoRows.select($"vec_id".as("row_id"), $"embedding".as("vec"),
            $"labels")
          .write.mode("append").parquet(s"$lIdx/delta")
        val qd = spark.sql(
          s"""SELECT vec_id FROM parquet.`${lSrc}_plus`
             |WHERE arrays_overlap(labels, CAST(array(1) AS ARRAY<SHORT>))
             |  AND vec_cosine_dist(embedding, $qvecSql) <= 0.8""".stripMargin)
        assert(qd.queryExecution.executedPlan.toString.contains("KnnRangeScan"),
          "labeled radius must stay index-planned under a pending delta")
        val gotD = qd.collect().map(_.getLong(0)).toSet
        assert(gotD == brute.toSet + 8001L,
          s"labeled delta merge diverged: $gotD (want brute + 8001, not 8002)")
      } finally {
        KnnCatalog.unregister(s"${lSrc}_plus")
        // scrub the delta so re-runs of the suite rebuild a clean fixture
        deleteRec(new java.io.File(s"$lIdx/delta"))
      }
    } finally KnnCatalog.unregister(lSrc)
  }

  test("SQL radius filter masks tombstones and re-checks the delta per EXECUTION") {
    val rSrc = "/tmp/graft_test_index/strategy_range_src"
    val rIdx = "/tmp/graft_test_index/strategy_range_idx"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(rIdx))
    // the heap holds a twin of the query vector (id 9000) from the start;
    // the index covers everything EXCEPT the twin, which arrives later as
    // an un-compacted delta
    val e = spark.read.parquet(srcPath).select($"vec_id", $"embedding")
    e.unionByName(e.filter($"vec_id" === 0)
        .select(lit(9000L).as("vec_id"), $"embedding"))
      .write.mode("overwrite").parquet(rSrc)
    DiskannIndex.build(spark.read.parquet(rSrc).filter($"vec_id" < 9000),
      "vec_id", "embedding", None, rIdx, DiskannParams(metric = "cosine"))
    Graft.enable(spark)
    KnnCatalog.register(rSrc, KnnCatalog.Entry(rIdx, rSrc,
      "vec_id", "embedding", None, "cosine"))
    try {
      def planQ = spark.sql(
        s"""SELECT vec_id FROM parquet.`$rSrc`
           |WHERE vec_cosine_dist(embedding, $qvecSql) <= 0.5""".stripMargin)
      val q1 = planQ
      assert(q1.queryExecution.executedPlan.toString.contains("KnnRangeScan"))
      val before = q1.collect().map(_.getLong(0)).toSet
      assert(before.contains(0L), "query row itself (dist 0) must be in radius")
      assert(!before.contains(9000L), "twin not yet in the index")
      // a tombstoned row is masked inside the traversal: it cannot be
      // re-checked above (the heap still physically holds it)
      DiskannIndex.deleteRows(spark, rIdx, Seq(0L))
      val after = planQ.collect().map(_.getLong(0)).toSet
      assert(after == before - 0L, s"tombstoned row served: $after vs $before")
      // plan-vs-first-execution freshness: this DataFrame is PLANNED while
      // no delta exists, but first EXECUTED after a delta lands —
      // doExecute snapshots and merges the delta per execution
      // (rangeSearchFresh), so the twin appears with no re-plan. (A
      // DataFrame already executed once is a snapshot — Spark memoizes the
      // plan's RDD — same as a held native parquet scan.)
      val plannedEarly = planQ
      assert(plannedEarly.queryExecution.executedPlan.toString
        .contains("KnnRangeScan"))
      spark.read.parquet(rSrc).filter($"vec_id" === 9000)
        .select($"vec_id".as("row_id"), $"embedding".as("vec"))
        .write.mode("append").parquet(s"$rIdx/delta")
      val fresh = plannedEarly.collect().map(_.getLong(0)).toSet
      assert(fresh == after + 9000L,
        s"pre-delta plan missed the delta row on first execution: $fresh")
      // a NEWLY planned query KEEPS the index rewrite while a delta pends
      // (round 11: the radius path merges the delta instead of bailing),
      // and the index scan — not the brute fallback — serves it: the
      // brute bail-out leaves numHeapFetches at 0
      val q2 = planQ
      assert(q2.queryExecution.executedPlan.toString.contains("KnnRangeScan"),
        "pending delta must NOT force the native plan anymore")
      val got2 = q2.collect().map(_.getLong(0)).toSet
      assert(got2 == after + 9000L, s"fresh radius scan diverged: $got2")
      val rscan = q2.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case k: graft.plans.KnnRangeScanExec => k }
      assert(rscan.isDefined)
      assert(rscan.get.metrics("numHeapFetches").value > 0,
        "delta-pending radius execution fell back to the brute scan")
      // tombstones keep masking THROUGH the delta merge: delta-append a
      // twin and tombstone it in the same pending window — it must not
      // surface on either side
      spark.read.parquet(rSrc).filter($"vec_id" === 0)
        .select(lit(9001L).as("row_id"), $"embedding".as("vec"))
        .write.mode("append").parquet(s"$rIdx/delta")
      DiskannIndex.deleteRows(spark, rIdx, Seq(9001L))
      val gotTomb = planQ.collect().map(_.getLong(0)).toSet
      assert(gotTomb == after + 9000L,
        s"tombstoned delta row resurrected through the merge: $gotTomb")
    } finally KnnCatalog.unregister(rSrc)
  }

  test("SQL radius filter past the maxResults cap bails to the exact scan") {
    setup
    // cap far below the in-radius population: rangeSearch cannot confirm
    // exhaustiveness, so the scan must fall back to the exact distributed
    // shape instead of silently truncating
    spark.conf.set("graft.knn.range.maxResults", "8")
    try {
      val q = spark.sql(
        s"""SELECT vec_id FROM parquet.`$srcPath`
           |WHERE vec_cosine_dist(embedding, $qvecSql) <= 0.8""".stripMargin)
      assert(q.queryExecution.executedPlan.toString.contains("KnnRangeScan"))
      val got = q.collect().map(_.getLong(0)).toSet
      val brute = spark.read.parquet(srcPath)
        .crossJoin(broadcast(spark.read.parquet(srcPath).filter($"vec_id" === 0)
          .select($"embedding".as("q"))))
        .filter(vec_cosine_dist($"embedding", $"q") <= 0.8)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      assert(got == brute,
        s"capped radius scan truncated: ${got.size} vs ${brute.size} rows")
      assert(brute.size > 8, "fixture must exceed the cap for this test to bite")
    } finally spark.conf.unset("graft.knn.range.maxResults")
  }

  test("KnnIndexScan reports scan telemetry via SQLMetrics (V5)") {
    setup
    val df = spark.sql(
      s"""SELECT vec_id FROM parquet.`$srcPath`
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 10""".stripMargin)
    assert(df.collect().length == 10)
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case k: graft.plans.KnnIndexScanExec => k }
    assert(scan.isDefined)
    val m = scan.get.metrics
    assert(m("numNodesVisited").value > 0, "nodes visited not recorded")
    assert(m("numQuantizedCmps").value > 0, "quantized cmps not recorded")
    assert(m("numExactCmps").value > 0, "exact cmps not recorded")
    assert(m("numHeapFetches").value == 10, s"heap fetches ${m("numHeapFetches").value}")
  }

  test("withExtensions session gets the SQL function surface without register()") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // force init of the shared session/context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      val r = s2.sql(
        "SELECT vec_cosine_dist(CAST(array(1.0,0.0) AS ARRAY<FLOAT>), CAST(array(0.0,1.0) AS ARRAY<FLOAT>)) d, " +
        "simhash64(array('a','b')) h").head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-6 && !r.isNullAt(1))
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("SQL DDL lifecycle: CREATE INDEX / query / DROP INDEX with spark.sql only") {
    import org.apache.spark.sql.SparkSession
    setup
    val src = "/tmp/graft_test_index/sql_ddl_src"
    spark.read.parquet(srcPath).write.mode("overwrite").parquet(src)
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      // build — pure SQL, pgvector-style opclass picks the metric
      val created = s2.sql(
        s"""CREATE INDEX emb_idx ON '$src' USING DISKANN (embedding vector_cosine_ops)
           |WITH (id_col='vec_id', num_neighbors=32, search_list_size=64)""".stripMargin)
        .collect()
      assert(created.length == 1 &&
        created(0).getString(0) == s"$src/_graft_index/emb_idx")
      assert(new java.io.File(s"$src/_graft_index/emb_idx/_meta").exists())
      // the underscore-prefixed index dir is invisible to source scans:
      // schema and row count are exactly the pre-index ones
      assert(s2.read.parquet(src).columns.toSet ==
        spark.read.parquet(srcPath).columns.toSet)
      assert(s2.read.parquet(src).count() == spark.read.parquet(srcPath).count())
      // query — index-planned, SQL only (def: a fresh plan per inspection)
      def q = s2.sql(
        s"""SELECT vec_id FROM parquet.`$src`
           |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("KnnIndexScan"), s"expected index plan:\n$plan")
      assert(q.collect().length == 5)
      // observability, still SQL-only: SHOW lists it, DESCRIBE reports stats
      val shown = s2.sql("SHOW GRAFT INDEXES").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(shown.contains(("emb_idx", src)), shown.mkString(","))
      val desc = s2.sql("DESCRIBE INDEX emb_idx").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc("metric") == "cosine" && desc("num_shards") == "1")
      assert(desc("num_rows").toLong == spark.read.parquet(srcPath).count())
      assert(desc("num_neighbors") == "32" && desc("search_list_size") == "64")
      // drop by name — falls back to native, files removed
      s2.sql("DROP INDEX emb_idx WITH (delete_files=true)")
      assert(!q.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
      assert(q.collect().length == 5) // brute force still answers
      assert(!new java.io.File(s"$src/_graft_index/emb_idx").exists())
      // unknown name errors; normal SQL still parses through the delegate
      intercept[IllegalArgumentException](s2.sql("DROP INDEX emb_idx"))
      assert(s2.sql("SELECT 1 + 1 AS x").head().getInt(0) == 2)
      // option typos fail loudly instead of building with silent defaults
      val typo = intercept[IllegalArgumentException](s2.sql(
        s"""CREATE INDEX t2 ON '$src' USING DISKANN (embedding)
           |WITH (id_col='vec_id', num_neighbours=32)""".stripMargin))
      assert(typo.getMessage.contains("num_neighbours"))
      // after drop: SHOW no longer lists it, DESCRIBE errors
      assert(!s2.sql("SHOW GRAFT INDEXES").collect()
        .exists(_.getString(1) == src))
      intercept[IllegalArgumentException](s2.sql("DESCRIBE INDEX emb_idx"))
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("createIndex/dropIndex lifecycle: one call to index, fallback on drop") {
    setup
    val src = "/tmp/graft_test_index/lifecycle_src"
    spark.read.parquet(srcPath).write.mode("overwrite").parquet(src)
    Graft.createIndex(spark, src, "vec_id", "embedding",
      "/tmp/graft_test_index/lifecycle_idx",
      params = DiskannParams(metric = "cosine"))
    def plan = spark.sql(
      s"""SELECT vec_id FROM parquet.`$src`
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
    assert(plan.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
    assert(plan.collect().length == 5)
    Graft.dropIndex(src, deleteFiles = true)
    assert(!plan.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
    assert(plan.collect().length == 5) // brute force still answers
    assert(!new java.io.File("/tmp/graft_test_index/lifecycle_idx").exists())
  }

  test("cost gate: k at or above n*maxKFraction falls through to the native plan") {
    setup
    val n = spark.read.parquet(srcPath).count()
    def q(k: Int) = spark.sql(
      s"""SELECT vec_id FROM parquet.`$srcPath`
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT $k""".stripMargin)
    val bigK = math.max(1, (n * 0.1).toInt) // == default-gate threshold
    // k >= n*0.1: native TakeOrdered is strictly better — no index scan
    val native = q(bigK)
    assert(!native.queryExecution.executedPlan.toString.contains("KnnIndexScan"),
      s"k=$bigK over n=$n rows must NOT rewrite (amcostestimate analog)")
    assert(native.collect().length == bigK) // native plan answers correctly
    // small k: index-planned as before
    assert(q(10).queryExecution.executedPlan.toString.contains("KnnIndexScan"))
    // the gate is configurable: raising the fraction re-admits the rewrite
    spark.conf.set("graft.knn.maxKFraction", "1.0")
    try assert(q(bigK).queryExecution.executedPlan.toString.contains("KnnIndexScan"))
    finally spark.conf.unset("graft.knn.maxKFraction")
  }

  test("SQL scan sees delta appends and masks registry tombstones pre-compact") {
    // the heap: embeddings + one synthetic exact duplicate of the query
    // vector (vec_id 9000) that reaches the index ONLY through the delta
    val freshSrc = "/tmp/graft_test_index/strategy_fresh_src"
    val freshIdx = "/tmp/graft_test_index/strategy_fresh_idx"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(freshIdx))
    val e = spark.read.parquet(srcPath)
    e.select($"vec_id", $"embedding")
      .unionByName(e.filter($"vec_id" === 0)
        .select(lit(9000L).as("vec_id"), $"embedding"))
      .write.mode("overwrite").parquet(freshSrc)
    // main graph covers vec_id < 450 only; the rest is un-compacted delta
    DiskannIndex.build(spark.read.parquet(freshSrc).filter($"vec_id" < 450),
      "vec_id", "embedding", None, freshIdx, DiskannParams(metric = "cosine"))
    spark.read.parquet(freshSrc).filter($"vec_id" >= 450)
      .select($"vec_id".as("row_id"), $"embedding".as("vec"))
      .write.mode("append").parquet(s"$freshIdx/delta")
    Graft.enable(spark)
    KnnCatalog.register(freshSrc, KnnCatalog.Entry(freshIdx, freshSrc,
      "vec_id", "embedding", None, "cosine"))
    try {
      def top(k: Int): Seq[Long] = {
        val df = spark.sql(
          s"""SELECT vec_id FROM parquet.`$freshSrc`
             |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT $k""".stripMargin)
        assert(df.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
        df.collect().map(_.getLong(0)).toSeq
      }
      // delta visibility: the twin sits at distance 0 like the query row
      // itself — pure SQL must return both, with NO compact having run
      assert(top(2).toSet == Set(0L, 9000L), s"delta row invisible: ${top(2)}")
      // register a delete of the original; the SQL answer changes
      // immediately (scan.rs:229-235 visibility), still no compact
      DiskannIndex.deleteRows(spark, freshIdx, Seq(0L))
      val after = top(2)
      assert(after.contains(9000L) && !after.contains(0L),
        s"tombstoned row served (or delta row lost): $after")
      // the residual-recheck path honors the same visibility
      val resid = spark.sql(
        s"""SELECT vec_id FROM parquet.`$freshSrc` WHERE vec_id % 2 = 0
           |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
      assert(resid.queryExecution.executedPlan.toString.contains("recheck"))
      val rGot = resid.collect().map(_.getLong(0)).toSeq
      val rBrute = spark.read.parquet(freshSrc)
        .filter($"vec_id" % 2 === 0 && $"vec_id" =!= 0L)
        .crossJoin(broadcast(e.filter($"vec_id" === 0)
          .select($"embedding".as("q"))))
        .select($"vec_id", vec_cosine_dist($"embedding", $"q").as("d"))
        .orderBy($"d", $"vec_id").limit(5).collect().map(_.getLong(0)).toSeq
      assert(rGot == rBrute, s"got=$rGot brute=$rBrute")
      assert(rGot.contains(9000L), "delta row must flow through the recheck path")
      // compaction folds both: delta and tombstone dirs are consumed and
      // the same answers now come from the main graph alone
      graft.streaming.StreamingIngest.compact(spark, freshIdx)
      assert(dirEmpty(s"$freshIdx/delta") && dirEmpty(s"$freshIdx/tombstones"))
      val folded = top(2)
      assert(folded.contains(9000L) && !folded.contains(0L), s"$folded")
    } finally KnnCatalog.unregister(freshSrc)
  }

  test("a source registered as a path with `//` and a trailing `/` still index-plans and masks deletes") {
    val src = "/tmp/graft_test_index/strategy_slash_src"
    val idx = "/tmp/graft_test_index/strategy_slash_idx"
    graft.tools.LocalFs.deleteRec(new java.io.File(idx))
    spark.read.parquet(srcPath).select($"vec_id", $"embedding")
      .write.mode("overwrite").parquet(src)
    DiskannIndex.build(spark.read.parquet(src), "vec_id", "embedding", None,
      idx, DiskannParams(metric = "cosine"))
    Graft.enable(spark)
    val registered = "/tmp/graft_test_index//strategy_slash_src/"
    KnnCatalog.register(registered, KnnCatalog.Entry(idx, registered,
      "vec_id", "embedding", None, "cosine"))
    try {
      DiskannIndex.deleteRows(spark, idx, Seq(0L))
      val df = spark.sql(
        s"""SELECT vec_id FROM parquet.`$src`
           |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 3""".stripMargin)
      assert(df.queryExecution.executedPlan.collectFirst {
        case s: graft.plans.KnnIndexScanExec => s }.isDefined,
        df.queryExecution.executedPlan.toString)
      val got = df.collect().map(_.getLong(0)).toSeq
      assert(got.length == 3 && !got.contains(0L), s"tombstoned row served: $got")
    } finally KnnCatalog.unregister(registered)
  }

  test("computed SELECT projection (round of the distance) still index-plans") {
    setup
    // the exact shape Verify's SQL queries use: the analyzer puts a COMPUTED
    // Project (round(...) AS dist + the embedding passthrough) BELOW the
    // Sort — the planner must peel it and re-apply it above the scan
    val df = spark.sql(
      s"""SELECT vec_id, round(vec_cosine_dist(embedding, $qvecSql), 6) AS dist
         |FROM parquet.`$srcPath`
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 10""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("KnnIndexScan"), s"expected index plan:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = spark.read.parquet(srcPath)
      .crossJoin(broadcast(spark.read.parquet(srcPath).filter($"vec_id" === 0)
        .select($"embedding".as("q"))))
      .select($"vec_id", vec_cosine_dist($"embedding", $"q").as("raw"))
      .orderBy($"raw", $"vec_id").limit(10)
      .select($"vec_id", round($"raw", 6).as("dist"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == brute, s"got=$got brute=$brute")
    // same with a residual WHERE: computed projection + recheck compose
    val resid = spark.sql(
      s"""SELECT vec_id, round(vec_cosine_dist(embedding, $qvecSql), 6) AS dist
         |FROM parquet.`$srcPath` WHERE vec_id > 100
         |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
    val rPlan = resid.queryExecution.executedPlan.toString
    assert(rPlan.contains("KnnIndexScan") && rPlan.contains("recheck"),
      s"plan:\n$rPlan")
    val rGot = resid.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rBrute = spark.read.parquet(srcPath).filter($"vec_id" > 100)
      .crossJoin(broadcast(spark.read.parquet(srcPath).filter($"vec_id" === 0)
        .select($"embedding".as("q"))))
      .select($"vec_id", vec_cosine_dist($"embedding", $"q").as("raw"))
      .orderBy($"raw", $"vec_id").limit(5)
      .select($"vec_id", round($"raw", 6).as("dist"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rGot == rBrute, s"got=$rGot brute=$rBrute")
  }

  test("pgvector operators <=> <-> <#> run verbatim through the extensions parser") {
    import org.apache.spark.sql.SparkSession
    setup
    // unit level: operand recognition
    assert(graft.plans.GraftSqlParser.rewriteVectorOps("a <-> b") ==
      "vec_l2(a, b)")
    assert(graft.plans.GraftSqlParser.rewriteVectorOps(
      "SELECT t.embedding <=> CAST(array(1, 2) AS ARRAY<FLOAT>) AS d FROM t") ==
      "SELECT vec_cosine_dist(t.embedding, CAST(array(1, 2) AS ARRAY<FLOAT>)) AS d FROM t")
    assert(graft.plans.GraftSqlParser.rewriteVectorOps(
      "SELECT '<->' AS s, a <#> b FROM t") ==
      "SELECT '<->' AS s, vec_neg_dot(a, b) FROM t")
    // pgvector ≥0.7 operators: L1 and the bit-vector pair
    assert(graft.plans.GraftSqlParser.rewriteVectorOps("a <+> b") ==
      "vec_l1(a, b)")
    assert(graft.plans.GraftSqlParser.rewriteVectorOps("a <~> b") ==
      "hamming_dist(a, b)")
    assert(graft.plans.GraftSqlParser.rewriteVectorOps(
      "binary_quantize(a) <%> binary_quantize(b)") ==
      "jaccard_dist(binary_quantize(a), binary_quantize(b))")
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      // the reference's README query text, verbatim operator: index-planned
      val q = s2.sql(
        s"""SELECT vec_id FROM parquet.`$srcPath`
           |ORDER BY embedding <=> $qvecSql LIMIT 5""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("KnnIndexScan"), s"expected index plan:\n$plan")
      val viaFn = s2.sql(
        s"""SELECT vec_id FROM parquet.`$srcPath`
           |ORDER BY vec_cosine_dist(embedding, $qvecSql) LIMIT 5""".stripMargin)
        .collect().map(_.getLong(0)).toSeq
      assert(q.collect().map(_.getLong(0)).toSeq == viaFn)
      // <-> and <#> compute the right distances
      val d = s2.sql(
        "SELECT CAST(array(1.0, 2.0) AS ARRAY<FLOAT>) <-> CAST(array(1.0, 0.0) AS ARRAY<FLOAT>) AS l2, " +
        "CAST(array(1.0, 0.0) AS ARRAY<FLOAT>) <#> CAST(array(2.0, 0.0) AS ARRAY<FLOAT>) AS nd").head()
      assert(math.abs(d.getDouble(0) - 2.0) < 1e-6 && math.abs(d.getDouble(1) + 2.0) < 1e-6)
      // off switch restores Spark's null-safe equality semantics for <=>
      s2.conf.set("spark.graft.sql.vectorOps", "false")
      try assert(s2.sql("SELECT 1 <=> 1 AS eq").head().getBoolean(0))
      finally s2.conf.unset("spark.graft.sql.vectorOps")
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("DataFrame API ORDER BY dist LIMIT also plans through the index") {
    setup
    val e = spark.read.parquet(srcPath)
    val q = e.filter($"vec_id" === 0)
      .head().getAs[scala.collection.mutable.ArraySeq[Float]]("embedding").toArray
    val df = e.orderBy(vec_cosine_dist($"embedding", typedlit(q))).limit(7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("KnnIndexScan"), s"plan was:\n$plan")
    assert(df.collect().length == 7)
  }

  test("SQL maintenance lifecycle: DELETE FROM INDEX / VACUUM / REINDEX") {
    import org.apache.spark.sql.SparkSession
    setup
    val src = "/tmp/graft_test_index/sql_maint_src"
    spark.read.parquet(srcPath).filter($"vec_id" < 400)
      .write.mode("overwrite").parquet(src)
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      s2.sql(
        s"""CREATE INDEX m_idx ON '$src' USING DISKANN (embedding vector_cosine_ops)
           |WITH (id_col='vec_id')""".stripMargin).collect()
      val ip = s"$src/_graft_index/m_idx"
      s2.conf.set("graft.knn.searchListSize", "200")
      s2.conf.set("graft.knn.rescore", "150")
      // a live insert: the row lands in the heap table AND the index delta
      // (the reference's INSERT inserts the heap row, then aminsert)
      spark.read.parquet(srcPath).filter($"vec_id" === 450)
        .write.mode("append").parquet(src)
      graft.streaming.StreamingIngest.appendBatchToDelta(ip)(
        spark.read.parquet(srcPath)
          .filter($"vec_id" === 450).selectExpr("vec_id AS row_id",
            "embedding AS vec"), 0L)
      // ...and a SQL DELETE durably tombstones two indexed rows
      val del = s2.sql("DELETE FROM INDEX m_idx WHERE ROW_ID IN (0, 1)").collect()
      assert(del.length == 1 && del(0).getString(0) == "2")
      val q450 = spark.read.parquet(srcPath).filter($"vec_id" === 450)
        .head().getAs[scala.collection.mutable.ArraySeq[Float]]("embedding")
      val qsql = s"CAST(array(${q450.mkString(", ")}) AS ARRAY<FLOAT>)"
      def top10: Seq[Long] = s2.sql(
        s"""SELECT vec_id FROM parquet.`$src`
           |ORDER BY vec_cosine_dist(embedding, $qsql) LIMIT 10""".stripMargin)
        .collect().map(_.getLong(0)).toSeq
      // pre-vacuum: the scan already sees the delta row and masks deletes
      val pre = top10
      assert(pre.head == 450L, s"delta row must top its own query: $pre")
      assert(!pre.contains(0L) && !pre.contains(1L), s"tombstones leaked: $pre")
      // VACUUM folds both into a new generation and consumes the registries
      val vac = s2.sql("VACUUM INDEX m_idx").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(vac("vacuumed") == "true", vac.toString)
      assert(vac("delta_files_folded").toInt >= 1)
      assert(vac("tombstones_folded") == "2")
      assert(vac("generation_before") != vac("generation_after"))
      assert(dirEmpty(s"$ip/delta") && dirEmpty(s"$ip/tombstones"))
      // identical answers from the compacted generation
      val post = top10
      assert(post == pre, s"vacuum changed results: $pre -> $post")
      val desc = s2.sql("DESCRIBE INDEX m_idx").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      // 400 built - 2 deleted + 1 inserted
      assert(desc("num_rows") == "399", desc("num_rows"))
      // idempotent: nothing pending, no new generation
      val vac2 = s2.sql("VACUUM INDEX m_idx").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(vac2("vacuumed") == "false")
      assert(vac2("generation_before") == vac2("generation_after"))
      // REINDEX forces a rebuild even when quiescent — under new params
      val ri = s2.sql("REINDEX INDEX m_idx WITH (num_neighbors=24)").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(ri("generation_before") != ri("generation_after"))
      val desc2 = s2.sql("DESCRIBE INDEX m_idx").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc2("num_neighbors") == "24" && desc2("num_rows") == "399")
      // still index-planned and still the same top-k after the rebuild
      val q2 = s2.sql(
        s"""SELECT vec_id FROM parquet.`$src`
           |ORDER BY vec_cosine_dist(embedding, $qsql) LIMIT 10""".stripMargin)
      assert(q2.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
      assert(q2.collect().map(_.getLong(0)).toSeq == pre)
      // SHOW INDEX HISTORY: the REINDEX left its predecessor as the grace
      // window; exactly one generation is current and it holds 399 rows
      val hist = s2.sql("SHOW INDEX HISTORY m_idx").collect()
      assert(hist.length >= 2, s"expected grace-window history, got:\n" +
        hist.mkString("\n"))
      val curRows = hist.filter(_.getString(2) == "true")
      assert(curRows.length == 1)
      assert(curRows(0).getString(3) == "399")
      assert(curRows(0).getString(1) == ri("generation_after"))
      // ...and the superseded generation is still a queryable snapshot
      // (time travel): searching it directly answers from the OLD graph
      val prevRoot = hist.filter(_.getString(2) == "false").last.getString(1)
      assert(graft.index.DiskannIndex
        .stats(s2, prevRoot).numRows == 399L)
      // typos and unknown targets fail loudly
      val typo = intercept[IllegalArgumentException](
        s2.sql("REINDEX m_idx WITH (numneighbors=2)"))
      assert(typo.getMessage.contains("numneighbors"))
      intercept[IllegalArgumentException](s2.sql("VACUUM INDEX nope"))
      intercept[IllegalArgumentException](
        s2.sql("DELETE FROM INDEX nope WHERE ROW_ID IN (1)"))
      // plain-SQL VACUUM/DELETE still reach the delegate parser untouched
      assert(s2.sql("SELECT 2 + 2 AS x").head().getInt(0) == 4)
      s2.sql("DROP INDEX m_idx WITH (delete_files=true)")
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("bare unregistered ANN path: DELETE / VACUUM / DESCRIBE all route (SQL symmetry)") {
    import org.apache.spark.sql.SparkSession
    setup
    // an index artifact with NO catalog registration — the path IS the
    // artifact, and all three lifecycle verbs must agree on that (DELETE
    // minting tombstones SQL then can't VACUUM would be asymmetric)
    val bare = "/tmp/graft_test_index/bare_ann"
    DiskannIndex.build(spark.read.parquet(srcPath), "vec_id", "embedding",
      None, bare, DiskannParams(metric = "cosine"))
    val prev = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      val desc = s2.sql(s"DESCRIBE INDEX ON '$bare'").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc("num_rows") == "500" && desc("metric") == "cosine", desc)
      assert(desc("pending_tombstones") == "0")
      s2.sql(s"DELETE FROM INDEX ON '$bare' WHERE ROW_ID IN (3, 4)").collect()
      val desc2 = s2.sql(s"DESCRIBE INDEX ON '$bare'").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc2("pending_tombstones") == "2", desc2)
      val vac = s2.sql(s"VACUUM INDEX ON '$bare'").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(vac("vacuumed") == "true" && vac("tombstones_folded") == "2", vac)
      val desc3 = s2.sql(s"DESCRIBE INDEX ON '$bare'").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc3("num_rows") == "498" && desc3("pending_tombstones") == "0",
        desc3)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }
}

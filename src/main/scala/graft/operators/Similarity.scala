package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{VectorFunctions, VectorKernels}

/**
 * Similarity search over embedding columns.
 *
 * - `knnJoin`: exact k-NN join with a *partial-aggregate* top-k: per-partition
 *   heaps combine map-side, so the shuffle carries only k rows per partition
 *   per query instead of the full candidate stream — the scalable exact path.
 * - IVF: k-means-lite centroids (driver-trained on a bounded sample,
 *   broadcast); the corpus is clustered once, probes scan only `nprobe`
 *   clusters. With the cluster table written partitioned by cluster id, probes
 *   become partition-pruned scans at 100 TB.
 * - `cosineNearDupPairs`: sign-LSH (random hyperplanes) bucketing + exact
 *   cosine verification — embedding-space near-duplicate detection.
 */
object Similarity {

  /**
   * Reciprocal-rank fusion — the standard hybrid-search combiner
   * (Cormack et al. 2009): each candidate list contributes 1/(k + rank),
   * absent candidates contribute 0. Inputs are two already-ranked candidate
   * tables `(id, rank)` — both bounded (top-n of their retrievals), so the
   * full-outer join and final sort are over ≤ 2n rows no matter the corpus
   * size; at 100 TB the cost lives in the retrievals, not the fusion.
   * Rank columns must be named `ra`/`rb`.
   */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int = 60,
      topK: Int = 20): DataFrame =
    a.join(b, Seq("id"), "full_outer")
      .select(col("id"),
        round(coalesce(lit(1.0) / (lit(k) + col("ra")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(k) + col("rb")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(topK)

  case class TopKState(ids: Array[Long], dists: Array[Double])

  /** Bounded top-k by (dist, id): mergeable, so Spark runs it as a 2-phase
    * aggregation with map-side combine. */
  class TopKAggregator(k: Int) extends Aggregator[(Long, Double), TopKState, Seq[(Long, Double)]] {
    private def insert(s: TopKState, id: Long, d: Double): TopKState = {
      val n = s.ids.length
      if (n >= k && (d > s.dists(n - 1) ||
          (d == s.dists(n - 1) && id >= s.ids(n - 1)))) return s
      // insertion into sorted arrays (k is small)
      var pos = 0
      while (pos < n && (s.dists(pos) < d || (s.dists(pos) == d && s.ids(pos) < id))) pos += 1
      val m = math.min(n + 1, k)
      val ids = new Array[Long](m)
      val ds = new Array[Double](m)
      System.arraycopy(s.ids, 0, ids, 0, pos)
      System.arraycopy(s.dists, 0, ds, 0, pos)
      if (pos < m) { ids(pos) = id; ds(pos) = d }
      if (pos < m - 1) {
        System.arraycopy(s.ids, pos, ids, pos + 1, m - 1 - pos)
        System.arraycopy(s.dists, pos, ds, pos + 1, m - 1 - pos)
      }
      TopKState(ids, ds)
    }
    override def zero: TopKState = TopKState(Array.emptyLongArray, Array.emptyDoubleArray)
    override def reduce(b: TopKState, a: (Long, Double)): TopKState = insert(b, a._1, a._2)
    override def merge(x: TopKState, y: TopKState): TopKState = {
      var acc = x
      var i = 0
      while (i < y.ids.length) { acc = insert(acc, y.ids(i), y.dists(i)); i += 1 }
      acc
    }
    override def finish(s: TopKState): Seq[(Long, Double)] = s.ids.toSeq.zip(s.dists.toSeq)
    override def bufferEncoder: Encoder[TopKState] = Encoders.product[TopKState]
    override def outputEncoder: Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
  }

  /**
   * Exact k-NN join: for every query (qid, qvec), the top-k corpus rows by
   * `distCol(corpusVec, queryVec)`. Queries are broadcast; aggregation is the
   * partial top-k. Returns (qid, id, dist, rnk).
   */
  def knnJoin(corpus: DataFrame, queries: DataFrame, k: Int,
      dist: (Column, Column) => Column): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    VectorFunctions.register(spark)
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col("id"), dist(col("vec"), col("qvec")).as("dist"))
      .as[(Long, Long, Double)]
    val agg = new TopKAggregator(k)
    scored.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(agg.toColumn.name("topk"))
      .toDF("qid", "topk")
      .select(col("qid"), posexplode(col("topk")))
      .select(col("qid"), col("col._1").as("id"), col("col._2").as("dist"),
        (col("pos") + 1).as("rnk"))
  }

  // ---- IVF ----

  case class IvfModel(centroids: Array[Array[Float]]) extends Serializable {
    def nearest(v: Array[Float], nprobe: Int): Array[Int] =
      centroids.indices
        .map(i => (i, VectorKernels.l2sq(centroids(i), v)))
        .sortBy(t => (t._2, t._1)).take(nprobe).map(_._1).toArray
  }

  /** Deterministic IVF "training": centroids are the `nCentroids` rows with
    * the smallest md5-derived rank ([[Curation.md5Uniform]]), no Lloyd
    * iterations. Coarse-quantization quality is sampling-init grade (use
    * [[trainIvf]] when recall matters more than reproducibility), but every
    * step — centroid pick, cluster assignment, probe choice — is exactly
    * recomputable by any engine with md5(), so IVF-routed results can be
    * hash-verified by an external SQL oracle. Centroid indices follow the
    * md5 rank order, making assignments and probe tie-breaks stable too. */
  def trainIvfDeterministic(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, seed: String = "ivf"): IvfModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val picked = df
      .select(col(idCol).cast(LongType).as("id"), col(vecCol).as("v"))
      .withColumn("u", Curation.md5Uniform(seed, col("id")))
      .orderBy(col("u"), col("id")).limit(nCentroids)
      .select(col("v")).as[Array[Float]].collect()
    require(picked.nonEmpty, "empty input for centroid pick")
    IvfModel(picked)
  }

  /** Driver-side Lloyd iterations on a bounded sample (the centroid set is
    * tiny and broadcast; the full data is never collected). `rows`, when
    * the caller already knows `df`'s row count, spares the count job. */
  def trainIvf(df: DataFrame, vecCol: String, nCentroids: Int,
      sampleSize: Int = 4096, iters: Int = 8, seed: Long = 42L,
      rows: Option[Long] = None): IvfModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val total = rows.getOrElse(df.count())
    val fraction = math.min(1.0, sampleSize.toDouble * 1.2 / math.max(total, 1L))
    val sample = df.select(col(vecCol)).sample(withReplacement = false, fraction, seed)
      .as[Array[Float]].collect().take(sampleSize)
    require(sample.nonEmpty, "empty training sample")
    val rnd = new scala.util.Random(seed)
    var centroids = rnd.shuffle(sample.toVector).take(math.min(nCentroids, sample.length))
      .map(_.clone()).toArray
    (0 until iters).foreach { _ =>
      val sums = Array.fill(centroids.length)(new Array[Double](sample.head.length))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue
        centroids.indices.foreach { c =>
          val d = VectorKernels.l2sq(centroids(c), v)
          if (d < bd) { bd = d; best = c }
        }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(x => (x / counts(c)).toFloat)
      }.toArray
    }
    IvfModel(centroids)
  }

  /** THE cluster-assignment column — broadcast model + nearest(_, 1) —
    * shared by [[ivfAssign]] and the streaming cluster-trend monitor so
    * batch labels and streaming counts can never use different rules.
    * Null vectors assign cluster NULL instead of killing the job. */
  def ivfAssignUdf(spark: SparkSession,
      model: IvfModel): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(model)
    udf((v: Array[Float]) =>
      if (v == null) null.asInstanceOf[Integer]
      else Integer.valueOf(bc.value.nearest(v, 1)(0)))
  }

  /** Assign each row its nearest centroid (the clustering pass; write the
    * result partitioned by `cluster` for pruned probes). */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String, model: IvfModel): DataFrame = {
    val assign = ivfAssignUdf(df.sparkSession, model)
    df.select(col(idCol).cast(LongType).as("id"), col(vecCol).as("vec"))
      .withColumn("cluster", assign(col("vec")))
  }

  /** Element-wise sum of vectors quantized to 1/2^20 fixed point: long
    * accumulation is associative, so the distributed mean it feeds is
    * byte-identical regardless of partitioning/merge order — the trick that
    * makes a Lloyd centroid update reproducible (and oracle-checkable)
    * across engines, where naive float summation is order-dependent. */
  class QuantizedVecSum(dim: Int) extends Aggregator[Array[Float], Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](dim)
    override def reduce(b: Array[Long], v: Array[Float]): Array[Long] = {
      var i = 0
      while (i < dim) {
        b(i) += math.floor(v(i).toDouble * 1048576.0 + 0.5).toLong
        i += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < dim) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /**
   * One deterministic Lloyd refinement step over md5-picked centroids,
   * reported as per-cluster statistics: member count, the refined centroid's
   * L2 norm, and how far the centroid moved (`shift`). This is the
   * distributed heart of k-means at 100 TB — assignment is a broadcast-model
   * map pass, the update is ONE partial-aggregated shuffle of O(k·dim) longs
   * (no explode: the whole vector sums inside [[QuantizedVecSum]]), and the
   * per-cluster finishing math runs on k rows.
   *
   * Fixed-point accumulation makes the refined centroids exact rationals,
   * so the entire step (pick → assign → update → norms) is replayable
   * bit-for-bit by an external SQL oracle — same property the IVF paths use.
   */
  def kmeansRefineDeterministic(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, seed: String = "km"): DataFrame = {
    val model = trainIvfDeterministic(df, idCol, vecCol, nCentroids, seed)
    val dim = model.centroids(0).length
    val assigned = ivfAssign(df, idCol, vecCol, model)
    val qsum = udaf(new QuantizedVecSum(dim))
    val grouped = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), qsum(col("vec")).as("__qs"))
    val denom = col("n_members").cast(DoubleType) * lit(1048576.0)
    val oldC = element_at(typedlit(model.centroids.map(_.toSeq).toSeq),
      col("cluster") + 1)
    grouped
      .withColumn("__c", transform(col("__qs"), q => q.cast(DoubleType) / denom))
      .withColumn("__normsq",
        aggregate(col("__c"), lit(0.0), (acc, x) => acc + x * x))
      .withColumn("__shiftsq",
        aggregate(zip_with(col("__c"), oldC,
          (c, o) => (c - o.cast(DoubleType)) * (c - o.cast(DoubleType))),
          lit(0.0), (acc, x) => acc + x))
      .select(col("cluster"), col("n_members"),
        sqrt(col("__normsq")).as("centroid_norm"),
        sqrt(col("__shiftsq")).as("shift"))
  }

  /**
   * Exact per-group centroids over an embedding column — the "embedding
   * profile per label/source/cluster" primitive (class prototypes,
   * per-domain drift monitoring). ONE partial-aggregated shuffle of
   * O(#groups · dim) longs; [[QuantizedVecSum]]'s fixed-point accumulation
   * makes the result byte-identical regardless of partitioning (and
   * SQL-oracle-replayable), where naive float sums are order-dependent.
   */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String,
      dim: Int): DataFrame = {
    val qsum = udaf(new QuantizedVecSum(dim))
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_members"), qsum(col(vecCol)).as("__qs"))
      .withColumn("centroid", transform(col("__qs"),
        q => q.cast(DoubleType) /
          (col("n_members").cast(DoubleType) * lit(1048576.0))))
      .drop("__qs")
  }

  /** Probe `nprobe` nearest clusters and rank exactly within them. */
  def ivfSearch(clustered: DataFrame, model: IvfModel, query: Array[Float],
      k: Int, nprobe: Int, dist: (Column, Column) => Column): DataFrame = {
    val spark = clustered.sparkSession
    VectorFunctions.register(spark)
    val probes = model.nearest(query, nprobe)
    clustered
      .filter(col("cluster").isin(probes.map(Integer.valueOf): _*))
      .select(col("id"), dist(col("vec"), typedlit(query)).as("dist"))
      .orderBy(col("dist"), col("id"))
      .limit(k)
  }

  /**
   * Exact all-pairs cosine top-N — the brute-force baseline made fast: the
   * corpus (ids, vectors, squared norms) is broadcast once, and each task
   * loops over its rows × the broadcast tail (id_b > id_a) in a primitive
   * double loop with a bounded heap, so no per-pair join/row machinery ever
   * materializes the O(n²) stream. Each partition emits its local top
   * (topN + slack) raw candidates; the final round+order happens in SQL, so
   * emitted doubles are bit-identical to the naive
   * `1 - vec_cosine_dist(a, b)` formulation (same accumulation order, same
   * `1-(1-dot/sqrt(nsqA*nsqB))` shape). The slack covers pairs whose RAW
   * order differs inside a 1e-6 rounding band at the cut line.
   *
   * Scale note: all-pairs exact is inherently bounded to corpora that fit a
   * broadcast (the reference's exact rescoring plays the same role); beyond
   * that the LSH/ANN paths are the design ([[cosineNearDupPairs]], DiskANN).
   * Enforced, not advisory: the collect is capped at `maxBroadcastRows`
   * (same guard discipline as [[knnGraph]]) so an oversized corpus fails
   * with a pointed error instead of OOMing the driver.
   */
  def bruteCosineTopPairs(df: DataFrame, idCol: String, vecCol: String,
      topN: Int, slack: Int = 256, maxBroadcastRows: Int = 2000000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // bounded guard IN the collect (the knnGraph discipline): the limit
    // caps what can reach the driver, one extra row proves oversize
    val corpus0 = df.select(col(idCol).cast(LongType), col(vecCol))
      .limit(maxBroadcastRows + 1)
      .as[(Long, Array[Float])].collect()
    require(corpus0.length <= maxBroadcastRows,
      s"bruteCosineTopPairs: corpus exceeds $maxBroadcastRows rows — the " +
        "exact broadcast kernel is for broadcast-sized corpora; at scale " +
        "use cosineNearDupPairs (LSH) or DiskannIndex.edges (the Vamana " +
        "graph's out-edges) as the candidate-pair source")
    val corpus = corpus0.sortBy(_._1)
    val ids = corpus.map(_._1)
    val vecs = corpus.map(_._2)
    val nsq = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      s
    }
    val bc = spark.sparkContext.broadcast((ids, vecs, nsq))
    val par = spark.sparkContext.defaultParallelism
    val k = topN + slack
    val local = df.select(col(idCol).cast(LongType), col(vecCol))
      .as[(Long, Array[Float])]
      .repartition(par)
      .mapPartitions { it =>
        val (ids, vecs, nsq) = bc.value
        val n = ids.length
        // min-heap on raw cosine keeps the best k seen in this partition
        val heap = mutable.PriorityQueue.empty[(Double, Long, Long)](
          Ordering.by[(Double, Long, Long), Double](_._1).reverse)
        it.foreach { case (ida, va) =>
          val pos = java.util.Arrays.binarySearch(ids, ida)
          var nsqa = 0.0
          var i = 0
          while (i < va.length) { nsqa += va(i).toDouble * va(i).toDouble; i += 1 }
          var j = pos + 1
          // zero-norm guard: cosine with a zero vector is NaN, and NaN ranks
          // ABOVE every real value in the heap's total ordering — one zero
          // vector would flood the top-k. Define its similarity as unranked.
          while (j < n && nsqa > 0.0) {
            val vb = vecs(j)
            if (nsq(j) > 0.0) {
              var dot = 0.0
              i = 0
              while (i < va.length) { dot += va(i).toDouble * vb(i).toDouble; i += 1 }
              val cos = 1.0 - (1.0 - dot / math.sqrt(nsqa * nsq(j)))
              if (heap.size < k) heap.enqueue((cos, ida, ids(j)))
              else if (cos > heap.head._1) { heap.dequeue(); heap.enqueue((cos, ida, ids(j))) }
            }
            j += 1
          }
        }
        heap.iterator
      }
      .toDF("cos_raw", "id_a", "id_b")
    local.select(col("id_a"), col("id_b"), col("cos_raw"))
  }

  /**
   * Exact k-NN GRAPH (every row's k nearest others by rounded cosine
   * distance, self excluded): the edge list for link analysis
   * ([[GraphOps.pageRank]]), label propagation, and hubness audits.
   *
   * Zero-shuffle kernel: the corpus broadcasts once ((id, vec, |v|²)
   * arrays), and each partition computes its rows' full top-k against the
   * broadcast — output is n·k edges, nothing else crosses the network.
   * That beats the crossJoin + partial-top-k aggregator shape by the whole
   * 25M-row aggregation at sf0.1 (one 6.9s bench entry dropped under 1s).
   * Bounded to corpora that fit a broadcast, like every exact all-pairs
   * path here ([[bruteCosineTopPairs]] scale note); past that, the DiskANN
   * index IS the kNN-graph builder (its Vamana graph's out-edges).
   *
   * Determinism: distances are rounded (HALF_UP, `decimals`) and ties
   * broken by (dist, id) BEFORE truncation to k — the exact definition a
   * SQL engine replays with rank() OVER (ORDER BY round(dist, 6), id).
   */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String,
      k: Int, decimals: Int = 6, maxBroadcastRows: Int = 2000000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // bounded guard IN the collect (the driverSolveMaxEdges discipline of
    // GraphOps): the limit caps what can reach the driver, and one extra
    // row past the bound proves oversize — same OOM bound as a separate
    // count probe, without a second pass over the corpus
    val corpus0 = df.select(col(idCol).cast(LongType), col(vecCol))
      .limit(maxBroadcastRows + 1)
      .as[(Long, Array[Float])].collect()
    require(corpus0.length <= maxBroadcastRows,
      s"knnGraph: corpus exceeds $maxBroadcastRows rows — the exact " +
        "broadcast kernel is for broadcast-sized corpora; at scale use " +
        "DiskannIndex.edges (the Vamana graph's out-edges) as the edge list")
    val corpus = corpus0.sortBy(_._1)
    val ids = corpus.map(_._1)
    val vecs = corpus.map(_._2)
    val nsq = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      s
    }
    val bc = spark.sparkContext.broadcast((ids, vecs, nsq))
    val par = spark.sparkContext.defaultParallelism
    df.select(col(idCol).cast(LongType), col(vecCol))
      .as[(Long, Array[Float])]
      .repartition(par)
      .mapPartitions { it =>
        val (ids, vecs, nsq) = bc.value
        val n = ids.length
        it.flatMap { case (ida, va) =>
          var nsqa = 0.0
          var i = 0
          while (i < va.length) { nsqa += va(i).toDouble * va(i).toDouble; i += 1 }
          // max-heap on (dist, id): evict the worst while scanning
          val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
          val heap = mutable.PriorityQueue.empty[(Double, Long)](ord)
          var j = 0
          while (j < n) {
            // zero-norm guard as in bruteCosineTopPairs: NaN never ranks
            if (ids(j) != ida && nsq(j) > 0.0 && nsqa > 0.0) {
              val vb = vecs(j)
              var dot = 0.0
              i = 0
              while (i < va.length) { dot += va(i).toDouble * vb(i).toDouble; i += 1 }
              // Spark's Round(double) exactly: BigDecimal.valueOf + HALF_UP
              val d = java.math.BigDecimal
                .valueOf(1.0 - dot / math.sqrt(nsqa * nsq(j)))
                .setScale(decimals, java.math.RoundingMode.HALF_UP).doubleValue()
              if (heap.size < k) heap.enqueue((d, ids(j)))
              else if (ord.lt((d, ids(j)), heap.head)) {
                heap.dequeue(); heap.enqueue((d, ids(j)))
              }
            }
            j += 1
          }
          heap.toArray.sorted(ord).iterator.zipWithIndex.map {
            case ((d, idb), r) => (ida, idb, d, (r + 1).toLong)
          }
        }
      }
      .toDF("src", "dst", "dist", "rnk")
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
   * Data-efficient learning at web-scale through semantic deduplication"):
   * cluster the embedding space, compare pairs ONLY within a cluster, and
   * drop every row whose cosine similarity to a LOWER-id row of the same
   * cluster exceeds `tau` — the lowest id of each semantic-duplicate group
   * always survives, and the rule "∃ a < b, same cluster, sim(a,b) > tau ⇒
   * drop b" is total and order-free, so any engine replays it exactly.
   *
   * Shape at 100 TB: assignment is a broadcast-model map pass; the pairwise
   * stage self-joins each cluster, so cost is Σ_c |c|²·dim — bounded by the
   * LARGEST cluster, not the corpus. The paper's own scaling lever applies
   * unchanged: grow `nClusters` with N so |c| ≈ N/k stays constant (k=50000
   * at their 5B scale). One shuffle on the cluster key for the join, one
   * anti-join shuffle of dropped ids. Centroids are md5-rank-deterministic
   * ([[trainIvfDeterministic]]) so the whole pipeline is oracle-checkable;
   * swap in [[trainIvf]] (Lloyd) when quality matters more than replay.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, tau: Double, seed: String = "semdedup"): DataFrame = {
    val spark = df.sparkSession
    VectorFunctions.register(spark)
    // the input lineage is evaluated by BOTH the centroid pick and the
    // assignment pass — callers often feed a computed projection (the
    // SemDeDup paper's pipeline arrives post-embedding-transform), so pin
    // it once instead of paying the upstream compute twice
    val src = graft.CacheScope.persist(df)
    val model = trainIvfDeterministic(src, idCol, vecCol, nClusters, seed)
    val assigned = ivfAssign(src, idCol, vecCol, model)
      .transform(graft.CacheScope.persist)
    val a = assigned.select(col("cluster"), col("id").as("id_a"),
      col("vec").as("__va"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"),
      col("vec").as("__vb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(lit(1.0) - VectorFunctions.vec_cosine_dist(col("__va"), col("__vb"))
        > tau)
      .select(col("id_b").as("id")).distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
  }

  // ---- embedding near-dup ----

  private[operators] def md5low60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 8
    while (i < 16) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h & 0x0fffffffffffffffL
  }

  /** Deterministic hyperplanes with md5-derived uniform components in
    * [-0.5, 0.5): any engine with md5() reproduces them exactly
    * (`md5low60("plane:seed:i:j") / 2^60 - 0.5` as REAL), which makes the
    * whole sign-LSH pipeline verifiable by an external SQL oracle. Uniform
    * components preserve the sign-LSH collision property (the hyperplane
    * direction distribution is symmetric, which is what the bound needs). */
  private def planes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Float]] =
    Array.tabulate(nPlanes) { i =>
      Array.tabulate(dim) { j =>
        (md5low60(s"plane:$seed:$i:$j").toDouble / (1L << 60).toDouble - 0.5).toFloat
      }
    }

  /**
   * Scalar int8 quantization audit: per-vector symmetric scale (max|x|/127),
   * quantize→dequantize round trip, and the worst-case reconstruction error,
   * all in one map-side pass — the standard embedding-compression step (4×
   * bandwidth at serving/storage time) with its quality cost measured as it
   * runs. Stages are separate selects because higher-order functions are
   * interpreted with no CSE: the double view and the scale are materialized
   * once each instead of once per consumer.
   */
  def int8QuantStats(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
      transform(col(vecCol), x => x.cast(DoubleType)).as("__v"))
      .select(col(idCol), col("__v"),
        (aggregate(col("__v"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
          .as("__scale"))
      .select(col(idCol), col("__scale").as("scale"),
        when(col("__scale") === 0.0, lit(0.0))
          .otherwise(aggregate(col("__v"), lit(0.0), (a, x) =>
            greatest(a, abs(x - round(x / col("__scale")) * col("__scale")))))
          .as("max_err"))

  /**
   * Deterministic random projection (Johnson–Lindenstrauss sketch) to
   * `outDim` dimensions: out_j = ⟨v, p_j⟩ over the same md5-derived
   * hyperplanes as the sign-LSH path (components uniform in [-0.5, 0.5)).
   * Pure map-side — the planes are plan literals and each output component
   * is one codegen'd dot product, so at 100 TB this composes with the scan
   * and cuts downstream ANN/clustering bandwidth dim/outDim-fold. The md5
   * derivation keeps projected pipelines reproducible by any engine.
   */
  def randomProject(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      outDim: Int, seed: Long = 42L): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    val ps = planes(dim, outDim, seed)
    df.select(col(idCol).cast(LongType).as("id"),
      array(ps.map(p => VectorFunctions.vec_dot(col(vecCol), typedlit(p))): _*)
        .as("proj"))
  }

  /**
   * Pairs with cosine similarity >= threshold, found via sign-LSH buckets and
   * verified exactly. Multi-probe (bit-flip) raises recall for borderline
   * pairs; like MinHash-LSH, false positives are impossible.
   */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, nPlanes: Int = 12, seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    VectorFunctions.register(spark)
    val ps = planes(dim, nPlanes, seed)
    val sigBits: Column = ps.zipWithIndex.map { case (p, i) =>
      when(VectorFunctions.vec_dot(col("vec"), typedlit(p)) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    // both the probe side and the build side read this table; persist so the
    // nPlanes sign-projections per row are computed once, not per join side
    val base = df.select(col(idCol).cast(LongType).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", sigBits)
      .transform(graft.CacheScope.persist)
    // multi-probe: each row also lands in every 1-bit-flip bucket
    val probed = base.select(col("id"), col("vec"),
      explode(array((col("bucket") +:
        (0 until nPlanes).map(i => col("bucket").bitwiseXOR(lit(1L << i)))): _*))
        .as("bkt"))
    val cand = probed.as("a").join(base.as("b"),
      col("a.bkt") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.vec").as("va"), col("b.vec").as("vb"))
      .distinct()
    cand.select(col("id_a"), col("id_b"),
      (lit(1.0) - VectorFunctions.vec_cosine_dist(col("va"), col("vb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * SPLADE-style sparse retrieval over dense embeddings: activations above
   * `threshold` become the sparse representation, laid out as POSTING LISTS
   * — one (id, dim, val) row per active dimension — and scoring is a join
   * on `dim` + a sum of products, exactly an inverted index expressed
   * relationally.
   *
   * Plan shape at 100 TB: sparsification is a map-side generator
   * (`posexplode` + filter — no shuffle); the query's active dims broadcast
   * (a query touches ≤dims entries); the only shuffle is the final
   * per-candidate `groupBy(id)` over rows that SHARED an active dimension
   * with the query — the posting-list intersection, not the corpus. A
   * persisted posting table partitioned by `dim` turns repeated queries
   * into partition-pruned scans of just the query's dims.
   *
   * Returns (id, score) — top-k by descending sparse dot product, ties on
   * id. Products are widened to double before summing. `roundDecimals`
   * rounds the score BEFORE ordering (ties then break on id), making the
   * selected set exactly replayable on another engine — the same
   * determinism rule the distance queries use.
   */
  def sparseDotTopK(df: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Float], threshold: Double, k: Int,
      roundDecimals: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val postings = df
      .select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("dim", "val")))
      .filter(col("val") > threshold)
    val qact = queryVec.zipWithIndex.collect {
      case (v, i) if v > threshold => (i, v.toDouble)
    }.toSeq
    val qdf = spark.createDataFrame(qact.map(p => (p._1, p._2)))
      .toDF("dim", "qval")
    val raw = sum(col("val").cast("double") * col("qval"))
    postings.join(broadcast(qdf), "dim")
      .groupBy(col("id"))
      .agg(roundDecimals.fold(raw)(d => round(raw, d)).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /**
   * Materialize the posting lists of [[sparseDotTopK]] as a parquet table
   * PARTITIONED BY dimension — the persisted inverted index. A later
   * [[sparseSearchIndexed]] reads only the partitions of the query's
   * active dims (Catalyst partition pruning — the scan never touches the
   * other ~dims partitions), so repeated queries cost |active dims| pruned
   * scans instead of a corpus pass. One shuffle-free write: partitionBy
   * splits files per input task.
   */
  def buildPostingIndex(df: DataFrame, idCol: String, vecCol: String,
      path: String, threshold: Double): Unit =
    df.select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("dim", "val")))
      .filter(col("val") > threshold)
      .write.mode("overwrite").partitionBy("dim").parquet(path)

  /** Top-k sparse dot product against a [[buildPostingIndex]] table.
    * Same semantics as [[sparseDotTopK]] at the same threshold. */
  def sparseSearchIndexed(spark: SparkSession, path: String,
      queryVec: Array[Float], threshold: Double, k: Int,
      roundDecimals: Option[Int] = None): DataFrame = {
    val qact = queryVec.zipWithIndex.collect {
      case (v, i) if v > threshold => (i, v.toDouble)
    }.toSeq
    val qdf = spark.createDataFrame(qact).toDF("dim", "qval")
    val raw = sum(col("val").cast("double") * col("qval"))
    spark.read.parquet(path)
      // partition-column filter → pruned at planning, not at runtime
      .filter(col("dim").isin(qact.map(p => Integer.valueOf(p._1)): _*))
      .join(broadcast(qdf), "dim")
      .groupBy(col("id"))
      .agg(roundDecimals.fold(raw)(d => round(raw, d)).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  // ---- late-interaction (multi-vector) retrieval ----

  /**
   * ColBERT-style MaxSim late-interaction scoring: a document is a BAG of
   * vectors (one per token/chunk), a query is a small bag;
   * score(doc) = Σ_q max_{v∈doc} cos_sim(q, v).
   *
   * `corpus` is `(doc, vec)`, `queries` is `(q_ix, qvec)` — the query bag is
   * tiny by construction and broadcasts, so similarity stays map-side over
   * ONE corpus pass; the per-(doc, q_ix) max is a partial-combined shuffle on
   * the doc key, and the final per-doc sum moves only m rows per doc.
   * Similarities are rounded to 6 decimals before the max and the sum runs in
   * DECIMAL(20,6) — exact and commutative, so the score is byte-identical
   * under any partitioning (and SQL-oracle-replayable).
   */
  def maxsimTopK(corpus: DataFrame, queries: DataFrame, topK: Int): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    corpus.crossJoin(broadcast(queries))
      // sim = 1 − round(dist, 6): subtracting the ROUNDED distance keeps the
      // double op identical in any engine that rounds the same distance
      // (1 − dist unrounded can differ by an ulp from an engine's own sim)
      .select(col("doc"), col("q_ix"),
        (lit(1.0) - round(VectorFunctions.vec_cosine_dist(col("vec"), col("qvec")), 6))
          .as("sim"))
      .groupBy(col("doc"), col("q_ix"))
      .agg(max(col("sim")).as("msim"))
      .groupBy(col("doc"))
      .agg(sum(col("msim").cast(DecimalType(20, 6))).as("__s"))
      .select(col("doc"), col("__s").cast(DoubleType).as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc"))
      .limit(topK)
  }

  /**
   * k-NN majority-vote label prediction — the eval / auto-labeling op a
   * labeled embedding table supports directly. Each query takes the majority
   * label of its k exact nearest corpus rows; ties break deterministically on
   * (closest-neighbor rank, then label). Neighbors come from [[knnJoin]]
   * (partial top-k aggregation: only k rows per partition per query cross the
   * shuffle); the vote itself aggregates k rows per query, and the rank-1
   * window runs over ≤ k label groups per query — bounded however large the
   * corpus is.
   *
   * `corpus` is `(id, vec, label)`, `queries` is `(qid, qvec)`.
   */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int,
      dist: (Column, Column) => Column): DataFrame = {
    val nn = knnJoin(corpus.select(col("id"), col("vec")), queries, k, dist)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("best_rnk"), col("label"))
    nn.join(corpus.select(col("id"), col("label")), "id")
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"), min(col("rnk")).as("best_rnk"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("qid"), col("label").as("predicted"), col("votes"))
  }

  /**
   * Hard-negative mining for contrastive/embedding training: for each query
   * `(qid, qvec, qlabel)`, the k nearest corpus rows whose label DIFFERS —
   * the negatives that sit closest to the decision boundary, which is what a
   * triplet/InfoNCE sampler wants. Same cost shape as [[knnJoin]]: queries
   * broadcast, the label-mismatch filter runs map-side BEFORE the partial
   * top-k aggregation, so only k rows per partition per query shuffle.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      dist: (Column, Column) => Column): DataFrame =
    labelFilteredTopK(corpus, queries, k, dist, sameLabel = false)

  /** Shared kernel of [[hardNegatives]]/[[contrastiveTriplets]]: per-query
    * top-k over the corpus rows whose label matches (or differs from) the
    * query's — filter map-side below the partial top-k aggregation. */
  private def labelFilteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dist: (Column, Column) => Column, sameLabel: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    VectorFunctions.register(spark)
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(if (sameLabel) col("label") === col("qlabel")
              else col("label") =!= col("qlabel"))
      .select(col("qid"), col("id"), dist(col("vec"), col("qvec")).as("dist"))
      .as[(Long, Long, Double)]
    val agg = new TopKAggregator(k)
    scored.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(agg.toColumn.name("topk"))
      .toDF("qid", "topk")
      .select(col("qid"), posexplode(col("topk")))
      .select(col("qid"), col("col._1").as("id"), col("col._2").as("dist"),
        (col("pos") + 1).as("rnk"))
  }

  /**
   * Contrastive-training triplet mining — the (anchor, positive, hard
   * negative) generator an embedding-training pipeline feeds to a
   * triplet/InfoNCE loss: per anchor, the nearest SAME-label corpus row is
   * the positive and the `kNeg` nearest DIFFERENT-label rows are the hard
   * negatives. Both sides run the [[labelFilteredTopK]] kernel (broadcast
   * anchors, map-side label filter, partial top-k aggregation), and the
   * final positive×negative join is per-anchor bounded (1 × kNeg rows).
   */
  def contrastiveTriplets(corpus: DataFrame, queries: DataFrame, kNeg: Int,
      dist: (Column, Column) => Column): DataFrame = {
    val pos = labelFilteredTopK(corpus, queries, 1, dist, sameLabel = true)
      .select(col("qid"), col("id").as("pos_id"))
    val neg = labelFilteredTopK(corpus, queries, kNeg, dist, sameLabel = false)
      .select(col("qid"), col("id").as("neg_id"), col("rnk").as("neg_rnk"))
    pos.join(neg, Seq("qid"))
  }

  /**
   * Embedding drift monitor: cosine distance between each group's centroid
   * in two cohorts (e.g. last week's corpus vs this week's, model v1 vs v2).
   * Centroids come from [[groupCentroids]] (fixed-point sums → exact,
   * engine-replayable means, one O(#groups·dim) shuffle per cohort); the
   * final join + cosine runs over #groups rows. The dot/norm fold is written
   * as explicit sequential `aggregate` ops so any engine replays the same
   * double sequence.
   */
  def centroidShift(old: DataFrame, neu: DataFrame, groupCol: String,
      vecCol: String, dim: Int): DataFrame = {
    def cents(df: DataFrame, suffix: String): DataFrame =
      groupCentroids(df, groupCol, vecCol, dim)
        .select(col(groupCol), col("n_members").as(s"n_$suffix"),
          col("centroid").as(s"c_$suffix"))
    def dot(a: String, b: String): Column =
      aggregate(zip_with(col(a), col(b), (x, y) => x * y), lit(0.0), _ + _)
    cents(old, "old").join(cents(neu, "new"), Seq(groupCol))
      .select(col(groupCol), col("n_old"), col("n_new"),
        round(lit(1.0) - dot("c_old", "c_new") /
          sqrt(dot("c_old", "c_old") * dot("c_new", "c_new")), 6)
          .as("centroid_cos_dist"))
  }

  /**
   * Hubness audit — the classic high-dimensional embedding-space diagnostic
   * (Radovanović et al. 2010): the in-degree distribution of the k-NN graph.
   * A healthy space has a tight distribution; a hubby one (a few points in
   * everyone's top-k, many in nobody's) degrades retrieval and clustering.
   * `queries` is a deterministic SAMPLE of the corpus (in-degrees scale by
   * the sample rate) so the probe stays linear-in-corpus: broadcast sample ×
   * one corpus pass, partial top-k aggregation, then an in-degree count and
   * a histogram over ≤ sample·k edge rows. Zero-in-degree vectors are
   * counted via one broadcast-joinable left join against the tiny in-degree
   * table. Returns `(in_degree, n_vectors)`.
   */
  def hubnessAudit(corpus: DataFrame, queries: DataFrame, k: Int,
      dist: (Column, Column) => Column): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    VectorFunctions.register(spark)
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("id") =!= col("qid")) // a point is not its own neighbor
      .select(col("qid"), col("id"), dist(col("vec"), col("qvec")).as("dist"))
      .as[(Long, Long, Double)]
    val agg = new TopKAggregator(k)
    val indeg = scored.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(agg.toColumn.name("topk"))
      .toDF("qid", "topk")
      .select(explode(col("topk")).as("e"))
      .select(col("e._1").as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("in_degree"))
    corpus.select(col("id")).join(indeg, Seq("id"), "left")
      .na.fill(0L, Seq("in_degree"))
      .groupBy(col("in_degree")).agg(count(lit(1)).as("n_vectors"))
  }

  /** Mergeable fixed-point second-moment accumulator over the leading `dims`
    * dimensions: buffer = [n, Σxᵢ (×2²⁰), Σxᵢxⱼ (×2³⁰, i ≤ j row-major)].
    * Long adds commute, so the sums are byte-identical under any
    * partitioning and replayable by any engine with floor() — the same trick
    * as [[QuantizedVecSum]], extended to the Gram matrix. O(dims²) state per
    * partition, ZERO per-row shuffle rows; the explode-to-pairs alternative
    * would shuffle dims²/2 rows per vector. */
  class CovSumAggregator(dims: Int) extends Aggregator[Array[Float], Array[Long], Array[Long]] {
    private val nPairs = dims * (dims + 1) / 2
    override def zero: Array[Long] = new Array[Long](1 + dims + nPairs)
    override def reduce(b: Array[Long], v: Array[Float]): Array[Long] = {
      b(0) += 1L
      var i = 0
      var p = 1 + dims
      while (i < dims) {
        val xi = v(i).toDouble
        b(1 + i) += math.floor(xi * 1048576.0 + 0.5).toLong
        var j = i
        while (j < dims) {
          b(p) += math.floor(xi * v(j).toDouble * 1073741824.0 + 0.5).toLong
          p += 1
          j += 1
        }
        i += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /**
   * Covariance/correlation audit over the leading `dims` dimensions — the
   * PCA/whitening pre-pass (is the embedding space axis-correlated? which
   * dims carry variance?). ONE map-side-combined aggregation producing a
   * single O(dims²) row ([[CovSumAggregator]]); the driver expands it to
   * (i ≤ j) pairs — a bounded collect of one row, the same class as the IVF
   * centroid collect. cov(i,j) = E[xᵢxⱼ] − E[xᵢ]E[xⱼ] from the fixed-point
   * sums (quantization ~1e-6, identical in any engine).
   */
  def covarianceAudit(df: DataFrame, vecCol: String, dims: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = udaf(new CovSumAggregator(dims))
    val s = df.select(agg(col(vecCol)).as("s")).head().getSeq[Long](0).toArray
    val n = s(0).toDouble
    def mean(i: Int): Double = s(1 + i) / 1048576.0 / n
    def exy(p: Int): Double = s(1 + dims + p) / 1073741824.0 / n
    val rows = for {
      i <- 0 until dims
      j <- i until dims
    } yield {
      val p = i * dims - i * (i - 1) / 2 + (j - i)
      (i.toLong, j.toLong, exy(p) - mean(i) * mean(j))
    }
    val varOf = rows.collect { case (i, j, c) if i == j => i -> c }.toMap
    spark.createDataset(rows.map { case (i, j, c) =>
      val denom = math.sqrt(varOf(i) * varOf(j))
      (i, j, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        if (denom > 0) BigDecimal(c / denom).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 0.0)
    }).toDF("dim_i", "dim_j", "cov", "corr")
  }

  /**
   * Top principal component by power iteration — the PCA pass embedding QA
   * ends with (which single direction carries the most variance, and how
   * much: anisotropy / "rogue dimension" detection in embedding spaces).
   *
   * Shape at 100 TB: the DATA pass is the same ONE O(dims²)-state
   * map-side-combined aggregation as [[covarianceAudit]]
   * ([[CovSumAggregator]] fixed-point sums — exact, partitioning-free);
   * the power iteration itself is dims² work on the driver's single
   * aggregated row, independent of corpus size. v₀ = e₀ and a fixed
   * iteration count keep the whole computation a pure function of the
   * data — the oracle replays the matvec/normalize loop from the same
   * integer sums with the same ordered folds.
   */
  def pcaTopComponent(df: DataFrame, vecCol: String, dims: Int,
      nIter: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = udaf(new CovSumAggregator(dims))
    val s = df.select(agg(col(vecCol)).as("s")).head().getSeq[Long](0).toArray
    val n = s(0).toDouble
    def mean(i: Int): Double = s(1 + i) / 1048576.0 / n
    def exy(p: Int): Double = s(1 + dims + p) / 1073741824.0 / n
    val m = Array.ofDim[Double](dims, dims)
    for (i <- 0 until dims; j <- i until dims) {
      val p = i * dims - i * (i - 1) / 2 + (j - i)
      val c = exy(p) - mean(i) * mean(j)
      m(i)(j) = c
      m(j)(i) = c
    }
    val v = Array.tabulate(dims)(i => if (i == 0) 1.0 else 0.0)
    var eig = 0.0
    for (_ <- 1 to nIter) {
      val w = new Array[Double](dims)
      var i = 0
      while (i < dims) {
        var acc = 0.0
        var j = 0
        while (j < dims) { acc += m(i)(j) * v(j); j += 1 }
        w(i) = acc
        i += 1
      }
      var nsq = 0.0
      i = 0
      while (i < dims) { nsq += w(i) * w(i); i += 1 }
      eig = math.sqrt(nsq)
      // degenerate input (rank-deficient covariance with the iterate in its
      // null space, e.g. an all-identical corpus): normalizing by eig = 0
      // would emit NaN loadings — report the zero eigenvalue with zero
      // loadings instead and stop iterating
      if (eig == 0.0) {
        java.util.Arrays.fill(v, 0.0)
        return spark.createDataset(v.toSeq.zipWithIndex.map { case (x, i2) =>
          (i2.toLong, x, 0.0)
        }).toDF("dim", "loading", "eigval")
      }
      i = 0
      while (i < dims) { v(i) = w(i) / eig; i += 1 }
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    spark.createDataset(v.toSeq.zipWithIndex.map { case (x, i) =>
      (i.toLong, r6(x), r6(eig))
    }).toDF("dim", "loading", "eigval")
  }

  /**
   * Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998) — the
   * standard diversified-retrieval post-pass: greedily pick
   * argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), tie-break on id.
   *
   * `candidates` is `(qid, id, rel, vec)`, the bounded top-n of a retrieval —
   * so the quadratic term is n² per query, never corpus-sized. The pairwise
   * sim table is built relationally (per-qid self-join of a bounded list,
   * 6-decimal rounded so the greedy trace is engine-exact) and the greedy
   * selection runs per query inside ONE mapGroups — all queries re-rank in
   * parallel, no driver loop.
   */
  def mmrRerank(candidates: DataFrame, selectK: Int,
      lambda: Double = 0.7): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    VectorFunctions.register(spark)
    val a = candidates.select(col("qid"), col("id").as("ia"),
      col("rel").as("rel_a"), col("vec").as("va"))
    val b = candidates.select(col("qid"), col("id").as("ib"), col("vec").as("vb"))
    val sims = a.join(b, Seq("qid")).filter(col("ia") =!= col("ib"))
      // 1 − round(dist, 6), not round(1 − dist, 6): see maxsimTopK
      .select(col("qid"), col("ia"), col("ib"), col("rel_a"),
        (lit(1.0) - round(VectorFunctions.vec_cosine_dist(col("va"), col("vb")), 6))
          .as("sim"))
      .as[(Long, Long, Long, Double, Double)]
    sims.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val rel = scala.collection.mutable.LongMap.empty[Double]
        val sim = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
        it.foreach { case (_, ia, ib, relA, s) =>
          rel(ia) = relA
          sim((ia, ib)) = s
        }
        val remaining = scala.collection.mutable.SortedSet.empty[Long] ++ rel.keys
        val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        var rank = 1
        while (rank <= selectK && remaining.nonEmpty) {
          var bestId = -1L
          var bestScore = Double.NegativeInfinity
          remaining.foreach { c =>
            // max over picked, 0.0 only when nothing is picked yet (a
            // negative max must NOT clamp to 0 — it matches SQL's
            // coalesce(max(..), 0.0), which is NULL only over zero rows)
            val maxSim =
              if (picked.isEmpty) 0.0
              else picked.iterator.map(s => sim.getOrElse((c, s), 0.0)).max
            val score = lambda * rel(c) - (1.0 - lambda) * maxSim
            // strict > with ascending-id iteration == (score DESC, id ASC)
            if (score > bestScore) { bestScore = score; bestId = c }
          }
          remaining.remove(bestId)
          picked += bestId
          out += ((qid, rank.toLong, bestId, rel(bestId)))
          rank += 1
        }
        out.iterator
      }
      .toDF("qid", "rnk", "id", "rel")
  }
}

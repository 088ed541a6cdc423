package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function

/**
 * Column-level API + SQL registration for the vector expressions.
 *
 * Functions are registered in the session FunctionRegistry (so `spark.sql`
 * can call them by name) and exposed as `Column` helpers via
 * `call_function`, which keeps us off private Column constructors.
 */
object VectorFunctions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> (es => VectorDot(es(0), es(1))),
    "vec_l2sq" -> (es => VectorL2Sq(es(0), es(1))),
    "vec_l2" -> (es => VectorL2(es(0), es(1))),
    "vec_neg_dot" -> (es => VectorNegDot(es(0), es(1))),
    "vec_cosine_dist" -> (es => VectorCosineDistance(es(0), es(1))),
    "vec_norm" -> (es => VectorNorm(es(0))),
    "vec_normalize" -> (es => VectorNormalize(es(0))),
    "hamming_dist" -> (es => HammingDistance(es(0), es(1))),
    "vec_l1" -> (es => VectorL1(es(0), es(1))),
    "binary_quantize" -> (es => BinaryQuantize(es(0))),
    "jaccard_dist" -> (es => JaccardDistance(es(0), es(1))),
    // crawl-ingestion charset decode (REPLACE semantics, UTF-8 fallback on
    // unknown labels) — the built-in `decode` whitelist + ANSI throw rules
    // make it unusable on untrusted HTTP charset labels
    "charset_decode" -> (es => CharsetDecode(es(0), es(1))),
    // HTTP body codings (chunked / gzip / deflate) — null = unsupported or
    // malformed coding, the router drops the record
    "http_body_decode" -> (es => HttpBodyDecode(es(0), es(1), es(2))),
    // identity flagged nondeterministic: pins filters above projections
    // (see OptimizerBarrier — pushdown's per-reference tree substitution)
    "graft_barrier" -> (es => OptimizerBarrier(es(0))),
    // single-pass HTML → text extraction, value-identical to the
    // WarcSource.htmlText regex chain (which stays as the specification)
    "html_to_text" -> (es => HtmlToText(es(0))),
    // boilerplate-reduced main content (block scoring: structural tags,
    // unlikely class/id, length, link density — see MainTextKernel)
    "main_html_text" -> (es => MainHtmlText(es(0))),
    // single-pass quality score, bit-identical to the Column formula
    // (TextAnalysis.qualityScore stays as the specification)
    "quality_score" -> (es => graft.operators.QualityScore(es(0))),
    // pgvector SQL-function aliases, so the reference's function-call
    // spellings run verbatim: vector_dims/vector_norm/l2_normalize/
    // subvector (all 1-based, like pgvector) map onto the same expressions
    "vector_dims" ->
      (es => org.apache.spark.sql.catalyst.expressions.Size(es(0))),
    "vector_norm" -> (es => VectorNorm(es(0))),
    "l2_normalize" -> (es => VectorNormalize(es(0))),
    "subvector" ->
      (es => org.apache.spark.sql.catalyst.expressions.Slice(es(0), es(1), es(2))),
  )

  /**
   * pgvector's `sum(vector)` / `avg(vector)` SQL aggregates. Accumulation is
   * FIXED-POINT (×2^20 per element, same scheme as
   * `Similarity.QuantizedVecSum`): long addition is associative-commutative,
   * so the result is byte-identical regardless of partitioning and merge
   * order — a float sum would be order-dependent and unverifiable against
   * another engine. Dimension is inferred from the first vector; mixed
   * dimensions in one group throw (pgvector errors likewise).
   */
  private class VecFixedSum(avg: Boolean)
      extends org.apache.spark.sql.expressions.Aggregator[
        scala.collection.Seq[Float], (Array[Long], Long), scala.collection.Seq[Double]] {
    override def zero: (Array[Long], Long) = (Array.empty[Long], 0L)
    override def reduce(b: (Array[Long], Long),
        v: scala.collection.Seq[Float]): (Array[Long], Long) = {
      if (v == null) b
      else {
        val buf = if (b._1.isEmpty) new Array[Long](v.length) else b._1
        require(buf.length == v.length,
          s"vec_sum/vec_avg: dimension mismatch ${buf.length} vs ${v.length}")
        var i = 0
        while (i < buf.length) {
          buf(i) += math.floor(v(i).toDouble * 1048576.0 + 0.5).toLong; i += 1
        }
        (buf, b._2 + 1)
      }
    }
    override def merge(a: (Array[Long], Long),
        b: (Array[Long], Long)): (Array[Long], Long) = {
      if (a._1.isEmpty) b
      else if (b._1.isEmpty) a
      else {
        require(a._1.length == b._1.length,
          s"vec_sum/vec_avg: dimension mismatch ${a._1.length} vs ${b._1.length}")
        var i = 0
        while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
        (a._1, a._2 + b._2)
      }
    }
    override def finish(r: (Array[Long], Long)): scala.collection.Seq[Double] =
      if (r._2 == 0L) null
      else {
        val div = if (avg) 1048576.0 * r._2 else 1048576.0
        r._1.toSeq.map(_ / div)
      }
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Long], Long)]()
    override def outputEncoder: org.apache.spark.sql.Encoder[scala.collection.Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[scala.collection.Seq[Double]]()
  }

  /** Idempotent; call once per session before using the Column helpers. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def absent(name: String) =
      !reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    builders.foreach { case (name, b) =>
      if (absent(name)) reg.createOrReplaceTempFunction(name, b, "built-in")
    }
    // aggregates go through the UDF registry (Aggregator-backed; cannot be
    // expressed as a pure Expression builder)
    if (absent("vec_sum")) spark.udf.register("vec_sum",
      org.apache.spark.sql.functions.udaf(new VecFixedSum(avg = false)))
    if (absent("vec_avg")) spark.udf.register("vec_avg",
      org.apache.spark.sql.functions.udaf(new VecFixedSum(avg = true)))
  }

  /** Builder-time registration via `SparkSessionExtensions.injectFunction`,
    * so `withExtensions(new GraftExtensions)` sessions get the SQL surface
    * without any per-session `register` call. */
  private[graft] def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name), b))
    }

  def vec_dot(l: Column, r: Column): Column = call_function("vec_dot", l, r)
  def vec_l2sq(l: Column, r: Column): Column = call_function("vec_l2sq", l, r)
  def vec_l2(l: Column, r: Column): Column = call_function("vec_l2", l, r)
  def vec_neg_dot(l: Column, r: Column): Column = call_function("vec_neg_dot", l, r)
  def vec_cosine_dist(l: Column, r: Column): Column = call_function("vec_cosine_dist", l, r)
  def vec_norm(c: Column): Column = call_function("vec_norm", c)
  def vec_normalize(c: Column): Column = call_function("vec_normalize", c)
  def hamming_dist(l: Column, r: Column): Column = call_function("hamming_dist", l, r)
  def vec_l1(l: Column, r: Column): Column = call_function("vec_l1", l, r)
  def binary_quantize(c: Column): Column = call_function("binary_quantize", c)
  def jaccard_dist(l: Column, r: Column): Column = call_function("jaccard_dist", l, r)
  def charset_decode(payload: Column, charset: Column): Column =
    call_function("charset_decode", payload, charset)
  def http_body_decode(body: Column, transferEnc: Column,
      contentEnc: Column): Column =
    call_function("http_body_decode", body, transferEnc, contentEnc)
}

/**
 * Primitive-array distance kernels for use inside graph build/search code
 * (mapPartitions), where values are plain `Array[Float]` rather than Catalyst
 * `ArrayData`. Same numeric semantics as the Catalyst expressions above.
 */
object VectorKernels {
  // Sequential loops on purpose: a lane-reducing (SIMD) sum adds in another
  // order and can differ in the last ulps, which would break the engine's
  // bit-stable distances (oracle hash-matching, resumable-scan equality).
  final def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  final def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }
  final def negDot(a: Array[Float], b: Array[Float]): Double = -dot(a, b)
  final def cosineDist(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    1.0 - d / math.sqrt(na * nb)
  }
  /** Reference `distance_cosine` form: assumes normalized inputs, clamps at 0
    * (distance/mod.rs:192-223). Used inside the index kernels. */
  final def cosineDistNormalized(a: Array[Float], b: Array[Float]): Double =
    math.max(1.0 - dot(a, b), 0.0)
  final def hamming(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { acc += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    acc
  }
  /** [[hamming]] of `a` against the `a.length` words of `b` from `bFrom`. */
  final def hamming(a: Array[Long], b: Array[Long], bFrom: Int): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { acc += java.lang.Long.bitCount(a(i) ^ b(bFrom + i)); i += 1 }
    acc
  }
  final def norm(a: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val x = a(i).toDouble; acc += x * x; i += 1 }
    math.sqrt(acc)
  }
  /** preprocess_cosine semantics (distance/mod.rs:225-253). */
  final def normalize(a: Array[Float]): Array[Float] = {
    val n = norm(a)
    if (n == 0.0 || math.abs(n - 1.0) < java.lang.Math.ulp(1.0f)) a
    else {
      val out = new Array[Float](a.length)
      var i = 0
      while (i < a.length) { out(i) = (a(i) / n).toFloat; i += 1 }
      out
    }
  }
}

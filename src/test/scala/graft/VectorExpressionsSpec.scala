package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{VectorFunctions, VectorKernels}
import graft.functions.VectorFunctions._

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    VectorFunctions.register(s)
    s
  }
}

/** Mirrors the reference's metric-semantics tests (FIXTURES.md F2;
  * pgvectorscale build.rs:1476-1557, distance/mod.rs tests). */
class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val a = Array(1f, 2f, 3f)
  private val b = Array(4f, 5f, 6f)

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq((a, b)).toDF("a", "b").select(c).collect()(0).get(0)

  test("vec_dot / vec_neg_dot") {
    assert(one(vec_dot($"a", $"b")) == 32.0)
    assert(one(vec_neg_dot($"a", $"b")) == -32.0)
  }

  test("vec_l2sq is squared L2; vec_l2 is true L2") {
    assert(one(vec_l2sq($"a", $"b")) == 27.0)
    assert(one(vec_l2($"a", $"b")) == math.sqrt(27.0))
  }

  test("vec_cosine_dist matches general cosine formula") {
    val expected = 1.0 - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(one(vec_cosine_dist($"a", $"b")).asInstanceOf[Double] - expected) < 1e-12)
  }

  test("nulls propagate (NULL vector is never indexed / distance is NULL)") {
    val r = Seq((Option(a), Option.empty[Array[Float]]))
      .toDF("a", "b").select(vec_dot($"a", $"b")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("vec_norm and vec_normalize") {
    assert(one(vec_norm($"a")) == math.sqrt(14.0))
    val n = Seq(Tuple1(a)).toDF("a").select(vec_normalize($"a")).collect()(0)
      .getSeq[Float](0)
    assert(math.abs(VectorKernels.norm(n.toArray) - 1.0) < 1e-6)
  }

  test("vec_normalize no-ops on zero vectors and already-normalized vectors") {
    // preprocess_cosine semantics: distance/mod.rs:225-253
    val z = Array(0f, 0f, 0f)
    val u = Array(1f, 0f, 0f)
    val rows = Seq(Tuple1(z), Tuple1(u)).toDF("a")
      .select(vec_normalize($"a")).collect()
    assert(rows(0).getSeq[Float](0) == Seq(0f, 0f, 0f))
    assert(rows(1).getSeq[Float](0) == Seq(1f, 0f, 0f))
  }

  test("cosineDistNormalized clamps at zero") {
    val u = Array(1f, 0f, 0f)
    assert(VectorKernels.cosineDistNormalized(u, u) == 0.0)
  }

  test("hamming_dist = popcount of xor") {
    val r = Seq((Array(0xFFL, 0x0L), Array(0x0L, 0xF0L)))
      .toDF("a", "b").select(hamming_dist($"a", $"b")).collect()(0).getLong(0)
    assert(r == 8 + 4)
  }

  test("vec_l1 is the taxicab distance (pgvector <+>)") {
    assert(one(vec_l1($"a", $"b")) == 9.0)
    assert(one(vec_l1($"b", $"a")) == 9.0)
  }

  test("binary_quantize packs sign bits (pgvector binary_quantize)") {
    // dims 0..66: positive exactly at 0, 2, 64 → word0 bits {0,2}, word1 bit 0
    val v = Array.tabulate(67)(i => if (i == 0 || i == 2 || i == 64) 1f
      else if (i == 1) 0f else -1f)
    val r = Seq(Tuple1(v)).toDF("a").select(binary_quantize($"a"))
      .collect()(0).getSeq[Long](0)
    assert(r == Seq(5L, 1L))
    // 0f is NOT positive (pgvector: v[i] > 0)
    val z = Seq(Tuple1(Array(0f, -0f, 1f))).toDF("a")
      .select(binary_quantize($"a")).collect()(0).getSeq[Long](0)
    assert(z == Seq(4L))
  }

  test("jaccard_dist on packed codes; empty-union defined as 0") {
    // a = {0,1}, b = {1,2} → inter 1, union 3
    val r = Seq((Array(3L), Array(6L)))
      .toDF("a", "b").select(jaccard_dist($"a", $"b")).collect()(0).getDouble(0)
    assert(math.abs(r - (1.0 - 1.0 / 3.0)) < 1e-15)
    val e = Seq((Array(0L), Array(0L)))
      .toDF("a", "b").select(jaccard_dist($"a", $"b")).collect()(0).getDouble(0)
    assert(e == 0.0)
    // identical non-empty codes → distance 0
    val s = Seq((Array(7L), Array(7L)))
      .toDF("a", "b").select(jaccard_dist($"a", $"b")).collect()(0).getDouble(0)
    assert(s == 0.0)
  }

  test("packed-code ops reject length mismatches (no silent OOB read)") {
    val ex = intercept[Exception] {
      Seq((Array(1L, 2L), Array(1L)))
        .toDF("a", "b").select(jaccard_dist($"a", $"b")).collect()
    }
    assert(ex.getMessage.contains("length mismatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("length mismatch")))
    val eh = intercept[Exception] {
      Seq((Array(1L, 2L), Array(1L)))
        .toDF("a", "b").select(hamming_dist($"a", $"b")).collect()
    }
    assert(eh.getMessage.contains("length mismatch") ||
      Option(eh.getCause).exists(_.getMessage.contains("length mismatch")))
  }

  test("kernels agree with expressions") {
    assert(VectorKernels.dot(a, b) == 32.0)
    assert(VectorKernels.l2sq(a, b) == 27.0)
    assert(math.abs(VectorKernels.cosineDist(a, b) -
      one(vec_cosine_dist($"a", $"b")).asInstanceOf[Double]) < 1e-15)
  }

  test("expressions survive whole-stage codegen over a real scan") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.limit(1).select($"embedding".as("q"))
    val n = e.crossJoin(broadcast(q))
      .select(vec_cosine_dist($"embedding", $"q").as("d"))
      .filter($"d" >= 0 && $"d" <= 2.0)
      .count()
    assert(n == 500)
  }

  test("pgvector SQL aliases: vector_dims, vector_norm, l2_normalize, subvector") {
    val r = spark.sql(
      """SELECT vector_dims(v) AS d, round(vector_norm(v), 6) AS n,
        |       l2_normalize(v) AS u, subvector(v, 2, 2) AS s
        |FROM (SELECT CAST(array(3.0, 0.0, 4.0) AS ARRAY<FLOAT>) AS v)""".stripMargin).head()
    assert(r.getInt(0) == 3)
    assert(r.getDouble(1) == 5.0)
    assert(math.abs(VectorKernels.norm(r.getSeq[Float](2).toArray) - 1.0) < 1e-6)
    assert(r.getSeq[Float](3) == Seq(0f, 4f))
  }

  test("vec_sum / vec_avg aggregates: fixed-point, order-independent") {
    val df = Seq((1, Array(1.0f, 2.0f)), (1, Array(3.0f, 4.0f)),
      (2, Array(0.5f, -0.5f))).toDF("g", "v")
    df.createOrReplaceTempView("vecs_t")
    val rows = spark.sql(
      """SELECT g, vec_sum(v) AS s, vec_avg(v) AS a FROM vecs_t
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(rows(0).getSeq[Double](1) == Seq(4.0, 6.0))
    assert(rows(0).getSeq[Double](2) == Seq(2.0, 3.0))
    assert(rows(1).getSeq[Double](1) == Seq(0.5, -0.5))
    // repartitioned input produces the identical result (long adds commute)
    val r2 = spark.sql("SELECT vec_sum(v) AS s FROM vecs_t WHERE g = 1")
    val r3 = df.filter($"g" === 1).repartition(3)
    r3.createOrReplaceTempView("vecs_t3")
    assert(r2.head().getSeq[Double](0) ==
      spark.sql("SELECT vec_sum(v) AS s FROM vecs_t3").head().getSeq[Double](0))
  }

  test("SQL registration works") {
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb_t")
    val r = spark.sql(
      "SELECT max(vec_norm(embedding)) m FROM emb_t").collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-5)
  }

  test("register is idempotent: a name the session already holds is kept") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
    import org.apache.spark.sql.catalyst.expressions.Literal
    val reg = spark.sessionState.functionRegistry
    graft.operators.TextAnalysis.register(spark)
    val names = Seq("vec_norm", "vec_sum", "simhash64")
    val ours = names.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)).get)
    val theirs: FunctionBuilder = _ => Literal(7.0)
    names.foreach(n => reg.createOrReplaceTempFunction(n, theirs, "scala_udf"))
    try {
      VectorFunctions.register(spark)
      graft.operators.TextAnalysis.register(spark)
      names.foreach { n =>
        assert(reg.lookupFunctionBuilder(FunctionIdentifier(n)).get eq theirs, n)
      }
    } finally names.zip(ours).foreach { case (n, b) =>
      reg.createOrReplaceTempFunction(n, b, "built-in")
    }
    assert(math.abs(one(vec_norm(col("a"))).asInstanceOf[Double] -
      math.sqrt(14.0)) < 1e-9)
  }
}

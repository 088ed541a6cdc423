package graftbench

import java.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded clustered vector generator. Centres are N(0, 1) per dimension; a
  * row is a uniformly chosen centre plus N(0, Spread²) noise, with one label
  * drawn uniformly from 1..Labels. The centres are drawn once from a fixed
  * seed, so every run samples the same distribution: with centres drawn per
  * run, how the clusters fall into the IVF shards changed the build's work
  * by half from one seed to the next. Every stream (corpus, queries,
  * schedule) has its own `Random`, derived from the benchmark seed and a
  * stream id, so adding draws to one stream never shifts another. */
final class Gen(seed: Long) {
  import Gen._

  def stream(id: Int): Random = new Random(seed * 1000003L + id)

  private val centres: Array[Array[Double]] = {
    val r = new Random(CentreSeed)
    Array.fill(Clusters, Dim)(r.nextGaussian())
  }

  def vector(r: Random): Array[Float] = {
    val c = centres(r.nextInt(Clusters))
    Array.tabulate(Dim)(i => (c(i) + Spread * r.nextGaussian()).toFloat)
  }

  def label(r: Random): Short = (1 + r.nextInt(Labels)).toShort

  /** `n` rows with ids `firstId` onwards: (id, vector, label). */
  def rows(r: Random, n: Int, firstId: Long = 0L): Array[(Long, Array[Float], Short)] =
    Array.tabulate(n)(i => (firstId + i, vector(r), label(r)))
}

object Gen {
  /** Dimensions and label count are the benchmark's stated sizes; the
    * cluster count and spread are a chosen shape, not measured from data
    * (README.md, Workloads). */
  val Dim = 96
  val Labels = 16
  val Clusters = 64
  val Spread = 0.5
  val CentreSeed = 1L

  /** Write rows as parquet (`id`, `vec`, `labels`) and read them back, so
    * the library sees the corpus as an ordinary table. */
  def table(spark: SparkSession, path: String,
      rows: Seq[(Long, Array[Float], Short)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v, l) => (id, v, Array(l)) }
      .toDF("id", "vec", "labels")
      .coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Exact cosine top-k over `corpus`, restricted to rows carrying `label`
    * when it is given. Returns row ids, nearest first (ties by id). */
  final class Exact(corpus: Array[(Long, Array[Float], Short)]) {
    private val unit: Array[Array[Double]] = corpus.map { case (_, v, _) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(_ / n)
    }

    def topK(q: Array[Float], k: Int, label: Option[Short]): Array[Long] = {
      val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
      val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
      var i = 0
      while (i < corpus.length) {
        if (label.forall(_ == corpus(i)._3)) {
          val u = unit(i)
          var d = 0.0; var j = 0
          while (j < u.length) { d += u(j) * q(j); j += 1 }
          val e = (1.0 - d / qn, corpus(i)._1)
          if (heap.size < k) heap.enqueue(e)
          else if (Ordering[(Double, Long)].lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
        }
        i += 1
      }
      heap.dequeueAll[(Double, Long)].reverse.map(_._2).toArray
    }
  }
}

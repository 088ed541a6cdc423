package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Sbq.SbqModel
import graft.functions.VectorKernels
import graft.index._

/** Differential check of the primitive traversal kernel in [[GraphSearcher]]
  * against [[BoxedGraphSearcher]], the boxed traversal it replaced: the same
  * results and the same [[SearchStats]] counts over seeded random graphs,
  * for one-shot searches, resumed `advance` rounds and concurrent callers. */
class GraphKernelSpec extends AnyFunSuite {

  /** One shard: the kernel under test and the oracle over the same arrays. */
  private case class Shard(kernel: GraphSearcher, oracle: BoxedGraphSearcher,
      n: Int, dim: Int, labeled: Boolean)

  private def shard(seed: Int, n: Int, dim: Int, sbq: Boolean, labeled: Boolean,
      metric: Metric, built: Boolean, zeroRows: Boolean = false): Shard = {
    val rnd = new scala.util.Random(seed)
    val vecs0 = Array.fill(n)(Array.fill(dim)(rnd.nextFloat() - 0.3f))
    // duplicated vectors tie on exact distance, so the rescored order
    // falls to the row id; zero rows score NaN under cosine, which mixes
    // NaN into the candidate heap of a plain-storage traversal
    val vecs = vecs0.indices.map(i =>
      if (zeroRows && i % 5 == 2) new Array[Float](dim)
      else if (i % 7 == 3) vecs0(i - 1).clone() else vecs0(i)).toArray
    val labels =
      if (!labeled) null
      else Array.fill(n)(LabelSets.normalize(
        Array.fill(rnd.nextInt(3))((1 + rnd.nextInt(5)).toShort)))
    val model = if (sbq) sbqModel(vecs, metric) else null
    val codes =
      if (sbq) vecs.map(v => model.quantize(BuildSpace(v, 0, metric))) else null
    val adj: Array[Array[Int]] =
      if (built) {
        val b = new VamanaBuilder(vecs.map(BuildSpace(_, 0, metric)), labels,
          metric, 8, 24, 1.2, codes).build()
        Array.tabulate(n)(b.neighborsOf)
      } else Array.fill(n)(Array.fill(rnd.nextInt(9))(rnd.nextInt(n)))
    val off = adj.scanLeft(0)(_ + _.length)
    val tgt = adj.flatten
    val rowIds = new scala.util.Random(seed)
      .shuffle((0 until n).map(i => i.toLong * 7 + 3)).toArray
    Shard(
      new GraphSearcher(rowIds, vecs, codes, labels, off, tgt, metric, model),
      new BoxedGraphSearcher(rowIds, vecs, codes, labels, off, tgt, metric, model),
      n, dim, labeled)
  }

  /** Population-variance SBQ model; 1 bit per dimension for heavy ties. */
  private def sbqModel(vecs: Array[Array[Float]], metric: Metric): SbqModel = {
    val bs = vecs.map(BuildSpace(_, 0, metric))
    val d = bs.head.length
    val mean = Array.tabulate(d)(j => bs.map(_(j).toDouble).sum / bs.length)
    val m2 = Array.tabulate(d)(j => bs.map(v => math.pow(v(j) - mean(j), 2)).sum)
    SbqModel(bs.length.toLong, mean, m2, 1)
  }

  private def report(metric: Metric): (Array[Float], Array[Float]) => Double =
    metric match {
      case Metric.L2 => (a, b) => math.sqrt(VectorKernels.l2sq(a, b))
      case Metric.Cosine => (a, b) => VectorKernels.cosineDist(a, b)
      case Metric.InnerProduct => (a, b) => VectorKernels.negDot(a, b)
    }

  /** Results compared bit for bit: a zero query under cosine scores NaN. */
  private def bits(hits: Array[(Long, Double)]): Seq[(Long, Long)] =
    hits.toSeq.map { case (rid, d) => (rid, java.lang.Double.doubleToRawLongBits(d)) }

  private def counts(s: SearchStats): (Long, Long, Long) =
    (s.nodesVisited, s.quantizedCmps, s.exactCmps)

  private val filters: Seq[(String, Array[Short])] = Seq(
    "unfiltered" -> null,
    "single label" -> Array[Short](2),
    "multi label" -> Array[Short](1, 4),
    "empty filter" -> Array.emptyShortArray,
    "absent label" -> Array[Short](99))

  private val shapes: Seq[(String, Shard)] = Seq(
    "sbq built labeled cosine" -> shard(1, 300, 24, sbq = true, labeled = true, Metric.Cosine, built = true),
    "sbq built unlabeled l2" -> shard(2, 250, 16, sbq = true, labeled = false, Metric.L2, built = true),
    "plain built labeled cosine" -> shard(3, 200, 12, sbq = false, labeled = true, Metric.Cosine, built = true),
    "plain built cosine with zero rows" -> shard(8, 200, 12, sbq = false, labeled = true, Metric.Cosine, built = true, zeroRows = true),
    "plain built unlabeled ip" -> shard(4, 200, 12, sbq = false, labeled = false, Metric.InnerProduct, built = true),
    "sbq random labeled cosine" -> shard(5, 180, 20, sbq = true, labeled = true, Metric.Cosine, built = false),
    "plain random unlabeled l2" -> shard(6, 150, 8, sbq = false, labeled = false, Metric.L2, built = false),
    "single node" -> shard(7, 1, 8, sbq = true, labeled = true, Metric.Cosine, built = false),
    // more nodes than a budget's seen set has slots: membership is hashed
    "sbq random labeled l2, 3000 nodes" -> shard(9, 3000, 16, sbq = true, labeled = true, Metric.L2, built = false))

  test("one-shot search equals the boxed traversal, stats included") {
    var cases = 0
    for {
      (shapeName, sh) <- shapes
      (filterName, filter) <- filters
      tombstoned <- Seq(false, true)
      nullQuery <- Seq(false, true)
      (k, l, rescore) <- Seq((10, 40, 20), (5, 16, 0), (sh.n + 5, 8, 10), (1, 1, 3))
    } {
      val rnd = new scala.util.Random(shapeName.hashCode ^ filterName.hashCode ^ k)
      val q = if (nullQuery) null else Array.fill(sh.dim)(rnd.nextFloat() - 0.3f)
      val dead: Long => Boolean =
        if (tombstoned) rid => rid % 5 == 3 else _ => false
      val rep = report(sh.kernel.metric)
      val (sk, so) = (new SearchStats, new SearchStats)
      val got = sh.kernel.search(q, k, l, rescore, filter, dead, rep, sk)
      val want = sh.oracle.search(q, k, l, rescore, filter, dead, rep, so)
      val what = s"$shapeName / $filterName / tomb=$tombstoned / null=$nullQuery / k=$k l=$l r=$rescore"
      assert(bits(got) == bits(want), what)
      assert(counts(sk) == counts(so), what)
      cases += 1
    }
    assert(cases == shapes.length * filters.length * 2 * 2 * 4)
  }

  test("resumed advance rounds equal the boxed traversal round by round") {
    for {
      (shapeName, sh) <- shapes
      (filterName, filter) <- filters
      nullQuery <- Seq(false, true)
    } {
      val rnd = new scala.util.Random(shapeName.hashCode ^ filterName.hashCode)
      val q = if (nullQuery) null else Array.fill(sh.dim)(rnd.nextFloat() - 0.3f)
      val rep = report(sh.kernel.metric)
      val dead: Long => Boolean = rid => rid % 11 == 3
      val (sk, so) = (new SearchStats, new SearchStats)
      val rk = sh.kernel.resumable(q, filter, dead, rep, sk)
      val ro = sh.oracle.resumable(q, filter, dead, rep, so)
      Seq((5, 10, 5), (10, 30, 20), (10, 30, 20), (40, 120, 0), (sh.n + 1, 400, 60))
        .zipWithIndex.foreach { case ((k, l, r), round) =>
          val what = s"$shapeName / $filterName / null=$nullQuery / round $round"
          assert(bits(rk.advance(k, l, r)) == bits(ro.advance(k, l, r)), what)
          assert(counts(sk) == counts(so), what)
        }
    }
  }

  test("a filter on an unlabeled index matches nothing, like the boxed traversal") {
    val sh = shapes.find(!_._2.labeled).get._2
    val q = Array.fill(sh.dim)(0.5f)
    val rep = report(sh.kernel.metric)
    val sk = new SearchStats
    assert(sh.kernel.search(q, 10, 40, 20, Array[Short](1), _ => false, rep, sk).isEmpty)
    assert(sh.oracle.search(q, 10, 40, 20, Array[Short](1), _ => false, rep).isEmpty)
    assert(counts(sk) == ((0L, 0L, 0L)))
  }

  test("threads searching one cached searcher equal the serial results") {
    val sh = shapes.head._2
    val rep = report(sh.kernel.metric)
    val queries = (0 until 64).map { i =>
      val rnd = new scala.util.Random(100 + i)
      (Array.fill(sh.dim)(rnd.nextFloat() - 0.3f), filters(i % filters.length)._2)
    }
    def searchOne(q: Array[Float], f: Array[Short]): (Seq[(Long, Long)], (Long, Long, Long)) = {
      val st = new SearchStats
      (bits(sh.kernel.search(q, 10, 40, 20, f, rid => rid % 5 == 3, rep, st)), counts(st))
    }
    val serial = queries.map { case (q, f) => searchOne(q, f) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 20).foreach { _ =>
            queries.indices.foreach { j =>
              val i = (j + t * 16) % queries.length
              assert(searchOne(queries(i)._1, queries(i)._2) == serial(i),
                s"thread $t query $i")
            }
          }
        }: Runnable)
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
  }
}

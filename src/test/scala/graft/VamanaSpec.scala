package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index._
import graft.functions.VectorKernels

/** Mirrors the reference's index quality gates (BASELINE.md):
  * connectivity under tiny search lists (build.rs:1717-1802) and
  * recall@10 >= 0.9 unfiltered + label-filtered (filtering_tests.rs:882-1026),
  * plus the label-set algebra unit tests (labels/mod.rs:249-425). */
class VamanaSpec extends AnyFunSuite {

  private def randVec(rnd: scala.util.Random, d: Int, normalized: Boolean): Array[Float] = {
    val v = Array.fill(d)(rnd.nextFloat())
    if (normalized) VectorKernels.normalize(v) else v
  }

  private def bruteTopK(vecs: Array[Array[Float]], q: Array[Float], k: Int,
      metric: Metric, keep: Int => Boolean = _ => true): Seq[Int] =
    vecs.indices.filter(keep)
      .map(i => (i, metric.dist(vecs(i), q)))
      .sortBy { case (i, d) => (d, i) }.take(k).map(_._1)

  // ---- label algebra ----

  test("overlaps: sorted-merge semantics") {
    import LabelSets._
    assert(overlaps(Array[Short](1, 3, 5), Array[Short](5)))
    assert(!overlaps(Array[Short](1, 3, 5), Array[Short](2, 4)))
    assert(!overlaps(Array.emptyShortArray, Array[Short](1)))
    assert(!overlaps(Array.emptyShortArray, Array.emptyShortArray))
  }

  test("containsIntersection: a∩b ⊆ self") {
    import LabelSets._
    // self covers the shared label
    assert(containsIntersection(Array[Short](2), Array[Short](1, 2), Array[Short](2, 3)))
    // shared label 2 not in self
    assert(!containsIntersection(Array[Short](1), Array[Short](1, 2), Array[Short](2)))
    // empty intersection is always covered
    assert(containsIntersection(Array.emptyShortArray, Array[Short](1), Array[Short](2)))
    assert(containsIntersection(Array.emptyShortArray, Array.emptyShortArray, Array[Short](1)))
  }

  test("normalize sorts and dedups") {
    assert(LabelSets.normalize(Array[Short](3, 1, 3, 2)).toSeq == Seq(1, 2, 3))
    assert(LabelSets.normalize(null).isEmpty)
  }

  // ---- graph gates ----

  test("connectivity: 1000 random 2-d vectors, R=10 L=10, all nodes reachable") {
    val rnd = new scala.util.Random(42)
    val vecs = Array.fill(1000)(randVec(rnd, 2, normalized = false))
    val b = new VamanaBuilder(vecs, null, Metric.L2, 10, 10, 1.2).build()
    assert(b.reachableCount() == 1000)
    // degree bound: no list exceeds ceil(R * 1.3)
    assert(vecs.indices.forall(i => b.neighborsOf(i).length <= math.ceil(10 * 1.3).toInt))
  }

  test("recall@10 >= 0.9 unfiltered (1000 x 32-d, cosine)") {
    val rnd = new scala.util.Random(7)
    val vecs = Array.fill(1000)(randVec(rnd, 32, normalized = true))
    val b = new VamanaBuilder(vecs, null, Metric.Cosine, 32, 100, 1.2).build()
    val searcher = toSearcher(b, null)
    val recalls = (0 until 20).map { _ =>
      val q = randVec(rnd, 32, normalized = true)
      val exact = bruteTopK(vecs, q, 10, Metric.Cosine).toSet
      val got = searcher.search(q, 10, 100, 50, null, _ => false,
        (a, x) => VectorKernels.cosineDist(a, x)).take(10).map(_._1.toInt).toSet
      exact.intersect(got).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall $mean")
  }

  test("recall@10 >= 0.9 label-filtered; empty filter returns nothing") {
    val rnd = new scala.util.Random(11)
    val vecs = Array.fill(1000)(randVec(rnd, 32, normalized = true))
    val labels = Array.fill(1000)(LabelSets.normalize(
      Array.fill(1 + rnd.nextInt(2))((1 + rnd.nextInt(10)).toShort)))
    val b = new VamanaBuilder(vecs, labels, Metric.Cosine, 32, 100, 1.2).build()
    val searcher = toSearcher(b, labels)
    val filter = Array[Short](3)
    val recalls = (0 until 20).map { _ =>
      val q = randVec(rnd, 32, normalized = true)
      val exact = bruteTopK(vecs, q, 10, Metric.Cosine,
        i => LabelSets.overlaps(labels(i), filter)).toSet
      val got = searcher.search(q, 10, 100, 50, filter, _ => false,
        (a, x) => VectorKernels.cosineDist(a, x)).take(10).map(_._1.toInt).toSet
      assert(got.forall(i => LabelSets.overlaps(labels(i), filter)))
      exact.intersect(got).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean filtered recall $mean")
    // P1: empty label filter matches nothing
    val empty = searcher.search(randVec(rnd, 32, normalized = true), 10, 100, 50,
      Array.emptyShortArray, _ => false, (a, x) => VectorKernels.cosineDist(a, x))
    assert(empty.isEmpty)
  }

  test("tombstoned rows are skipped at emit but still routable") {
    val rnd = new scala.util.Random(3)
    val vecs = Array.fill(300)(randVec(rnd, 16, normalized = true))
    val b = new VamanaBuilder(vecs, null, Metric.Cosine, 16, 64, 1.2).build()
    val searcher = toSearcher(b, null)
    val q = vecs(5)
    val all = searcher.search(q, 10, 64, 50, null, _ => false,
      (a, x) => VectorKernels.cosineDist(a, x)).take(10).map(_._1)
    assert(all.contains(5L))
    val without = searcher.search(q, 10, 64, 50, null, rid => rid == 5L,
      (a, x) => VectorKernels.cosineDist(a, x)).take(10).map(_._1)
    assert(!without.contains(5L) && without.nonEmpty)
  }

  test("streaming completeness: search list 2 still reaches every row when drained") {
    val rnd = new scala.util.Random(13)
    val vecs = Array.fill(200)(randVec(rnd, 2, normalized = false))
    val b = new VamanaBuilder(vecs, null, Metric.L2, 10, 10, 1.2).build()
    val searcher = toSearcher(b, null)
    // the batch analog of the reference's drained streaming scan: k = n
    val got = searcher.search(randVec(rnd, 2, normalized = false), 200, 200, 0,
      null, _ => false, (a, x) => math.sqrt(VectorKernels.l2sq(a, x)))
    assert(got.map(_._1).distinct.length == 200)
  }

  test("resumable search: advancing equals a fresh search, paying only the delta") {
    val rnd = new scala.util.Random(11)
    val vecs = Array.fill(1000)(randVec(rnd, 32, normalized = true))
    val b = new VamanaBuilder(vecs, null, Metric.Cosine, 32, 100, 1.2).build()
    val searcher = toSearcher(b, null)
    val dist = (a: Array[Float], x: Array[Float]) => VectorKernels.cosineDist(a, x)
    (0 until 5).foreach { qi =>
      val q = randVec(rnd, 32, normalized = true)
      // fresh runs at the small and the escalated budget
      val sSmall = new SearchStats
      val freshSmall = searcher.search(q, 10, 64, 20, null, _ => false, dist, sSmall)
      val sBig = new SearchStats
      val freshBig = searcher.search(q, 40, 256, 80, null, _ => false, dist, sBig)
      // one resumable, advanced through both budgets
      val sRes = new SearchStats
      val r = searcher.resumable(q, null, _ => false, dist, sRes)
      val r1 = r.advance(10, 64, 20)
      val visitsAfterR1 = sRes.nodesVisited
      val r2 = r.advance(40, 256, 80)
      // EXACT resumability: both rounds byte-identical to fresh searches
      assert(r1.toSeq == freshSmall.toSeq, s"q$qi round-1 mismatch")
      assert(r2.toSeq == freshBig.toSeq, s"q$qi round-2 mismatch")
      // delta accounting: round 1 == fresh small; the TOTAL over both rounds
      // equals ONE fresh big run — the escalation re-pays nothing
      assert(visitsAfterR1 == sSmall.nodesVisited)
      assert(sRes.nodesVisited == sBig.nodesVisited,
        s"q$qi resumed total ${sRes.nodesVisited} != fresh big ${sBig.nodesVisited}")
      assert(sRes.nodesVisited < sSmall.nodesVisited + sBig.nodesVisited)
    }
  }

  test("live-insert fold: seedFrozen + buildAppended keeps connectivity and recall") {
    val rnd = new scala.util.Random(11)
    val vecs = Array.fill(1000)(randVec(rnd, 32, normalized = true))
    // freeze a build over the first 800, then insert the rest live —
    // the aminsert/Graph::insert shape (build.rs:464-557) on one shard
    val base = vecs.take(800)
    val frozen = new VamanaBuilder(base, null, Metric.Cosine, 32, 100, 1.2).build()
    val adj = Array.tabulate(800)(frozen.neighborsOf)
    val resumed = new VamanaBuilder(vecs, null, Metric.Cosine, 32, 100, 1.2)
      .seedFrozen(adj).buildAppended()
    assert(resumed.reachableCount() == 1000,
      s"appended rows unreachable: ${resumed.reachableCount()}")
    // finalize prune bound holds across the fold
    assert(vecs.indices.forall(i => resumed.neighborsOf(i).length <= 32))
    val searcher = toSearcher(resumed, null)
    // every appended row is a first-class citizen: its own vector finds it
    (800 until 1000 by 37).foreach { i =>
      val got = searcher.search(vecs(i), 1, 100, 50, null, _ => false,
        (a, x) => VectorKernels.cosineDist(a, x))
      assert(got.head._1.toInt == i, s"appended row $i not retrievable")
    }
    // recall over mixed old+new ground truth matches the full-build gate
    val recalls = (0 until 20).map { _ =>
      val q = randVec(rnd, 32, normalized = true)
      val exact = bruteTopK(vecs, q, 10, Metric.Cosine).toSet
      val got = searcher.search(q, 10, 100, 50, null, _ => false,
        (a, x) => VectorKernels.cosineDist(a, x)).take(10).map(_._1.toInt).toSet
      exact.intersect(got).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall after live-insert fold $mean")
  }

  test("build: a seeded labeled SBQ build and its live-insert fold keep their adjacency") {
    // 1-bit codes give heavy Hamming ties, and at R = 32 a 40-wide search's
    // visited list often stays under the prune slack (42), so a node keeps
    // it in visited order: the checksum pins the order among equal
    // distances, not only the edge sets (at R = 16 it did not)
    val rnd = new scala.util.Random(23)
    val vecs = Array.fill(600)(randVec(rnd, 48, normalized = true))
    val labels = Array.fill(600)(LabelSets.normalize(
      Array.fill(1 + rnd.nextInt(2))((1 + rnd.nextInt(6)).toShort)))
    val model = sbqModel(vecs, bitsPerDim = 1)
    val codes = vecs.map(model.quantize)
    def checksum(b: VamanaBuilder): Long = {
      var h = 0xcbf29ce484222325L
      (0 until b.n).foreach { i =>
        (b.neighborsOf(i) :+ -1).foreach { t => h = (h ^ t) * 0x100000001b3L }
      }
      h
    }
    val full = new VamanaBuilder(vecs, labels, Metric.Cosine, 32, 40, 1.2, codes).build()
    val base = new VamanaBuilder(vecs.take(450), labels.take(450), Metric.Cosine,
      32, 40, 1.2, codes.take(450)).build()
    val frozen = Array.tabulate(450)(base.neighborsOf)
    val folded = new VamanaBuilder(vecs, labels, Metric.Cosine, 32, 40, 1.2, codes)
      .seedFrozen(frozen).buildAppended()
    // recorded from the builder that placed visited entries by linear scan
    // and tracked queued ids in a hash set; any faster form must match
    assert((checksum(full), checksum(folded)) ==
      ((-2866458926695225761L, -8917288954026643442L)))
  }

  /** An SBQ model straight from the rows (population variance). */
  private def sbqModel(vecs: Array[Array[Float]], bitsPerDim: Int): graft.functions.Sbq.SbqModel = {
    val d = vecs.head.length
    val mean = Array.tabulate(d)(j => vecs.map(_(j).toDouble).sum / vecs.length)
    val m2 = Array.tabulate(d)(j => vecs.map(v => math.pow(v(j) - mean(j), 2)).sum)
    graft.functions.Sbq.SbqModel(vecs.length.toLong, mean, m2, bitsPerDim)
  }

  private def toSearcher(b: VamanaBuilder, labels: Array[Array[Short]]): GraphSearcher = {
    val n = b.n
    val off = new Array[Int](n + 1)
    var s = 0
    (0 until n).foreach { i => off(i) = s; s += b.neighborsOf(i).length }
    off(n) = s
    val tgt = new Array[Int](s)
    var p = 0
    (0 until n).foreach { i => b.neighborsOf(i).foreach { t => tgt(p) = t; p += 1 } }
    new GraphSearcher(Array.tabulate(n)(_.toLong), b.vectors, null, labels,
      off, tgt, b.metric, null)
  }
}

package graft

import scala.collection.mutable
import graft.functions.Sbq.SbqModel
import graft.functions.VectorKernels
import graft.index.{BuildSpace, LabelSets, Metric, SearchStats}

/** Test oracle: the boxed traversal that [[graft.index.GraphSearcher]] ran
  * before its primitive kernel, kept verbatim (a `PriorityQueue` of boxed
  * `(id, dist)` tuples, a `java.util.HashSet[Integer]` of inserted ids, an
  * `ArrayBuffer` visited list and a `HashMap` exact-distance cache). The
  * differential spec asserts the kernel returns what this returns, with the
  * same [[SearchStats]] counts. Built from the same CSR arrays as the
  * searcher under test. */
final class BoxedGraphSearcher(
    val rowIds: Array[Long],
    val vectors: Array[Array[Float]],
    val codes: Array[Array[Long]],
    val labels: Array[Array[Short]],
    nbrOff: Array[Int],
    nbrTgt: Array[Int],
    val metric: Metric,
    val model: SbqModel,
    val dimsToIndex: Int = 0) {

  val n: Int = rowIds.length

  private val labelStarts: Map[Short, Int] = {
    if (labels == null) Map.empty
    else {
      val m = mutable.Map.empty[Short, Int]
      var i = 0
      while (i < n) {
        labels(i).foreach(lb => if (!m.contains(lb)) m(lb) = i)
        i += 1
      }
      m.toMap
    }
  }

  def search(query0: Array[Float], k: Int, searchListSize: Int, rescore: Int,
      filterLabels: Array[Short], tombstoned: Long => Boolean,
      reportDist: (Array[Float], Array[Float]) => Double,
      stats: SearchStats = null): Array[(Long, Double)] =
    resumable(query0, filterLabels, tombstoned, reportDist, stats)
      .advance(k, searchListSize, rescore)

  def resumable(query0: Array[Float], filterLabels: Array[Short],
      tombstoned: Long => Boolean,
      reportDist: (Array[Float], Array[Float]) => Double,
      stats: SearchStats = null): ResumableSearch =
    new ResumableSearch(query0, filterLabels, tombstoned, reportDist, stats)

  final class ResumableSearch(query0: Array[Float],
      filterLabels: Array[Short], tombstoned: Long => Boolean,
      reportDist: (Array[Float], Array[Float]) => Double,
      stats: SearchStats) {

    // an empty non-null filter matches nothing (P1), and so does any label
    // filter against an index built WITHOUT labels — mirroring that empty
    // semantics instead of NPE-ing on labels(cand)
    private val degenerate =
      n == 0 || (filterLabels != null && (filterLabels.isEmpty || labels == null))
    private val query: Array[Float] =
      if (degenerate) null
      else if (query0 == null) new Array[Float](vectors(0).length)
      else query0

    // the quantizer was trained on normalized vectors for cosine indexes.
    // vectors are stored RAW; exact traversal (plain storage) orders by the
    // SQL-visible distance, which is ordering-equivalent for all metrics.
    private val qcode: Array[Long] =
      if (!degenerate && model != null && codes != null)
        model.quantize(BuildSpace(query, dimsToIndex, metric))
      else null

    @inline private def traversalDist(i: Int): Double =
      if (codes != null) {
        if (stats != null) stats.quantizedCmps += 1
        VectorKernels.hamming(qcode, codes(i)).toDouble
      } else {
        if (stats != null) stats.exactCmps += 1
        reportDist(vectors(i), query)
      }

    @inline private def lt(aId: Int, aD: Double, bId: Int, bD: Double): Boolean =
      aD < bD || (aD == bD && aId < bId)

    private val ord = Ordering.fromLessThan[(Int, Double)]((a, b) => lt(b._1, b._2, a._1, a._2))
    private val visited = new mutable.ArrayBuffer[(Int, Double)](256)
    private val inserted = new java.util.HashSet[Integer](512)
    private val candidates = mutable.PriorityQueue.empty[(Int, Double)](ord)
    private var seeded = false
    // exact distances already computed by earlier advance() rounds: a
    // resumed escalation re-ranks a mostly-overlapping rescore pool, so
    // caching makes "only new work is paid" true for the rescore too —
    // both the recompute and the numExactCmps accounting (the cache is
    // bounded by the visited list, ~L + rescore + k entries)
    private val exactCache = mutable.HashMap.empty[Int, Double]

    private def seed(): Unit = {
      val starts: Seq[Int] =
        if (filterLabels == null) Seq(0)
        else {
          val s = filterLabels.toSeq.flatMap(labelStarts.get).distinct
          if (s.isEmpty) Seq(0) else s
        }
      starts.foreach { s =>
        if (inserted.add(s)) candidates.enqueue((s, traversalDist(s)))
      }
      seeded = true
    }

    /** Extend the traversal to the (k, searchListSize, rescore) budget and
      * return the rescored result — identical to a fresh
      * [[GraphSearcher.search]] at the same parameters. */
    def advance(k: Int, searchListSize: Int, rescore: Int): Array[(Long, Double)] = {
      if (degenerate) return Array.empty
      if (!seeded) seed()
      val preVisited = visited.length
      val l = math.max(searchListSize, k)
      // Consume-driven expansion budget: the reference's streaming scan keeps
      // iterating as the executor pulls results — `consume` pops the nearest
      // visited node, shrinking the list, so `visit_closest(search_list_size)`
      // admits more expansions (scan.rs:209-242, graph/mod.rs:153-170). For k
      // results with a rescore buffer the scan pulls rescore+k-1 candidates,
      // so total exploration reaches ~L + rescore + k - 1 visited nodes. A
      // one-shot batch search must use that same budget or it under-explores
      // vs the reference at identical (L, rescore) parameters.
      val bound = l + (if (rescore > 0) math.max(rescore, k) + k - 1 else k)

      // bounded best-first traversal (greedy_search_iterate,
      // graph/mod.rs:331-385) ordered by (distance, node id): quantized
      // distances are coarse integers, and the reference's
      // DistanceWithTieBreak total order means exploration continues THROUGH
      // a tie at the frontier bound rather than stopping on it
      // (neighbor_with_distance.rs:12-95) — a raw `<` on distance alone stops
      // at the first tie and measurably loses recall on 1-2 bit codes.
      while (candidates.nonEmpty && (visited.length < bound || {
        val h = candidates.head; val b = visited(bound - 1)
        lt(h._1, h._2, b._1, b._2)
      })) {
        val head = candidates.dequeue()
        // binary-search insert position in the (dist, id)-sorted visited list
        var lo = 0
        var hi = visited.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          val v = visited(mid)
          if (lt(v._1, v._2, head._1, head._2)) lo = mid + 1 else hi = mid
        }
        visited.insert(lo, head)
        var e = nbrOff(head._1)
        val end = nbrOff(head._1 + 1)
        while (e < end) {
          val cand = nbrTgt(e)
          if (!inserted.contains(cand)) {
            // in-traversal label skip (sbq/storage.rs:163-172)
            val keep = filterLabels == null ||
              LabelSets.overlaps(labels(cand), filterLabels)
            if (keep) {
              inserted.add(cand)
              candidates.enqueue((cand, traversalDist(cand)))
            }
          }
          e += 1
        }
      }

      // rescore buffer (T2): exact distances for the top candidates. The
      // reference's resort is a streaming refill-then-pop (scan.rs:244-305),
      // so for k results it rescores the first ~rescore+k-1 of the
      // quantized-order stream, not exactly `rescore`. Quantized distances
      // are coarse integers (Hamming over <=2-bit codes) with heavy ties;
      // cutting the pool mid-tie would discard candidates indistinguishable
      // at traversal resolution, so the cut extends through the boundary tie.
      // Cost stays bounded: the pool can never exceed the visited list,
      // whose length is ~searchListSize.
      val eligible = visited.filter { case (id, _) =>
        !tombstoned(rowIds(id)) &&
          (filterLabels == null || LabelSets.overlaps(labels(id), filterLabels))
      }
      val poolSize =
        if (rescore <= 0 || eligible.length <= rescore + k - 1) eligible.length
        else {
          val base = math.max(rescore + k - 1, k)
          val cutDist = eligible(base - 1)._2
          var p = base
          while (p < eligible.length && eligible(p)._2 == cutDist) p += 1
          p
        }
      val out = eligible.iterator
        .take(poolSize)
        .map { case (id, _) =>
          val d = exactCache.getOrElseUpdate(id, {
            if (stats != null) stats.exactCmps += 1
            reportDist(vectors(id), query)
          })
          (rowIds(id), d)
        }
        .toArray
        .sortBy { case (rid, d) => (d, rid) }
      // delta, not total: across resumed rounds the stat accumulates actual
      // NEW work (for a one-shot search the delta IS the total)
      if (stats != null) stats.nodesVisited += visited.length - preVisited
      out
    }
  }
}

package graft.index

import scala.collection.mutable
import graft.functions.Sbq.SbqModel
import graft.functions.VectorKernels

/**
 * Immutable per-shard serving kernel (SURVEY.md §2.6, §3.2): resumable
 * best-first traversal over the frozen graph using cheap quantized Hamming
 * distances (SBQ asymmetric distance, sbq/mod.rs:139-159), followed by exact
 * full-precision rescoring of the top `rescore` candidates
 * (TSVResponseIterator::next_with_resort, scan.rs:244-305).
 *
 * CSR adjacency over primitive arrays; one instance per (index, shard),
 * cached per executor JVM and searched by concurrent tasks, so it holds no
 * per-query state. Each [[ResumableSearch]] owns its traversal state, all of
 * it primitive: the candidate min-heap and the visited list are parallel
 * `Int`/`Double` arrays and membership is an open-addressed set of node ids
 * sized to the traversal, not to the shard, so a step of the hot loop
 * allocates nothing (the reference's `ListSearchResult`, graph/mod.rs:74-185).
 *
 * Start nodes are recomputed deterministically from insert order (node 0 is
 * the default start; the first node carrying each label is that label's
 * start), which keeps the on-disk format to a single nodes table.
 */
final class GraphSearcher(
    val rowIds: Array[Long],
    val vectors: Array[Array[Float]],
    codes: Array[Array[Long]], // null => full-precision traversal (plain storage)
    val labels: Array[Array[Short]], // null => unlabeled index
    nbrOff: Array[Int],
    nbrTgt: Array[Int],
    val metric: Metric,
    val model: SbqModel,
    val dimsToIndex: Int = 0) extends Serializable {

  val n: Int = rowIds.length

  // the traversal reads the code and the labels of nodes in graph order,
  // i.e. at random: one flat code array (node i at i * codeStride) and one
  // label bitmask per node keep each read to one cache line and no pointer
  private val codeStride: Int = if (codes == null || n == 0) 0 else codes(0).length
  private val codeWords: Array[Long] =
    if (codes == null) null
    else {
      val flat = new Array[Long](n * codeStride)
      var i = 0
      while (i < n) {
        require(codes(i).length == codeStride,
          s"node $i: code of ${codes(i).length} words, not $codeStride")
        System.arraycopy(codes(i), 0, flat, i * codeStride, codeStride)
        i += 1
      }
      flat
    }
  private val labelMasks: Array[Long] =
    if (labels == null) null else labels.map(GraphSearcher.labelMask)

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

  /** Candidate result: (rowId, exactDistance). `filterLabels == null` means
    * unfiltered; an empty non-null filter matches nothing (P1 semantics).
    * `reportDist` computes the SQL-visible distance (§4.3 note 1).
    * A null `query` searches the zero vector (labels/mod.rs:214-216).
    * `stats`, when non-null, accumulates scan telemetry (V5, stats.rs:29-283). */
  def search(query0: Array[Float], k: Int, searchListSize: Int, rescore: Int,
      filterLabels: Array[Short], tombstoned: Long => Boolean,
      reportDist: (Array[Float], Array[Float]) => Double,
      stats: SearchStats = null): Array[(Long, Double)] =
    resumable(query0, filterLabels, tombstoned, reportDist, stats)
      .advance(k, searchListSize, rescore)

  /** Open a resumable traversal (the `amgettuple` / TSVResponseIterator
    * analog, scan.rs:162-242): repeated [[ResumableSearch.advance]] calls
    * with growing budgets EXTEND the same best-first frontier instead of
    * re-searching from scratch. NOT thread-safe; one per (query, shard). */
  def resumable(query0: Array[Float], filterLabels: Array[Short],
      tombstoned: Long => Boolean,
      reportDist: (Array[Float], Array[Float]) => Double,
      stats: SearchStats = null): ResumableSearch =
    new ResumableSearch(query0, filterLabels, tombstoned, reportDist, stats)

  /**
   * Stateful best-first traversal. Resumability is EXACT: the traversal's
   * total order on (distance, node id) is deterministic, so the frontier
   * state after budget b1 is precisely the prefix of a fresh budget-b2 run
   * (b2 > b1) — `advance(k2, L2)` therefore returns byte-identical results
   * to a from-scratch search at (k2, L2), while only paying the NEW
   * expansions (the escalation rounds of the residual-recheck scan stop
   * re-paying the whole traversal; `numNodesVisited` accumulates deltas).
   */
  final class ResumableSearch private[GraphSearcher] (query0: Array[Float],
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

    // the quantizer was trained on normalized vectors for cosine indexes
    private val qcode: Array[Long] =
      if (!degenerate && model != null && codeWords != null)
        model.quantize(BuildSpace(query, dimsToIndex, metric))
      else null
    if (qcode != null && qcode.length > codeStride)
      throw new IllegalArgumentException(
        s"query code of ${qcode.length} words exceeds the index's $codeStride")
    private val filterMask: Long =
      if (filterLabels == null) 0L else GraphSearcher.labelMask(filterLabels)

    // vectors are stored RAW; exact traversal (plain storage) orders by the
    // SQL-visible distance, which is ordering-equivalent for all metrics.
    @inline private def traversalDist(i: Int): Double =
      if (codeWords != null) {
        if (stats != null) stats.quantizedCmps += 1
        VectorKernels.hamming(qcode, codeWords, i * codeStride).toDouble
      } else {
        if (stats != null) stats.exactCmps += 1
        reportDist(vectors(i), query)
      }

    @inline private def lt(aId: Int, aD: Double, bId: Int, bD: Double): Boolean =
      aD < bD || (aD == bD && aId < bId)

    // candidate min-heap on (dist, id), 1-based over parallel arrays. Its
    // sift steps are those of the scala.collection.mutable.PriorityQueue it
    // replaced, so even NaN distances (a zero query under cosine over plain
    // storage), where `lt` is no order, pop nodes in the same sequence
    private var heapId = new Array[Int](64)
    private var heapDist = new Array[Double](64)
    private var heapSize = 0
    // visited list in (dist, id) order; `visExact` holds the entry's exact
    // distance once `visHasExact` is set. A resumed escalation re-ranks a
    // mostly-overlapping rescore pool, so keeping these makes "only new work
    // is paid" true for the rescore too, both the recompute and the
    // exactCmps accounting
    private var visId = new Array[Int](64)
    private var visDist = new Array[Double](64)
    private var visExact = new Array[Double](64)
    private var visHasExact = new Array[Boolean](64)
    private var visCount = 0
    // nodes already queued or rejected by the label filter (a rejected node
    // is rejected again on every later sighting, so it is never re-tested):
    // an open-addressed set of id + 1, at most half full and sized from the
    // traversal budget, so a short search on a large shard stays small
    private var seenSlots = new Array[Int](16)
    private var seenCount = 0
    private var seeded = false

    // a table with a slot per node needs no hash: `id` is its own slot
    @inline private def slotOf(id: Int, mask: Int): Int =
      if (mask >= n) id
      else {
        val h = id * 0x9E3779B9
        (h ^ (h >>> 16)) & mask
      }

    /** Add `id` to the seen set; false when it was already there. */
    private def markSeen(id: Int): Boolean = {
      val mask = seenSlots.length - 1
      var at = slotOf(id, mask)
      while (seenSlots(at) != 0) {
        if (seenSlots(at) == id + 1) return false
        at = (at + 1) & mask
      }
      seenSlots(at) = id + 1
      seenCount += 1
      if (2 * seenCount > mask) reserveSeen(seenCount)
      true
    }

    /** Grow the seen set to hold `count` ids at most half full. */
    private def reserveSeen(count: Int): Unit =
      if (2 * count >= seenSlots.length) {
        val old = seenSlots
        seenSlots = new Array[Int](Integer.highestOneBit(2 * count) * 2)
        val mask = seenSlots.length - 1
        var i = 0
        while (i < old.length) {
          if (old(i) != 0) {
            var at = slotOf(old(i) - 1, mask)
            while (seenSlots(at) != 0) at = (at + 1) & mask
            seenSlots(at) = old(i)
          }
          i += 1
        }
      }

    private def push(id: Int, d: Double): Unit = {
      heapSize += 1
      if (heapSize == heapId.length) {
        heapId = java.util.Arrays.copyOf(heapId, heapSize * 2)
        heapDist = java.util.Arrays.copyOf(heapDist, heapSize * 2)
      }
      var k = heapSize
      while (k > 1 && lt(id, d, heapId(k >>> 1), heapDist(k >>> 1))) {
        heapId(k) = heapId(k >>> 1); heapDist(k) = heapDist(k >>> 1)
        k >>>= 1
      }
      heapId(k) = id; heapDist(k) = d
    }

    /** Drop the root (read it from `heapId(1)`/`heapDist(1)` first). */
    private def pop(): Unit = {
      val id = heapId(heapSize); val d = heapDist(heapSize)
      heapSize -= 1
      var k = 1
      var done = false
      while (!done && 2 * k <= heapSize) {
        var j = 2 * k
        if (j < heapSize && lt(heapId(j + 1), heapDist(j + 1), heapId(j), heapDist(j))) j += 1
        if (!lt(heapId(j), heapDist(j), id, d)) done = true
        else {
          heapId(k) = heapId(j); heapDist(k) = heapDist(j)
          k = j
        }
      }
      heapId(k) = id; heapDist(k) = d
    }

    private def insertVisited(id: Int, d: Double): Unit = {
      var lo = 0
      var hi = visCount
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (lt(visId(mid), visDist(mid), id, d)) lo = mid + 1 else hi = mid
      }
      if (visCount == visId.length) {
        visId = java.util.Arrays.copyOf(visId, visCount * 2)
        visDist = java.util.Arrays.copyOf(visDist, visCount * 2)
        visExact = java.util.Arrays.copyOf(visExact, visCount * 2)
        visHasExact = java.util.Arrays.copyOf(visHasExact, visCount * 2)
      }
      val tail = visCount - lo
      System.arraycopy(visId, lo, visId, lo + 1, tail)
      System.arraycopy(visDist, lo, visDist, lo + 1, tail)
      System.arraycopy(visExact, lo, visExact, lo + 1, tail)
      System.arraycopy(visHasExact, lo, visHasExact, lo + 1, tail)
      visId(lo) = id; visDist(lo) = d; visHasExact(lo) = false
      visCount += 1
    }

    private def seed(): Unit = {
      val starts: Seq[Int] =
        if (filterLabels == null) Seq(0)
        else {
          val s = filterLabels.toSeq.flatMap(labelStarts.get).distinct
          if (s.isEmpty) Seq(0) else s
        }
      starts.foreach { s =>
        if (markSeen(s)) push(s, traversalDist(s))
      }
      seeded = true
    }

    /** `LabelSets.overlaps(labels(id), filterLabels)` behind the bitmask
      * test, which rejects most non-matching nodes without reading labels. */
    @inline private def passesFilter(id: Int): Boolean =
      filterLabels == null || ((labelMasks(id) & filterMask) != 0 &&
        LabelSets.overlaps(labels(id), filterLabels))

    @inline private def eligible(id: Int): Boolean =
      !tombstoned(rowIds(id)) && passesFilter(id)

    /** Extend the traversal to the (k, searchListSize, rescore) budget and
      * return the rescored result — identical to a fresh
      * [[GraphSearcher.search]] at the same parameters. */
    def advance(k: Int, searchListSize: Int, rescore: Int): Array[(Long, Double)] = {
      if (degenerate) return Array.empty
      if (!seeded) seed()
      val preVisited = visCount
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
      // a traversal to `bound` sees up to `bound` adjacency lists of nodes
      reserveSeen(math.min(n.toLong, bound.toLong * nbrTgt.length / n).toInt)

      // bounded best-first traversal (greedy_search_iterate,
      // graph/mod.rs:331-385) ordered by (distance, node id): quantized
      // distances are coarse integers, and the reference's
      // DistanceWithTieBreak total order means exploration continues THROUGH
      // a tie at the frontier bound rather than stopping on it
      // (neighbor_with_distance.rs:12-95) — a raw `<` on distance alone stops
      // at the first tie and measurably loses recall on 1-2 bit codes.
      while (heapSize > 0 && (visCount < bound ||
          lt(heapId(1), heapDist(1), visId(bound - 1), visDist(bound - 1)))) {
        val head = heapId(1)
        insertVisited(head, heapDist(1))
        pop()
        var e = nbrOff(head)
        val end = nbrOff(head + 1)
        while (e < end) {
          val cand = nbrTgt(e)
          // in-traversal label skip (sbq/storage.rs:163-172)
          if (markSeen(cand) && passesFilter(cand)) push(cand, traversalDist(cand))
          e += 1
        }
      }

      // rescore buffer (T2): exact distances for the top eligible visited
      // nodes. The reference's resort is a streaming refill-then-pop
      // (scan.rs:244-305), so for k results it rescores the first
      // ~rescore+k-1 of the quantized-order stream, not exactly `rescore`.
      // Quantized distances are coarse integers (Hamming over <=2-bit codes)
      // with heavy ties; cutting the pool mid-tie would discard candidates
      // indistinguishable at traversal resolution, so the cut extends
      // through the boundary tie. Cost stays bounded: the pool can never
      // exceed the visited list, whose length is ~searchListSize.
      val cutAt = if (rescore > 0) math.max(rescore + k - 1, k) else Int.MaxValue
      var pool = new Array[Int](math.min(visCount, 64).max(1))
      var poolSize = 0
      var i = 0
      var cut = false
      while (i < visCount) {
        if (eligible(visId(i))) {
          // past the cut, only the boundary tie still joins the pool
          if (cut && !(visDist(i) == visDist(pool(poolSize - 1)))) i = visCount
          else {
            if (poolSize == pool.length) pool = java.util.Arrays.copyOf(pool, poolSize * 2)
            pool(poolSize) = i
            poolSize += 1
            cut = poolSize >= cutAt
          }
        }
        i += 1
      }
      val out = new Array[(Long, Double)](poolSize)
      var p = 0
      while (p < poolSize) {
        val at = pool(p)
        val id = visId(at)
        if (!visHasExact(at)) {
          if (stats != null) stats.exactCmps += 1
          visExact(at) = reportDist(vectors(id), query)
          visHasExact(at) = true
        }
        out(p) = (rowIds(id), visExact(at))
        p += 1
      }
      java.util.Arrays.sort(out, GraphSearcher.byDistThenRowId)
      // delta, not total: across resumed rounds the stat accumulates actual
      // NEW work (for a one-shot search the delta IS the total)
      if (stats != null) stats.nodesVisited += visCount - preVisited
      out
    }
  }
}

/** Mutable per-call scan telemetry (SURVEY.md §2.8 V5; mirrors the stat sinks
  * of stats.rs:29-283: nodes visited, quantized vs full distance counts). */
final class SearchStats extends Serializable {
  var nodesVisited: Long = 0L
  var quantizedCmps: Long = 0L
  var exactCmps: Long = 0L
  def reset(): Unit = { nodesVisited = 0L; quantizedCmps = 0L; exactCmps = 0L }
}

object GraphSearcher {
  /** Bit `label & 63` per label: two sets that share a label share a bit. */
  private def labelMask(ls: Array[Short]): Long = {
    var m = 0L
    var i = 0
    while (i < ls.length) { m |= 1L << (ls(i) & 63); i += 1 }
    m
  }

  /** Result order of every search path: exact distance (total order, as
    * `java.lang.Double.compare`), then row id. */
  private val byDistThenRowId: java.util.Comparator[(Long, Double)] =
    (a: (Long, Double), b: (Long, Double)) => {
      val c = java.lang.Double.compare(a._2, b._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }

  /** Per-executor cache: shard graphs are immutable, so one decode per JVM
    * serves every query in the executor's lifetime (the Spark analog of the
    * reference keeping index pages in shared buffers). Keys are
    * `path#shard#buildId` — the buildId is a fresh UUID per (re)build written
    * into `_meta`, so after a rebuild every executor naturally misses without
    * any cross-JVM invalidation. [[invalidate]] is only an eager-eviction
    * hygiene hook for the local/same-JVM case. */
  /** Max cached shard graphs per JVM (`spark.graft.maxCachedShards`); at
    * cluster scale an executor may be asked to serve more shards than fit
    * its heap, so eviction is LRU — the analog of the reference sizing its
    * build caches by maintenance_work_mem (neighbor_store.rs:78-97). */
  private def maxEntries: Int =
    try {
      val env = org.apache.spark.SparkEnv.get
      if (env == null) 256 else env.conf.getInt("spark.graft.maxCachedShards", 256)
    } catch { case _: Throwable => 256 }

  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, GraphSearcher](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, GraphSearcher]): Boolean =
        size() > maxEntries
    })

  def getOrBuild(key: String, mk: () => GraphSearcher): GraphSearcher = {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      // build OUTSIDE the map lock so concurrent tasks decode different
      // shards in parallel; a rare duplicate build of the same immutable
      // shard is benign (first put wins)
      val built = mk()
      val prev = cache.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  /** Current number of cached shard graphs in this JVM (ops/test hook). */
  def cachedCount: Int = cache.size()

  /** Cache lookup without building — the serving warm path asks this on the
    * query-issuing JVM to skip the nodes scan for already-decoded shards. */
  def peek(key: String): Option[GraphSearcher] = Option(cache.get(key))

  /** Best-effort same-JVM eviction of stale builds (frees memory promptly in
    * local mode); correctness across executors comes from buildId keying. */
  def invalidate(prefix: String): Unit = cache.synchronized {
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
  }
}

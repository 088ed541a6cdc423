package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.collection.parallel.CollectionConverters._

import graft.index.DiskannIndex

/** Read-only serving on a warm index: interleaved point queries (a quarter
  * label-filtered) and 64-query executor-pool batches, one batch per 16
  * point queries. Every shard stays in the `GraphSearcher` cache. */
object AnnServe {
  val Rows = 8000
  val K = 10
  val L = 100
  val Rescore = 50
  val BatchSize = 64
  val PointsPerBatch = 16
  /** Point queries per nominal second of `--seconds`. */
  val PointsPerSecond = 28
  val WarmPoints = 64
  val WarmBatches = 2
  val RecallGate = 0.9

  type Query = (Array[Float], Array[Short]) // labels null = unfiltered

  def run(ctx: Ctx): Report = {
    import ctx._
    val rep = new Report
    recordSentinel()
    val gen = new Gen(args.seed)
    def query(r: java.util.Random, i: Int): Query =
      (gen.vector(r), if (i % 4 == 3) Array(gen.label(r)) else null)

    val corpus = gen.rows(gen.stream(1), Rows)
    val corpusDir = s"$work/ann_corpus"
    val table = Gen.table(spark, corpusDir, corpus.toIndexedSeq)
    val path = s"$work/ann_index"
    val layers = new Layers(ctx, path, K, L, Rescore)
    log(s"generated $Rows rows")
    val buildS = Serving.build(ctx, layers, gen, table, Rows, labels = true, path)

    val nPoints = PointsPerSecond * args.seconds
    val qr = gen.stream(2)
    val points = Array.tabulate(nPoints)(query(qr, _))
    val br = gen.stream(3)
    val batches = Array.fill(nPoints / PointsPerBatch)(
      Seq.tabulate(BatchSize) { j =>
        val (v, l) = query(br, j)
        (j.toLong, v, l)
      })
    val exact = new Gen.Exact(corpus)
    val truth = points.toSeq.par.map { case (v, l) =>
      exact.topK(v, K, Option(l).map(_(0))) }.seq.toArray
    log(s"exact ground truth for $nPoints queries")

    // warm-up on queries of its own: decodes every shard into the cache,
    // plans the memoized serving RDD and lets the JIT settle
    val wr = gen.stream(4)
    (0 until WarmPoints).foreach { i =>
      val (v, l) = query(wr, i)
      DiskannIndex.searchPoint(spark, path, v, K, L, Rescore, 0, l)
    }
    (0 until WarmBatches).foreach { _ =>
      DiskannIndex.servePointBatch(spark, path,
        Seq.tabulate(BatchSize) { j => val (v, l) = query(wr, j); (j.toLong, v, l) },
        K, L, Rescore, 0)
    }
    val setupS = sinceJvmStart()
    recordSentinel()

    // ---- timed schedule ----
    log("warm; timed schedule starts")
    val pointMs = ArrayBuffer.empty[Double]
    val recall = Array.fill(nPoints)(0.0)
    layers.scheduleStart()
    val s0 = System.nanoTime()
    points.indices.foreach { i =>
      tracer.newRequest()
      val (v, l) = points(i)
      val hits = layers.query(v, l, 0) {
        val t0 = System.nanoTime()
        val h = tracer.span("searchPoint") {
          DiskannIndex.searchPoint(spark, path, v, K, L, Rescore, 0, l)
        }
        pointMs += Stats.ms(t0)
        h
      }
      rep.check(hits.length == K, s"point $i returned ${hits.length} rows")
      val got = hits.map(_._1).toSet
      recall(i) = truth(i).count(got.contains).toDouble / K
      if (i % PointsPerBatch == PointsPerBatch - 1) {
        val batch = batches(i / PointsPerBatch)
        val out = tracer.span("servePointBatch") {
          DiskannIndex.servePointBatch(spark, path, batch, K, L, Rescore, 0)
        }
        val perQ = out.groupBy(_._1).map { case (q, hs) => q -> hs.length }
        batch.foreach { case (q, _, _) =>
          rep.check(perQ.getOrElse(q, 0) == K,
            s"batch ${i / PointsPerBatch} query $q returned ${perQ.getOrElse(q, 0)} rows")
        }
      }
    }
    val scheduleS = (System.nanoTime() - s0) / 1e9
    layers.scheduleEnd()
    recordSentinel()

    def meanRecall(ix: Seq[Int]): Double = ix.map(recall).sum / ix.length
    val (filtered, unfiltered) = recall.indices.partition(points(_)._2 != null)
    val (all, unf) = (meanRecall(recall.indices), meanRecall(unfiltered))
    rep.note("build_s", buildS)
    Serving.put(rep, setupS, pointMs.toSeq, all, scheduleS)
    rep.note("recall_at_10_unfiltered", unf)
    rep.note("recall_at_10_filtered", meanRecall(filtered))
    // reported as measured, never tuned: the reference gates recall@10 at 0.9
    if (all < RecallGate || unf < RecallGate)
      log(f"DEFECT: recall@10 below the reference's $RecallGate gate (all $all%.4f, unfiltered $unf%.4f)")
    for ((name, ix) <- Seq("filtered" -> filtered, "unfiltered" -> unfiltered);
         q <- Seq(50, 90)) rep.note(s"query_p${q}_ms_$name", Stats.quantile(ix.map(pointMs), q / 100.0))
    rep.note("point_samples", nPoints)
    rep.note("batch_samples", batches.length)
    layers.put(rep, buildS, nPoints + batches.length, corpusDir, corpus.map(_._2),
      Rows * Gen.Dim * 4L, Rows)
    rep
  }
}

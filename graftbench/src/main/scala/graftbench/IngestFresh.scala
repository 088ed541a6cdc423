package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.index.DiskannIndex
import graft.streaming.StreamingIngest

/** Writes beside reads on a live index. Every cycle appends a fixed number of
  * batches; after each batch it deletes a fixed number of seeded live rows
  * and issues read-your-writes point queries; each cycle ends with one
  * compaction. Nothing is triggered by time or by a threshold. */
object IngestFresh {
  val Rows = 2000
  val K = 10
  val L = 100
  val Rescore = 50
  val BatchRows = 250
  val DeletesPerBatch = 25
  val ReadsPerBatch = 4
  val BatchesPerCycle = 6
  /** Cycles: one per twenty nominal seconds of `--seconds`, at least one. */
  def cycles(seconds: Int): Int = math.max(1, seconds / 20)

  def run(ctx: Ctx): Report = {
    import ctx._
    import spark.implicits._
    val rep = new Report
    recordSentinel()
    val gen = new Gen(args.seed)
    val initial = gen.rows(gen.stream(1), Rows)
    val vectors = mutable.HashMap.empty[Long, Array[Float]]
    initial.foreach { case (id, v, _) => vectors(id) = v }
    val live = ArrayBuffer.from(initial.map(_._1))
    val corpusDir = s"$work/ingest_corpus"
    val path = s"$work/ingest_index"
    val layers = new Layers(ctx, path, K, L, Rescore)
    val table = Gen.table(spark, corpusDir, initial.toIndexedSeq)
    val buildS = Serving.build(ctx, layers, gen, table, Rows, labels = false, path)

    val sr = gen.stream(5)
    val qr = gen.stream(6)
    var nextId = Rows.toLong
    // warm-up: decode the shards and exercise append, delete and fresh read
    // once; compaction runs the build code the initial build already warmed
    DiskannIndex.searchPoint(spark, path, gen.vector(qr), K)
    val warm = Array.fill(BatchRows) { val id = nextId; nextId += 1; (id, gen.vector(sr)) }
    StreamingIngest.appendBatchToDelta(path)(warm.toSeq.toDF("row_id", "vec"), -1L)
    warm.foreach { case (id, v) => vectors(id) = v; live += id }
    val deleted = mutable.HashSet.empty[Long]
    def deleteSome(): Seq[Long] = {
      val gone = (0 until DeletesPerBatch).map { _ =>
        val j = sr.nextInt(live.length)
        val id = live(j)
        live(j) = live(live.length - 1); live.remove(live.length - 1)
        id
      }
      DiskannIndex.deleteRows(spark, path, gone)
      deleted ++= gone
      gone
    }
    deleteSome()
    (0 until 2).foreach(_ => StreamingIngest.searchPointFresh(spark, path, gen.vector(qr), K))
    var pending = BatchRows
    val setupS = sinceJvmStart()
    recordSentinel()

    // ---- timed schedule ----
    log("warm; timed schedule starts")
    val freshMs = ArrayBuffer.empty[Double]
    val recall = ArrayBuffer.empty[Double]
    var appended = 0L
    var ops = 0L
    layers.scheduleStart()
    val s0 = System.nanoTime()
    (0 until cycles(args.seconds)).foreach { c =>
      (0 until BatchesPerCycle).foreach { b =>
        tracer.newRequest()
        val batch = Array.fill(BatchRows) { val id = nextId; nextId += 1; (id, gen.vector(sr)) }
        val df = batch.toSeq.toDF("row_id", "vec")
        layers.write {
          tracer.span("appendBatchToDelta") {
            StreamingIngest.appendBatchToDelta(path)(df, c * BatchesPerCycle + b)
          }
        }
        batch.foreach { case (id, v) => vectors(id) = v; live += id }
        pending += BatchRows; appended += BatchRows; ops += 1

        val gone = layers.write { tracer.span("deleteRows") { deleteSome() } }
        ops += 1

        val exact = new Gen.Exact(live.iterator.map(id => (id, vectors(id), 0.toShort)).toArray)
        (0 until ReadsPerBatch).foreach { r =>
          // read 0 looks up an appended row, read 1 the vector of a
          // just-deleted row, the rest are fresh draws from the generator
          val (q, expect) = r match {
            case 0 =>
              val (id, v) = batch(sr.nextInt(BatchRows))
              if (deleted.contains(id)) (v, None) else (v, Some(id))
            case 1 => (vectors(gone(0)), None)
            case _ => (gen.vector(qr), None)
          }
          val hits = layers.query(q, null, pending) {
            val f0 = System.nanoTime()
            val h = tracer.span("searchPointFresh") {
              StreamingIngest.searchPointFresh(spark, path, q, K, L, Rescore)
            }
            freshMs += Stats.ms(f0)
            h
          }
          ops += 1
          val ids = hits.map(_._1)
          val truth = exact.topK(q, K, None)
          recall += truth.count(ids.toSet.contains).toDouble / K
          rep.check(hits.length == K && !ids.exists(deleted.contains) &&
            expect.forall(ids.headOption.contains),
            s"fresh read $c/$b/$r: ${hits.length} rows, deleted " +
              s"${ids.filter(deleted.contains).mkString(",")}, top-1 ${ids.headOption} " +
              s"expected ${expect.getOrElse("-")}")
        }
      }
      tracer.newRequest()
      layers.compact {
        tracer.span("compact") { StreamingIngest.compact(spark, path) }
      }
      pending = 0; ops += 1
    }
    val scheduleS = (System.nanoTime() - s0) / 1e9
    layers.scheduleEnd()
    recordSentinel()

    rep.note("build_s", buildS)
    Serving.put(rep, setupS, freshMs.toSeq, recall.sum / recall.length, scheduleS)
    rep.note("fresh_samples", freshMs.length)
    rep.note("rows_appended", appended)
    rep.note("rows_deleted", deleted.size)
    layers.put(rep, buildS, ops, corpusDir, initial.map(_._2),
      (Rows + BatchRows + appended) * Gen.Dim * 4L, live.length)
    rep
  }
}

package graft.index

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.spark.sql.SparkSession

/**
 * Driver-side memo of an index's write-once side directories, `delta/` and
 * `tombstones/`. Their files land under unique names and are never
 * rewritten, so each one is decoded once, on the driver with parquet-mr and
 * no Spark job: a listing change decodes only the files not yet memoized,
 * and entries of files no longer listed are dropped. The assembled value is
 * memoized under the listing fingerprint (names, sizes, mtimes), so a warm
 * read is one listing. A file that vanishes between listing and decode (a
 * compact consumed it, after installing the generation that holds its rows)
 * is skipped and that read is not memoized. Index state only, never query
 * results; an LRU over directories, keyed per application.
 */
private[graft] object WriteOnceFiles {

  type DeltaRow = (Long, Array[Float], Array[Short])

  /** A listed file: its footer row count and, once decoded, its rows. */
  private final case class Entry(len: Long, mtime: Long, rows: Long,
      value: Option[AnyRef]) {
    def of(s: FileStatus): Boolean =
      len == s.getLen && mtime == s.getModificationTime
  }

  private final class Dir {
    var files = Map.empty[String, Entry]
    var assembled: (String, AnyRef) = ("", null)
  }

  private val dirs = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Dir](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Dir]): Boolean = size() > 32
    })

  /** Test seam: runs just before a listed file is opened for decoding. */
  @volatile private[graft] var beforeDecode: Path => Unit = _ => ()

  /** `dir`'s data files (`_`/`.` names skipped); empty when it is absent. */
  def list(spark: SparkSession, dir: String): Array[FileStatus] = {
    val d = new Path(dir)
    try DiskannIndex.fileSystem(spark, d).listStatus(d)
      .filter { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    catch { case _: java.io.FileNotFoundException => Array.empty }
  }

  /** The persisted tombstone set of `indexPath`. */
  def tombstones(spark: SparkSession, indexPath: String): Set[Long] =
    load(spark, s"$indexPath/tombstones", None)(r =>
      decode(r, "row_id") { (n, col) =>
        scalars(col("row_id"), n)(_.getLong, 0L).iterator
      })(_.flatMap(_.iterator).toSet).getOrElse(Set.empty)

  /** The pending delta of `indexPath` as driver rows, null-vector rows
    * dropped and labels normalized (null when a file has no labels column),
    * or None when it is empty. `check` sees the summed footer row count of
    * the listed files before any new file is decoded. */
  def deltaRows(spark: SparkSession, indexPath: String)(
      check: Long => Unit): Option[Array[DeltaRow]] =
    load(spark, s"$indexPath/delta", Some(check))(r =>
      decode(r, "row_id", "vec", "labels") { (n, col) =>
        val ids = scalars(col("row_id"), n)(_.getLong, 0L)
        val vecs = lists(col("vec"), n)(_.getFloat, 0f)
        val lbs = col.lift("labels").map(lists(_, n)(_.getInteger.toShort,
          0.toShort))
        Iterator.range(0, n).filter(vecs(_) != null).map(i => (ids(i),
          vecs(i), lbs.map(l => LabelSets.normalize(l(i))).orNull))
      })(_.flatMap(_.iterator).toArray)

  /** Summed footer row counts of `dir`'s files, each footer read once, or
    * None when nothing is listed. A file gone since the listing counts 0;
    * an unreadable footer throws the IOException and is not memoized. */
  def rowCount(spark: SparkSession, dir: String): Option[Long] = {
    val sts = list(spark, dir)
    lazy val conf = spark.sessionState.newHadoopConf()
    memo(spark, dir, sts).map(d => d.synchronized(rowsOf(d, sts, conf)))
  }

  /** Names of the files memoized for `dir`. */
  private[graft] def memoized(spark: SparkSession, dir: String): Set[String] =
    Option(dirs.get(s"${spark.sparkContext.applicationId}#$dir"))
      .fold(Set.empty[String])(d => d.synchronized(d.files.keySet))

  /** `dir`'s memo with entries for unlisted files dropped; None, and the
    * memo forgotten, when nothing is listed. */
  private def memo(spark: SparkSession, dir: String,
      sts: Array[FileStatus]): Option[Dir] = {
    val key = s"${spark.sparkContext.applicationId}#$dir"
    if (sts.isEmpty) { dirs.remove(key); return None }
    val d = dirs.synchronized(
      Option(dirs.get(key)).getOrElse { val n = new Dir; dirs.put(key, n); n })
    val byName = sts.map(s => s.getPath.getName -> s).toMap
    d.synchronized {
      d.files = d.files.filter { case (n, e) => byName.get(n).exists(e.of) }
    }
    Some(d)
  }

  /** Opens `s` with options over `conf`: the plain `open(InputFile)` builds
    * a fresh Hadoop `Configuration` per file, which is most of its cost. */
  private def open(s: FileStatus, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf),
      HadoopReadOptions.builder(conf).build())

  // `conf` by name: a warm read, every file memoized, builds none
  private def rowsOf(d: Dir, sts: Array[FileStatus], conf: => Configuration) =
    sts.iterator.map { s =>
      val name = s.getPath.getName
      d.files.get(name).fold {
        try {
          val r = open(s, conf)
          val n = try r.getRecordCount finally r.close()
          d.files += name -> Entry(s.getLen, s.getModificationTime, n, None)
          n
        } catch { case _: java.io.FileNotFoundException => 0L }
      }(_.rows)
    }.sum

  /** The assembled value of `dir`'s current files, each decoded once. */
  private def load[F <: AnyRef, A <: AnyRef](spark: SparkSession, dir: String,
      check: Option[Long => Unit])(decodeFile: ParquetFileReader => F)(
      assemble: Iterator[F] => A): Option[A] = {
    val sts = list(spark, dir)
    memo(spark, dir, sts).map(d => d.synchronized {
      lazy val conf = spark.sessionState.newHadoopConf()
      check.foreach(_(rowsOf(d, sts, conf)))
      val fp = sts.map(s =>
          s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|")
      if (d.assembled._1 == fp) d.assembled._2.asInstanceOf[A]
      else {
        val parts = sts.flatMap { s =>
          val name = s.getPath.getName
          d.files.get(name).flatMap(_.value).orElse {
            beforeDecode(s.getPath)
            try {
              val r = open(s, conf)
              try {
                val v = decodeFile(r)
                d.files += name -> Entry(s.getLen, s.getModificationTime,
                  r.getRecordCount, Some(v))
                Some(v)
              } finally r.close()
            } catch { case _: java.io.FileNotFoundException => None }
          }
        }
        val a = assemble(parts.iterator.map(_.asInstanceOf[F]))
        if (parts.length == sts.length) d.assembled = (fp, a)
        a
      }
    })
  }

  /** Decode the named top-level columns of `r`, one row group at a time:
    * `f(rows, col)` gets the group's row count and the reader of each named
    * column the file has, paired with the definition level of its repeated
    * node (0 for a scalar). */
  private def decode[T: ClassTag](r: ParquetFileReader, names: String*)(
      f: (Int, PartialFunction[String, (ColumnReader, Int)]) => Iterator[T])
      : Array[T] = {
    val schema = r.getFileMetaData.getSchema
    val proj = new MessageType(schema.getName,
      names.filter(schema.containsField)
        .map(n => schema.getType(schema.getFieldIndex(n))): _*)
    r.setRequestedSchema(proj)
    val leaves = proj.getColumns.asScala.map { c =>
      val p = c.getPath
      val rep = (1 to p.length).find(i =>
        proj.getType(p.take(i): _*).isRepetition(Type.Repetition.REPEATED))
      require(c.getMaxRepetitionLevel == rep.size &&
        proj.getColumns.asScala.count(_.getPath.head == p.head) == 1,
        s"${p.head}: not a scalar or a list of scalars")
      (p.head, c, rep.fold(0)(i => proj.getMaxDefinitionLevel(p.take(i): _*)))
    }
    val out = mutable.ArrayBuilder.make[T]
    var pages = r.readNextRowGroup()
    while (pages != null) {
      // the store needs a converter tree to build its readers; values are
      // taken from the readers directly, so the converters are never fed
      val store = new ColumnReadStoreImpl(pages,
        new GroupRecordConverter(proj).getRootConverter, proj,
        r.getFileMetaData.getCreatedBy)
      val cols = leaves.map { case (n, c, repDef) =>
        n -> (store.getColumnReader(c), repDef)
      }.toMap
      out ++= f(pages.getRowCount.toInt, cols)
      pages = r.readNextRowGroup()
    }
    out.result()
  }

  /** A scalar column, record by record: [[lists]] with `repDef` 0 makes a
    * one-element list of each value. */
  private def scalars[T: ClassTag](c: (ColumnReader, Int), n: Int)(
      get: ColumnReader => T, zero: T): Array[T] = lists(c, n)(get, zero).map(_(0))

  /** A list column, record by record, in every layout Spark's reader
    * accepts: the 3-level `list`/`element` form, the legacy 2-level `bag`
    * and bare `array` forms, and a bare repeated field. Below the repeated
    * node's definition level `repDef` a record is an empty list, below
    * `repDef - 1` a null one; a null reads as `zero`, which is what Spark's
    * unboxing of a null makes of it. */
  private def lists[T: ClassTag](c: (ColumnReader, Int), n: Int)(
      get: ColumnReader => T, zero: T): Array[Array[T]] = {
    val (cr, repDef) = c
    val maxDef = cr.getDescriptor.getMaxDefinitionLevel
    val out = new Array[Array[T]](n)
    var rec = -1
    var b: mutable.ArrayBuilder[T] = null
    var left = cr.getTotalValueCount
    while (left > 0) {
      val dl = cr.getCurrentDefinitionLevel
      if (cr.getCurrentRepetitionLevel == 0) {
        if (b != null) out(rec) = b.result()
        rec += 1
        b = if (dl >= repDef - 1) mutable.ArrayBuilder.make[T] else null
      }
      if (dl >= repDef) b += (if (dl == maxDef) get(cr) else zero)
      cr.consume()
      left -= 1
    }
    if (b != null) out(rec) = b.result()
    out
  }
}

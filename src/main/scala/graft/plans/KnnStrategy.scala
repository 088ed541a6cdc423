package graft.plans

import scala.collection.concurrent.TrieMap
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit, typedlit}
import graft.functions._
import graft.index.DiskannIndex

/**
 * Planner integration (SURVEY.md §4.1, the analog of `amcanorderbyop` +
 * `amcostestimate` gating): a `SparkStrategy` that recognizes
 *
 *   ORDER BY <vector distance>(indexedCol, literal) [WHERE arrays_overlap(
 *   labelsCol, literal)] LIMIT k
 *
 * over a parquet relation registered in [[KnnCatalog]] and plans it as a
 * [[KnnIndexScanExec]] instead of a full scan + TakeOrdered. Anything that
 * doesn't match exactly — different metric than the index, extra WHERE
 * conjuncts, descending order — falls through to the native plan (the
 * brute-force path stays the always-correct fallback, exactly like Postgres
 * choosing a seq scan when the index cost gate fails).
 *
 * Enable per session with [[Graft.enable]] (experimental.extraStrategies) or
 * at build time via [[GraftExtensions]].
 */
object KnnCatalog {
  case class Entry(indexPath: String, sourcePath: String, idCol: String,
      vecCol: String, labelsCol: Option[String], metric: String)

  private val registry = TrieMap.empty[String, Entry]

  // Hadoop's normal form, the one a scan's relation path is in: `//`
  // collapsed and a trailing `/` dropped
  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toString.replaceFirst("^file:", "")

  def register(sourcePath: String, entry: Entry): Unit =
    registry.put(norm(sourcePath), entry.copy(sourcePath = norm(sourcePath)))

  def lookup(sourcePath: String): Option[Entry] = registry.get(norm(sourcePath))

  def unregister(sourcePath: String): Unit = registry.remove(norm(sourcePath))

  def clear(): Unit = { registry.clear(); names.clear() }

  // SQL-surface index names (CREATE INDEX foo ON ... / DROP INDEX foo):
  // name -> source path, resolved against the path-keyed registry above
  private val names = TrieMap.empty[String, String]

  def registerName(name: String, sourcePath: String): Unit =
    names.put(name, norm(sourcePath))

  def lookupName(name: String): Option[String] = names.get(name)

  def unregisterName(name: String): Unit = names.remove(name)

  /** Drop every name bound to `sourcePath` (DROP INDEX ON '<path>'). */
  def unregisterNamesFor(sourcePath: String): Unit = {
    val p = norm(sourcePath)
    names.filterInPlace { case (_, v) => v != p }
  }

  /** (name, entry) pairs for SHOW GRAFT INDEXES — names sorted; registered
    * entries without a SQL name show as "<unnamed>". */
  def listAll(): Seq[(String, Entry)] = {
    val named = names.toSeq.sorted.flatMap { case (n, src) =>
      registry.get(src).map(n -> _)
    }
    val namedSrcs = named.map(_._2.sourcePath).toSet
    val anonymous = registry.toSeq
      .filterNot { case (src, _) => namedSrcs.contains(src) }
      .sortBy(_._1).map { case (_, e) => "<unnamed>" -> e }
    named ++ anonymous
  }
}

object Graft {
  /** Idempotently enable the vector functions + the KNN planner strategy on
    * an existing session. */
  def enable(spark: SparkSession): Unit = {
    VectorFunctions.register(spark)
    graft.operators.TextAnalysis.register(spark)
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[KnnStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ new KnnStrategy(spark)
  }

  /**
   * The `CREATE INDEX ... USING diskann` analog in one call: build the
   * DiskANN index over a parquet source, register it for planner rewrites,
   * and enable the strategy — after this, plain
   * `ORDER BY <dist>(vecCol, q) LIMIT k` SQL/DataFrame queries over the
   * source are served by the index.
   */
  def createIndex(spark: SparkSession, sourcePath: String, idCol: String,
      vecCol: String, indexPath: String, labelsCol: Option[String] = None,
      params: graft.index.DiskannParams = graft.index.DiskannParams()): Unit = {
    graft.index.DiskannIndex.build(spark.read.parquet(sourcePath), idCol,
      vecCol, labelsCol, indexPath, params)
    KnnCatalog.register(sourcePath, KnnCatalog.Entry(indexPath, sourcePath,
      idCol, vecCol, labelsCol, params.metric))
    enable(spark)
  }

  /** `DROP INDEX` analog: unregister (queries fall back to brute force) and
    * optionally delete the index files — via Hadoop FS, so HDFS/S3 index
    * paths delete the same as local ones. */
  def dropIndex(sourcePath: String, deleteFiles: Boolean = false): Unit = {
    val entry = KnnCatalog.lookup(sourcePath)
    KnnCatalog.unregister(sourcePath)
    entry.foreach { e =>
      if (deleteFiles) {
        val p = new org.apache.hadoop.fs.Path(e.indexPath)
        val conf = org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
          .map(_.sessionState.newHadoopConf())
          .getOrElse(new org.apache.hadoop.conf.Configuration())
        p.getFileSystem(conf).delete(p, true)
      }
      graft.index.GraphSearcher.invalidate(e.indexPath)
      KnnCost.invalidate(e.indexPath)
    }
  }
}

/** Builder-time variant: `SparkSession.builder().withExtensions(new GraftExtensions)`
  * (or `spark.sql.extensions=graft.plans.GraftExtensions`): injects the KNN
  * planner strategy AND the whole SQL function surface. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(spark => new KnnStrategy(spark))
    ext.injectParser((s, delegate) => new GraftSqlParser(delegate, Option(s)))
    VectorFunctions.injectInto(ext)
    graft.operators.TextAnalysis.injectInto(ext)
    TextIndexTvf.injectInto(ext)
    WarcTvf.injectInto(ext)
  }
}

/**
 * Planner-side row-count cache for the cost gate: one tiny meta read per
 * index per JVM (re-read after [[GraphSearcher.invalidate]]-style churn is
 * unnecessary — the gate only needs the order of magnitude, and compaction
 * changes numRows by the delta size, not the magnitude).
 */
object KnnCost {
  private val rows = TrieMap.empty[String, Long]

  def indexedRows(spark: SparkSession, indexPath: String): Option[Long] =
    try Some(rows.getOrElseUpdate(indexPath,
      DiskannIndex.loadMeta(spark, indexPath).numRows))
    catch { case _: Throwable => None }

  def invalidate(indexPath: String): Unit = rows.remove(indexPath)
  def clear(): Unit = rows.clear()
}

class KnnStrategy(spark: SparkSession) extends SparkStrategy {

  private def metricOf(e: Expression): Option[(String, Expression, Expression)] = e match {
    case VectorCosineDistance(l, r) => Some(("cosine", l, r))
    case VectorL2(l, r) => Some(("l2", l, r))
    case VectorL2Sq(l, r) => Some(("l2", l, r))
    case VectorNegDot(l, r) => Some(("ip", l, r))
    case _ => None
  }

  private def relationPath(plan: LogicalPlan): Option[(LogicalRelation, String)] = plan match {
    case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.headOption.map(p => (lr, p.toString))
    case _ => None
  }

  private def evalFloatArray(e: Expression): Option[Array[Float]] =
    if (!e.foldable) None
    else e.eval(InternalRow.empty) match {
      case a: ArrayData => Some(a.toFloatArray())
      case _ => None
    }

  private def evalShortArray(e: Expression): Option[Array[Short]] =
    if (!e.foldable) None
    else e.eval(InternalRow.empty) match {
      case a: ArrayData => Some(a.toShortArray())
      case _ => None
    }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // the planner hands strategies ReturnAnswer(root) first and SpecialLimits
    // would otherwise claim the whole Limit+Sort — unwrap and retry
    case ReturnAnswer(child) => apply(child)
    case Limit(IntegerLiteral(k), Sort(orders, true, inner, _)) =>
      planKnn(k, orders, inner, None).toSeq
    case Limit(IntegerLiteral(k), Project(projList, Sort(orders, true, inner, _))) =>
      planKnn(k, orders, inner, Some(projList)).toSeq
    // the RADIUS shape (pgvector's iterative index scans): WHERE
    // <dist>(col, lit) <= r with NO LIMIT. Sort/aggregates above plan
    // natively over this node through planLater, but a Project must be
    // matched HERE — FileSourceStrategy otherwise claims the whole
    // Project+Filter+Relation unit and the bare Filter is never offered.
    case Filter(cond, rel: LogicalRelation) =>
      planRange(cond, rel, None).toSeq
    case Project(ps, Filter(cond, rel: LogicalRelation))
        if ps.forall(p => p.deterministic &&
          !p.exists(_.isInstanceOf[PlanExpression[_]])) =>
      planRange(cond, rel, Some(ps)).toSeq
    case _ => Nil
  }

  /**
   * Plan `Filter(... AND dist(vecCol, qlit) <= r AND ..., relation)` as a
   * radius index scan ([[KnnRangeScanExec]], backed by
   * [[DiskannIndex.rangeSearch]]'s escalate-until-stable contract) with the
   * ENTIRE original predicate re-checked by a FilterExec above — the scan is
   * a superset generator (its radius gets a hair of slack for the float
   * boundary), so correctness never rests on the traversal, only
   * completeness does, and that is rangeSearch's own contract. Pending
   * micro-batch appends are served by the scan itself (the
   * [[graft.streaming.StreamingIngest.rangeSearchFresh]] delta merge), so
   * freshness never forces the native plan. Falls back to the native scan
   * only when: no single distance-threshold conjunct, unknown
   * relation/metric/column, or residual conjuncts that cannot be
   * re-evaluated (non-deterministic / subqueries).
   */
  private def planRange(cond: Expression, rel: LogicalRelation,
      projList: Option[Seq[NamedExpression]]): Option[SparkPlan] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    val conjuncts = split(cond)
    def evalDouble(e: Expression): Option[Double] =
      if (!e.foldable) None
      else e.eval(InternalRow.empty) match {
        case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
        case n: java.lang.Number => Some(n.doubleValue())
        case _ => None
      }
    // the single `dist <= r` conjunct (either operand order; strict `<` is
    // served by the same <= superset). VectorL2Sq thresholds translate to
    // the scan's TRUE-L2 report distance via sqrt.
    val thresholds = conjuncts.flatMap { c =>
      val unwrapped = c match {
        case LessThanOrEqual(de, r) if r.foldable => Some((de, r))
        case LessThan(de, r) if r.foldable => Some((de, r))
        case GreaterThanOrEqual(r, de) if r.foldable => Some((de, r))
        case GreaterThan(r, de) if r.foldable => Some((de, r))
        case _ => None
      }
      for {
        (de, rl) <- unwrapped
        (metric, lhs, rhs) <- metricOf(de)
        r <- evalDouble(rl)
      } yield (c, de, metric, lhs, rhs, r)
    }
    thresholds match {
      case Seq((_, de, metric, lhs, rhs, r)) =>
        for {
          (lr, path) <- relationPath(rel)
          entry <- KnnCatalog.lookup(path)
          if entry.metric == metric
          _ <- lhs match {
            case a: AttributeReference if a.name == entry.vecCol => Some(a)
            case _ => None
          }
          qvec <- evalFloatArray(rhs)
          if conjuncts.forall(c => c.deterministic &&
            c.references.subsetOf(rel.outputSet) &&
            !c.exists(_.isInstanceOf[PlanExpression[_]]))
        } yield {
          val reportRadius = de match {
            case _: VectorL2Sq => if (r < 0) r else math.sqrt(r)
            case _ => r
          }
          // slack for the float boundary: the recheck above is exact, the
          // scan only needs to be a superset
          val scanRadius = reportRadius + 1e-9 * (1.0 + math.abs(reportRadius))
          val overlapInfo = conjuncts.collect {
            case ArraysOverlap(a: AttributeReference, rhs2) =>
              evalShortArray(rhs2).map(ls => (a, ls))
            case ArraysOverlap(rhs2, a: AttributeReference) =>
              evalShortArray(rhs2).map(ls => (a, ls))
          }.flatten
          val filterLabels = overlapInfo match {
            case Seq((a, ls)) if entry.labelsCol.contains(a.name) => Some(ls)
            case _ => None
          }
          // with a Project above, the scan (and its heap fetch) prunes to
          // the columns the predicate + projection actually read; a bare
          // Filter must emit the relation's full output (its parent plans
          // against that schema)
          val scanAttrs: Seq[AttributeReference] = projList match {
            case Some(ps) =>
              val refs = AttributeSet(
                ps.flatMap(_.references) ++ conjuncts.flatMap(_.references))
              lr.output.filter(refs.contains)
                .map(_.asInstanceOf[AttributeReference])
            case None => lr.output.map(_.asInstanceOf[AttributeReference])
          }
          val scan = KnnRangeScanExec(scanAttrs, spark, entry, qvec,
            scanRadius, filterLabels, rangeExpr = de)
          val filtered = FilterExec(cond, scan)
          projList match {
            case Some(ps) => ProjectExec(ps, filtered)
            case None => filtered
          }
        }
      case _ => None
    }
  }

  private def planKnn(k: Int, orders: Seq[SortOrder], inner0: LogicalPlan,
      projList: Option[Seq[NamedExpression]]): Option[SparkPlan] = {
    if (orders.length != 1 || orders.head.direction != Ascending) return None

    // Peel at most one Project and at most one Filter below the Sort. The
    // Project may carry COMPUTED columns — `SELECT id, round(dist_fn(...))
    // AS dist ... ORDER BY dist_fn(...)` analyzes to exactly that shape
    // (the computed alias plus the sort column passed through) — as long as
    // every expression is deterministic and subquery-free; it is re-applied
    // as a ProjectExec above the scan's k rows. The filter splits into
    // (a) the ONE arrays_overlap(labelsCol, literal) conjunct the index
    // answers natively (P1 — the reference's amrescan likewise asserts at
    // most one label key, scan.rs:344) and (b) everything else, which
    // becomes a RESIDUAL predicate re-checked above the scan with an
    // over-fetch loop (P4 / xs_recheck: the executor keeps pulling until
    // LIMIT is satisfied; here the scan escalates k until enough survivors).
    var cur = inner0
    var innerProj: Option[Seq[NamedExpression]] = None
    var filterConjuncts: Seq[Expression] = Nil
    var sawFilter = false
    var ok = true
    var done = false
    while (ok && !done) cur match {
      case Project(ps, child) if innerProj.isEmpty &&
          ps.forall(p => p.deterministic &&
            !p.exists(_.isInstanceOf[PlanExpression[_]])) =>
        innerProj = Some(ps)
        cur = child
      case Filter(cond, child) if !sawFilter =>
        def split(e: Expression): Seq[Expression] = e match {
          case And(l, r) => split(l) ++ split(r)
          case other => Seq(other)
        }
        filterConjuncts = split(cond)
        sawFilter = true
        cur = child
      case _: LogicalRelation => done = true
      case _ => ok = false
    }
    if (!ok) return None
    // attribute-only inner Project = pure column pruning (scan output
    // narrows, no re-projection); anything computed re-projects above
    val innerAttrsOnly: Option[Seq[AttributeReference]] =
      innerProj.filter(_.forall(_.isInstanceOf[AttributeReference]))
        .map(_.map(_.asInstanceOf[AttributeReference]))
    val innerComputed = innerProj.isDefined && innerAttrsOnly.isEmpty

    for {
      (metric, lhs, rhs) <- metricOf(orders.head.child)
      (lr, path) <- relationPath(cur)
      entry <- KnnCatalog.lookup(path)
      if entry.metric == metric
      attr <- lhs match {
        case a: AttributeReference if a.name == entry.vecCol => Some(a)
        case _ => None
      }
      qvec <- evalFloatArray(rhs)
      // cost gate (the amcostestimate analog, cost_estimate.rs:6-50): the
      // reference prices the index path at numIndexTuples = tuples/100;
      // here, once LIMIT k reaches a configurable fraction of the indexed
      // row count, graph traversal + k point-fetches can't beat the native
      // scan + TakeOrdered (which reads every row ONCE, distributed), so
      // fall through to it. Unknown row count (unreadable meta) => no gate.
      if KnnCost.indexedRows(spark, entry.indexPath).forall { n =>
        val frac = spark.conf.get("graft.knn.maxKFraction", "0.1").toDouble
        k < math.max(1L, (n * frac).toLong)
      }
      // the residual is re-evaluated row-at-a-time inside the scan's
      // over-fetch loop, so it must be deterministic, subquery-free, and
      // bound entirely to the relation's columns — anything else falls
      // back to the native plan
      if filterConjuncts.forall(c => c.deterministic &&
        c.references.subsetOf(cur.outputSet) &&
        !c.exists(_.isInstanceOf[PlanExpression[_]]))
    } yield {
      // pick the index-native label conjunct: exactly one arrays_overlap,
      // and only when it targets the column the index was built with —
      // anything else (AND of overlaps, overlap on another array column,
      // arbitrary predicates) stays in the residual and is re-checked
      val overlapInfo = filterConjuncts.collect {
        case o @ ArraysOverlap(a: AttributeReference, rhs2) =>
          evalShortArray(rhs2).map(ls => (o, a, ls))
        case o @ ArraysOverlap(rhs2, a: AttributeReference) =>
          evalShortArray(rhs2).map(ls => (o, a, ls))
      }.flatten
      val (filterLabels, residualConjuncts) = overlapInfo match {
        case Seq((o, a, ls)) if entry.labelsCol.contains(a.name) =>
          // drop the claimed overlap and the IsNotNull(labels) Catalyst
          // infers from it (the index already excludes null-label rows)
          (Some(ls), filterConjuncts.filterNot {
            case c if c eq o => true
            case IsNotNull(ar: AttributeReference) => ar.exprId == a.exprId
            case _ => false
          })
        case _ => (None, filterConjuncts)
      }
      val residual = residualConjuncts.reduceOption(And)

      residual match {
        case None =>
          val scanAttrs: Seq[AttributeReference] =
            if (innerComputed) {
              // prune the scan to the columns the re-applied Project reads
              val refs = AttributeSet(innerProj.get.flatMap(_.references))
              lr.output.filter(refs.contains)
                .map(_.asInstanceOf[AttributeReference])
            } else innerAttrsOnly
              .getOrElse(lr.output.map(_.asInstanceOf[AttributeReference]))
          val exec = KnnIndexScanExec(scanAttrs, spark, entry, qvec, k,
            filterLabels, sortExpr = orders.head.child)
          val reProjected: SparkPlan =
            if (innerComputed) ProjectExec(innerProj.get, exec) else exec
          projList match {
            case Some(pl) => ProjectExec(pl, reProjected)
            case None => reProjected
          }
        case Some(cond) =>
          // over-fetch plan: scan emits ALL fetched columns in distance order
          // (escalating k internally until >= k residual survivors), the
          // residual FilterExec re-checks exactly, the computed inner Project
          // (if any) re-applies, and Spark's own TakeOrderedAndProject
          // applies the final sort+limit+projection
          val fullAttrs = lr.output.map(_.asInstanceOf[AttributeReference])
          val exec = KnnIndexScanExec(fullAttrs, spark, entry, qvec, k,
            filterLabels, sortExpr = orders.head.child, residual = Some(cond))
          val filtered = FilterExec(cond, exec)
          val above: SparkPlan =
            if (innerComputed) ProjectExec(innerProj.get, filtered) else filtered
          val projectOut: Seq[NamedExpression] = projList.getOrElse(
            if (innerComputed) innerProj.get.map(_.toAttribute)
            else innerAttrsOnly.getOrElse(fullAttrs))
          org.apache.spark.sql.execution.TakeOrderedAndProjectExec(
            k, orders, projectOut, above)
      }
    }
  }
}

/**
 * Heap-access plumbing shared by the top-k and radius scan nodes — ONE
 * definition of "fetch these ids from the source relation" and of the
 * exact brute-force bail-out, so the tombstone mask / isin-pushdown /
 * broadcast-join disciplines can never drift between the two paths.
 */
private[plans] object HeapFetch {

  /** The pushed-down source scan both fetch shapes build on: an IN
    * point-fetch while the id list is small (PushedFilters reaches the
    * parquet footer), a plain pruned scan past that — the join above then
    * restricts it (never an isin over tens of thousands of boxed
    * literals, which blows up planning). */
  private def pushedSrc(spark: SparkSession, entry: KnnCatalog.Entry,
      fetchCols: Seq[String], ids: Seq[Long], pushdownLimit: Int): DataFrame = {
    var src = spark.read.parquet(entry.sourcePath)
      .select(fetchCols.map(col): _*)
    if (ids.length <= pushdownLimit)
      src = src.filter(col(entry.idCol).isin(ids.map(Long.box): _*))
    src
  }

  /** The hit ids' source rows (schema = fetchCols), via broadcast semi-join. */
  def byIds(spark: SparkSession, entry: KnnCatalog.Entry,
      fetchCols: Seq[String], ids: Seq[Long], pushdownLimit: Int): DataFrame = {
    import spark.implicits._
    pushedSrc(spark, entry, fetchCols, ids, pushdownLimit)
      .join(
        org.apache.spark.sql.functions.broadcast(ids.toDF("__hit_id")),
        col(entry.idCol) === col("__hit_id"), "left_semi")
      .select(fetchCols.map(col): _*)
  }

  /** As [[byIds]] but with each row's distance RANK attached as `__rank`
    * (schema = fetchCols :+ __rank) — the residual scan's survivor probe
    * ranks on it executor-side. */
  def byIdsWithRank(spark: SparkSession, entry: KnnCatalog.Entry,
      fetchCols: Seq[String], pairs: Seq[(Long, Int)],
      pushdownLimit: Int): DataFrame = {
    import spark.implicits._
    pushedSrc(spark, entry, fetchCols, pairs.map(_._1), pushdownLimit)
      .join(
        org.apache.spark.sql.functions.broadcast(
          pairs.toDF("__hit_id", "__rank")),
        col(entry.idCol) === col("__hit_id"))
      .select(fetchCols.map(col) :+ col("__rank"): _*)
  }

  /** Exact distributed bail-out: every row the index could ever serve —
    * null vectors dropped, tombstones masked (the heap may physically hold
    * them, like un-vacuumed dead tuples), the claimed label filter applied
    * when the index is labeled. Callers re-check the real predicate above,
    * so this only has to be a superset of the index-servable rows. */
  def bruteScan(spark: SparkSession, entry: KnnCatalog.Entry,
      wantCols: Seq[String], tombs: Set[Long],
      filterLabels: Option[Array[Short]]): DataFrame = {
    import spark.implicits._
    // filters run BEFORE the projection: wantCols may be pruned past the
    // vector/label columns the masks read (Catalyst pushes them into the
    // scan either way)
    var src = spark.read.parquet(entry.sourcePath)
      .filter(col(entry.vecCol).isNotNull)
    (filterLabels, entry.labelsCol) match {
      case (Some(ls), Some(lc)) =>
        src = src.filter(org.apache.spark.sql.functions.arrays_overlap(
          col(lc), typedlit(ls).cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.ShortType))))
      case _ =>
    }
    if (tombs.nonEmpty)
      src = src.join(
        org.apache.spark.sql.functions.broadcast(
          tombs.toSeq.toDF("__tomb_id")),
        col(entry.idCol) === col("__tomb_id"), "left_anti")
    src.select(wantCols.map(col): _*)
  }
}

/**
 * Physical ANN top-k scan (the `amgettuple` analog, SURVEY.md §2.1 S2/S3):
 * searches the registered DiskANN index for the k nearest row ids, then
 * fetches those rows from the source relation (the heap-fetch S5 — a
 * k-row pushed-down IN-filter scan, not a full table read) and emits them
 * in exact distance order.
 *
 * FRESHNESS (G9/V1 parity with the reference's live index): the scan
 * routes through [[graft.streaming.StreamingIngest.searchFresh]], so
 * micro-batch appends in the index's `delta/` are visible immediately —
 * the reference's `aminsert` writes into the live graph the next
 * `amgettuple` traverses (build.rs:464-535) — and rows registered in the
 * persistent tombstone registry ([[DiskannIndex.deleteRows]]) are never
 * emitted, pre-compact, matching the vacuumed-row skip (scan.rs:229-235).
 * Contract: the source relation is the heap — delta-appended rows must
 * exist in it (they are fetched by id), and tombstoned rows may remain in
 * it (they are masked on every index-served path, including the
 * brute-force bail-out).
 */
case class KnnIndexScanExec(outAttrs: Seq[AttributeReference], spark: SparkSession,
    entry: KnnCatalog.Entry, queryVec: Array[Float], k: Int,
    filterLabels: Option[Array[Short]], sortExpr: Expression,
    residual: Option[Expression] = None)
    extends LeafExecNode {

  import org.apache.spark.sql.execution.metric.SQLMetrics

  override def output: Seq[Attribute] = outAttrs

  // scan telemetry (V5, stats.rs:29-283 / end_scan scan.rs:458-476), surfaced
  // in the Spark SQL UI like any other physical operator's metrics
  override lazy val metrics = Map(
    "numNodesVisited" -> SQLMetrics.createMetric(sparkContext, "graph nodes visited"),
    "numQuantizedCmps" -> SQLMetrics.createMetric(sparkContext, "quantized distance comparisons"),
    "numExactCmps" -> SQLMetrics.createMetric(sparkContext, "exact distance comparisons"),
    "numHeapFetches" -> SQLMetrics.createMetric(sparkContext, "source rows fetched"),
    "numEscalationRounds" -> SQLMetrics.createMetric(sparkContext,
      "residual over-fetch rounds"))

  override def doExecute(): RDD[InternalRow] = {
    // ONE read of the search parameters for the whole execution: searchK
    // and the resumable escalation rounds must use identical values or the
    // warm/cold byte-equality of the escalation breaks
    val searchList = spark.conf.get("graft.knn.searchListSize", "100").toInt
    val rescore = spark.conf.get("graft.knn.rescore", "50").toInt
    val nProbe = spark.conf.get("graft.knn.nprobe", "0").toInt
    val sMetrics = Some(DiskannIndex.SearchMetrics(
      longMetric("numNodesVisited"), longMetric("numQuantizedCmps"),
      longMetric("numExactCmps")))

    import spark.implicits._
    var queries = Seq((0L, queryVec)).toDF("qid", "qvec")
    filterLabels.foreach { ls =>
      queries = queries.withColumn("qlabels",
        typedlit(ls).cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ShortType)))
    }
    // the delta-and-tombstone-aware search: appends visible, deletes masked
    def searchK(kk: Int): Array[org.apache.spark.sql.Row] =
      graft.streaming.StreamingIngest.searchFresh(spark, entry.indexPath,
        queries, kk, math.max(searchList, kk), rescore, metrics = sMetrics,
        nProbe = nProbe).collect()

    // heap fetch (S5): a k-row IN-filter scan of the source relation, with
    // the projection pruned to this node's output columns (+ the id)
    val wantCols = outAttrs.map(_.name)
    val fetchCols = if (wantCols.contains(entry.idCol)) wantCols
      else wantCols :+ entry.idCol
    val idIdx = fetchCols.indexOf(entry.idCol)

    residual match {
      case None =>
        // exactly k ids via the shared fetch (pushed-down IN while small,
        // broadcast semi-join past that); k rows on the driver are free
        def fetchRanked(hits: Array[org.apache.spark.sql.Row]): Array[InternalRow] = {
          val rank: Map[Long, Int] = hits.sortBy(r => (r.getDouble(2), r.getLong(1)))
            .zipWithIndex.map { case (r, i) => r.getLong(1) -> i }.toMap
          val pushdownLimit =
            spark.conf.get("graft.knn.residual.pushdownLimit", "1024").toInt
          HeapFetch.byIds(spark, entry, fetchCols, rank.keys.toSeq,
              pushdownLimit)
            .queryExecution.toRdd.map(_.copy()).collect()
            .sortBy(r => rank.getOrElse(r.getLong(idIdx), Int.MaxValue))
        }
        val nOut = wantCols.length
        val fetched = fetchRanked(searchK(k)).take(k)
        longMetric("numHeapFetches").add(fetched.length)
        val emitted: Seq[InternalRow] = fetched.map { r =>
          if (fetchCols.length == nOut) r
          else InternalRow.fromSeq((0 until nOut).map(i => r.get(i, outAttrs(i).dataType)))
        }.toSeq
        sparkContext.parallelize(emitted, 1)

      case Some(cond) =>
        residualExecute(cond, searchK, wantCols, fetchCols,
          searchList, rescore, nProbe, sMetrics)
    }
  }

  /**
   * Distributed residual-recheck scan (P4 / xs_recheck, the "executor keeps
   * pulling" over-fetch loop of scan.rs:370-405) — rebuilt so nothing
   * table-sized ever touches the driver:
   *
   *  - per round only the ANN hit list reaches the driver: kk (id, dist)
   *    pairs, kk hard-capped by `graft.knn.residual.maxOverfetch`;
   *  - the heap fetch of those kk source rows is a BROADCAST JOIN on the id
   *    (a pushed-down IN point-fetch only while kk is small) — never an
   *    `isin` over kk boxed literals;
   *  - the survivor probe is distributed: a codegen'd predicate filters the
   *    fetched rows executor-side and only the k smallest distance-ranks
   *    (`takeOrdered(k)`, the classic distributed top-k) return;
   *  - stopping is safe when the k-th survivor ranks in the TOP HALF of the
   *    fetch (ANN order is least reliable at the deep frontier end);
   *  - escalation is CAPPED (`maxRounds` / `maxOverfetch`); past the cap the
   *    node bails out to the native brute-force shape — the full distributed
   *    source scan, exactly the seq-scan fallback Postgres takes when the
   *    index cost gate fails (cost_estimate.rs:6-50). Since the FilterExec +
   *    TakeOrderedAndProject above this node re-check the predicate and
   *    re-sort anyway, the bail-out answer is EXACT.
   */
  private def residualExecute(cond: Expression,
      searchK: Int => Array[org.apache.spark.sql.Row],
      wantCols: Seq[String], fetchCols: Seq[String],
      searchList: Int, rescoreN: Int, nProbe: Int,
      sMetrics: Option[DiskannIndex.SearchMetrics]): RDD[InternalRow] = {
    val maxRounds = spark.conf.get("graft.knn.residual.maxRounds", "3").toInt
    val maxOverfetch = spark.conf.get("graft.knn.residual.maxOverfetch", "65536").toInt
    val pushdownLimit = spark.conf.get("graft.knn.residual.pushdownLimit", "1024").toInt

    val colIdx = fetchCols.zipWithIndex.toMap
    val bound = cond.transform {
      case a: AttributeReference =>
        BoundReference(colIdx(a.name), a.dataType, a.nullable)
    }
    val rankOrd = fetchCols.length
    // freshness state for this execution: pending delta appends force the
    // per-round delta-merging search (the resumable frontier walks the main
    // graph only); persisted tombstones feed the traversal's skip predicate
    val hasDelta =
      graft.streaming.StreamingIngest.hasDelta(spark, entry.indexPath)
    val freshTombs = DiskannIndex.loadTombstones(spark, entry.indexPath)
    // the delta term is its EXACT row count from parquet footers (O(#files)
    // driver metadata) — added OUTSIDE the label min because labelstats only
    // cover the built graph, and a delta row with a matching label is
    // returnable too. ORDER MATTERS: the delta is counted FIRST, before the
    // labelstats and generation row count are read, so a compact landing in
    // between can only make `total` an OVER-count (delta counted + new
    // meta/labelstats already containing those rows) — the safe direction
    // for an exhaustion bound. The reverse order undercounts: old
    // meta/labelstats (delta rows absent) + delta files already consumed =
    // 0, and the scan would stop escalating while matching rows exist.
    val deltaRows: Long =
      if (hasDelta)
        graft.streaming.StreamingIngest.deltaRowCount(spark, entry.indexPath)
      else 0L
    // LABEL-SELECTIVITY-AWARE exhaustion bound (the reference's contsel
    // hook, mod.rs:243-256, re-expressed): a labeled traversal can never
    // return more nodes than carry one of the query labels, so the stored
    // per-label counts (labelstats, written at build) bound `total` — a
    // selective label exhausts in round 1 instead of escalating through
    // the ladder just to discover the population was tiny. Σ counts is an
    // upper bound on the union population, so the shortcut is never unsafe.
    val labelPop: Option[Long] = filterLabels.flatMap(ls =>
      DiskannIndex.labelCounts(spark, entry.indexPath).map { m =>
        ls.map(l => m.getOrElse(l, 0L)).sum
      })
    val total = math.min(
      labelPop.getOrElse(Long.MaxValue),
      DiskannIndex.loadMeta(spark, entry.indexPath).numRows) + deltaRows
    val cap = math.max(k.toLong, math.min(total, maxOverfetch.toLong))
      .min(Int.MaxValue).toInt

    // Resumable escalation (the amgettuple / TSVResponseIterator analog,
    // scan.rs:162-242): when every needed shard is warm in this JVM, each
    // round EXTENDS the same best-first frontier, so a 2-round escalation
    // visits ~bound(kk2) nodes, not bound(kk1)+bound(kk2). A cold index
    // pays the normal distributed search exactly once (round 1, which also
    // warms the local cache) and resumes from round 2 on. With a pending
    // delta the resumable path stays off for the whole execution — the
    // pre-compact window where per-round re-search is the correct price.
    var resumable: Option[DiskannIndex.ResumableScanHandle] =
      if (hasDelta) None
      else DiskannIndex.openResumableScan(spark, entry.indexPath, queryVec,
        filterLabels.orNull, tombstones = freshTombs, metrics = sMetrics,
        nProbe = nProbe)
    def searchRound(kk: Int): Array[org.apache.spark.sql.Row] =
      resumable match {
        case Some(h) => h.topK(kk, math.max(searchList, kk), rescoreN)
        case None =>
          val hits = searchK(kk)
          if (!hasDelta)
            resumable = DiskannIndex.openResumableScan(spark, entry.indexPath,
              queryVec, filterLabels.orNull, tombstones = freshTombs,
              metrics = sMetrics, nProbe = nProbe)
          hits
      }

    // the kk fetched rows with their distance rank attached, fully
    // distributed — through the shared HeapFetch discipline
    def fetchedWithRank(hits: Array[org.apache.spark.sql.Row]): DataFrame = {
      val pairs = hits.sortBy(r => (r.getDouble(2), r.getLong(1)))
        .zipWithIndex.map { case (r, i) => (r.getLong(1), i) }
      HeapFetch.byIdsWithRank(spark, entry, fetchCols, pairs.toSeq,
        pushdownLimit)
    }

    var kk = math.min(cap.toLong, math.max(k * 4L, 64L)).toInt
    var round = 0
    var out: RDD[InternalRow] = null
    var bail = false
    while (out == null && !bail) {
      round += 1
      longMetric("numEscalationRounds").add(1)
      val hits = searchRound(kk)
      val fetched = fetchedWithRank(hits)
      val b = bound
      val ro = rankOrd
      val survivorRanks = fetched.queryExecution.toRdd
        .mapPartitionsWithIndex { (pi, it) =>
          val pred = Predicate.create(b)
          pred.initialize(pi)
          it.filter(pred.eval).map(_.getInt(ro))
        }.takeOrdered(k)
      val exhausted = hits.length < kk || kk >= total
      if ((survivorRanks.length >= k && survivorRanks.last <= kk / 2) || exhausted) {
        longMetric("numHeapFetches").add(hits.length)
        out = fetched.select(wantCols.map(col): _*).queryExecution.toRdd
      } else if (round >= maxRounds || kk >= cap) bail = true
      else {
        // SELECTIVITY-AWARE escalation (contsel, adaptively observed): this
        // round measured the residual's survival rate among hits.length
        // ANN-ordered rows — size the next round to land the k-th survivor
        // in the safe top half directly (kk' ≈ 4k/s, the 2× top-half margin
        // on 2k/s) instead of blindly ×4-laddering toward it one round at a
        // time. Clamped to [kk*4 … cap]: never slower than the ladder, and
        // a zero-survivor round (no rate to learn from) falls back to it.
        val sel = survivorRanks.length.toDouble / math.max(hits.length, 1)
        // zero survivors = no rate to learn from: take the plain ×4 ladder
        // step (jumping to cap on an unlucky first round would trade one
        // saved round for a worst-case-sized traversal + fetch)
        val want =
          if (survivorRanks.isEmpty) 0L
          else math.ceil(4.0 * k / sel).toLong
        kk = math.min(cap.toLong, math.max(kk * 4L, want)).toInt
      }
    }
    if (bail) {
      // brute-force bail-out: emit the whole relation (minus rows the index
      // never contains — see HeapFetch.bruteScan) and let FilterExec +
      // TakeOrdered compute the exact answer, distributed
      out = HeapFetch.bruteScan(spark, entry, wantCols, freshTombs,
        filterLabels).queryExecution.toRdd
    }
    out
  }

  override def simpleString(maxFields: Int): String =
    s"KnnIndexScan k=$k metric=${entry.metric} index=${entry.indexPath}" +
      filterLabels.map(l => s" labels=[${l.mkString(",")}]").getOrElse("") +
      residual.map(r => s" recheck=${r.sql}").getOrElse("")
}

/**
 * Physical RADIUS scan (the pgvector iterative-index-scan shape,
 * `WHERE dist(col, q) <= r` with no LIMIT): [[DiskannIndex.rangeSearch]]
 * finds every indexed row within `radius` (its own escalate-L-until-stable
 * exhaustiveness contract), those rows are heap-fetched from the source
 * relation, and the FilterExec the strategy plans ABOVE this node re-checks
 * the ORIGINAL predicate exactly — this node only has to produce a superset
 * of the matching rows, never to decide them.
 *
 * Freshness: persisted tombstones are masked inside the traversal (they
 * cannot be re-checked above — the heap may still hold the rows
 * physically), and pending micro-batch appends are merged in by
 * [[graft.streaming.StreamingIngest.rangeSearchFresh]] — an exact radius
 * pass over ONLY the (small) delta rows, the searchWithDelta discipline
 * applied to the radius shape, so the reference's every-scan-sees-inserts
 * semantics (build.rs:464-535) hold on this scan shape too. nProbe routing
 * is deliberately NOT honored here: a radius answer must see every shard,
 * probing a subset would silently truncate it.
 *
 * Scale bail-out: a radius that matches `graft.knn.range.maxResults` rows
 * (default 65536) is a scan wearing a point-lookup costume — emit the
 * whole relation (minus rows the index can never serve) and let the
 * recheck + upper operators compute the exact answer distributed, the same
 * seq-scan fallback the over-fetch path takes past its cap.
 */
case class KnnRangeScanExec(outAttrs: Seq[AttributeReference],
    spark: SparkSession, entry: KnnCatalog.Entry, queryVec: Array[Float],
    radius: Double, filterLabels: Option[Array[Short]], rangeExpr: Expression)
    extends LeafExecNode {

  import org.apache.spark.sql.execution.metric.SQLMetrics

  override def output: Seq[Attribute] = outAttrs

  override lazy val metrics = Map(
    "numRangeHits" -> SQLMetrics.createMetric(sparkContext,
      "rows within radius (index)"),
    "numHeapFetches" -> SQLMetrics.createMetric(sparkContext,
      "source rows fetched"))

  override def doExecute(): RDD[InternalRow] = {
    val searchList = spark.conf.get("graft.knn.searchListSize", "100").toInt
    val rescore = spark.conf.get("graft.knn.rescore", "50").toInt
    val maxResults =
      spark.conf.get("graft.knn.range.maxResults", "65536").toInt
    val pushdownLimit =
      spark.conf.get("graft.knn.residual.pushdownLimit", "1024").toInt
    val wantCols = outAttrs.map(_.name)
    // freshness is owned PER EXECUTION, not at planning time: the delta is
    // snapshotted and merged inside rangeSearchFresh (which also loads the
    // tombstone registry itself — ONE snapshot owns the index path), so a
    // delta appended after the plan was built is still served exactly — no
    // stale results off a cached plan, and no O(corpus) bail just because
    // appends pend
    val (hits, confirmed) = graft.streaming.StreamingIngest.rangeSearchFresh(
      spark, entry.indexPath, queryVec, radius, searchList, rescore,
      filterLabels.orNull, maxResults = maxResults)
    longMetric("numRangeHits").add(hits.length)
    if (!confirmed) {
      // the maxResults cap cut escalation before the in-radius set
      // stabilized, or the delta merge overflowed it — the set may be
      // incomplete (and its SIZE cannot tell): exact distributed bail-out,
      // recheck above. Tombstones are loaded HERE, at the bail, never
      // earlier: a snapshot taken before rangeSearchFresh's own load could
      // miss a deleteRows landing in between and resurrect the deleted row
      // through the brute scan (the index path would have masked it).
      val tombs = DiskannIndex.loadTombstones(spark, entry.indexPath)
      HeapFetch.bruteScan(spark, entry, wantCols, tombs, filterLabels)
        .queryExecution.toRdd
    } else {
      longMetric("numHeapFetches").add(hits.length)
      // output may be pruned past the id column — fetch it for the join,
      // then project back down to this node's schema
      val fetchCols =
        if (wantCols.contains(entry.idCol)) wantCols
        else wantCols :+ entry.idCol
      HeapFetch.byIds(spark, entry, fetchCols, hits.map(_._1), pushdownLimit)
        .select(wantCols.map(col): _*)
        .queryExecution.toRdd
    }
  }

  override def simpleString(maxFields: Int): String =
    s"KnnRangeScan radius=$radius metric=${entry.metric} " +
      s"index=${entry.indexPath}" +
      filterLabels.map(l => s" labels=[${l.mkString(",")}]").getOrElse("")
}

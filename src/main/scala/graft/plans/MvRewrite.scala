package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.types.{LongType, StructType}

/** Transparent materialized-view rewrite — the optimizer half of the
  * incremental-view-maintenance story (q91 maintains grouped COUNT/SUM
  * views purely from a table's change feed; this rule makes the engine
  * USE them): an `Aggregate` over a registered base table whose
  * grouping columns are a subset of the view's grain and whose
  * aggregates are derivable from the view's partials (count(*) →
  * SUM(view.n); sum(x) → SUM(view.sum_x)) is rewritten to aggregate
  * the VIEW — at 100 TB that turns a full fact scan into a read of a
  * grain-sized summary. Decimal/integer partials re-aggregate
  * order-independently, so the rewrite is result-invisible (the q81
  * discipline: the oracle checks the rewritten query against the plain
  * form).
  *
  * Scope is deliberately the provable core: bare COUNT(1)/SUM(column)
  * aggregates (no DISTINCT, no filter clauses) over a plain scan, a
  * grain-column Filter of it, or a column-pruning projection of either;
  * anything else — including AVG, whose Spark result type/rounding
  * differs from SUM/COUNT division — falls through untouched. A Filter
  * whose predicate references only grain columns is remapped onto the
  * view (grain values are carried verbatim, so the predicate selects
  * exactly the same groups).
  *
  * Freshness comes in two flavors:
  *   - plain [[MvRegistry.MvDef]]: the registrant's contract is "the
  *     view is current" (register after each view sync; the CDC
  *     frontier markers make staleness decidable) — exactly like every
  *     MV-rewrite system;
  *   - with a [[MvRegistry.CompDef]]: the view may be STALE up to its
  *     recorded feed frontier, and the rewrite COMPENSATES — it unions
  *     the view's partials with signed per-row contributions from the
  *     change-feed batches past the frontier (insert/update_post → +1,
  *     update_pre/delete → −1; the q91 fold as a query-time plan
  *     fragment) and aggregates once. Groups whose net row count is
  *     zero (fully deleted in the tail) are dropped by a hidden
  *     HAVING net > 0, so the answer is exactly the fresh base
  *     aggregate. At 100 TB the query reads |grain| + |feed tail|
  *     rows instead of the fact table.
  *
  * Register rules on a live session via
  * `spark.experimental.extraOptimizations :+= MvRewrite(spark)` (the
  * [[RewriteDotProduct]] pattern); extraOptimizations run after the
  * main optimizer batches, so column pruning has already shaped the
  * child this rule matches. (File scans injected by the rewrite still
  * get column pruning + predicate pushdown: for V1 parquet relations
  * both are derived from the Project/Filter above the relation at
  * physical-planning time, not by the optimizer batches.)
  */
object MvRegistry {

  /** The stale-view compensation contract: `feedRoot` is the change
    * feed directory (per-batch `batch=<id>/` subdirs, the
    * mergeByKeyCdc layout) of the BASE table, and `frontier` is the
    * last batch id folded into the view. Feed rows must carry the
    * view's grain and measure columns (they do: the feed carries full
    * row images). Retention interaction: compensation reads only
    * batches PAST the frontier, so `truncateChangeFeed` of applied
    * batches (ids ≤ frontier) never affects it — the registered
    * frontier is exactly the low-water mark this consumer contributes.
    *
    * [[CompDef.dynamic]] leaves the frontier UNPINNED: the rewrite
    * resolves (view directory, frontier) per query from the view's own
    * in-dir `_frontier` ([[graft.sources.MvMaintain]]'s layout,
    * torn-swap-resolving) — register ONCE, refresh forever, no
    * re-registration after each refresh, and a refresh that crashed
    * between its swap renames serves the PRIOR view with the matching
    * frontier + the un-refolded tail, still exactly fresh.
    */
  final case class CompDef(feedRoot: String, frontier: Long,
      vtKey: String = "") {
    def isDynamic: Boolean = frontier == CompDef.Dynamic
    /** Versioned-table mode: `feedRoot` is a
      * [[graft.sources.VersionedTable]] root, `frontier` a VERSION id,
      * and the compensation tail is the manifest-derived CDF
      * (`changesBetween(frontier, latest)`) — no feed maintained at
      * write time at all.
      */
    def isVt: Boolean = vtKey.nonEmpty
  }
  object CompDef {
    val Dynamic: Long = Long.MinValue
    def dynamic(feedRoot: String): CompDef = CompDef(feedRoot, Dynamic)
    /** Compensate from a VersionedTable's commit history: the view
      * holds the aggregate AS OF `version`, and queries against the
      * table's LATEST state fold the manifest CDF past it. The rewrite
      * verifies the query's scan pins exactly the latest version's
      * file set (a commit racing the read makes it fall through to the
      * base scan — correct either way, never a mixed answer).
      */
    def versioned(tableRoot: String, key: String, version: Long): CompDef =
      CompDef(tableRoot, version, vtKey = key)
    /** [[versioned]] with the frontier UNPINNED: the rewrite resolves
      * the (view dir, frontier VERSION) pair per query from the view's
      * own in-dir `_frontier` — the pair
      * [[graft.sources.MvMaintain.refreshFromVersionedTable]] commits
      * atomically. Register once, refresh on any cadence; queries stay
      * exactly fresh via the manifest-CDF tail past whatever version
      * the last committed refresh folded.
      */
    def versionedDynamic(tableRoot: String, key: String): CompDef =
      CompDef(tableRoot, Dynamic, vtKey = key)
  }

  /** `mvPath` holds rows at grain `groupCols` with an additive row
    * count `countCol` and per-measure sums `sumCols` (base measure
    * column name → view sum column name).
    *
    * Optional extras widen the aggregate shapes the rewrite serves:
    *   - `minCols`/`maxCols`: per-grain extrema columns — MIN/MAX
    *     re-aggregate exactly from grain partials (min of mins). On a
    *     CURRENT view (no `comp`, or an empty tail) extrema serve
    *     straight from the view; under compensation they serve via the
    *     delta-bounded recompute in [[GraftMvRewriteRule.partialsFrame]]:
    *     the tail's touched grains have their view extrema NULL-masked
    *     and are recomputed from the query's own base subtree filtered
    *     to exactly those grains (literal predicate up to 1000 combos,
    *     null-safe left-semi join past it) — deletes/updates in the
    *     tail are answered exactly, at I/O cost bounded by the delta.
    *   - `nonNullMeasures`: measures the registrant asserts are never
    *     NULL in the base. AVG(x) needs the non-null count of x, which
    *     equals the row count only under that assertion — AVG rewrites
    *     only for DECIMAL measures listed here (decimal sums are exact
    *     on both paths; a double/integral AVG accumulates IEEE sums
    *     row-by-row in the base and could differ from the re-folded
    *     partials by rounding, so it falls through).
    */
  final case class MvDef(mvPath: String, groupCols: Set[String],
      sumCols: Map[String, String], countCol: String,
      comp: Option[CompDef] = None,
      minCols: Map[String, String] = Map.empty,
      maxCols: Map[String, String] = Map.empty,
      nonNullMeasures: Set[String] = Set.empty)

  private val reg =
    scala.collection.concurrent.TrieMap.empty[String, Seq[MvDef]]
  private val regByTable =
    scala.collection.concurrent.TrieMap.empty[String, Seq[MvDef]]

  private def qualify(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.makeQualified(p).toString
  }

  /** Normalized `db.table` key for catalog-table bases (the catalog
    * lowercases identifiers; an unqualified name resolves against the
    * session's current database).
    */
  private def tableKey(spark: SparkSession, tableName: String): String = {
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val db = ti.database.getOrElse(spark.catalog.currentDatabase)
    s"$db.${ti.table}".toLowerCase(java.util.Locale.ROOT)
  }

  def register(spark: SparkSession, basePath: String, mv: MvDef): Unit =
    register(spark, basePath, Seq(mv))

  /** Register SEVERAL views over one base (different grains — the
    * classic summary lattice). The rewrite picks the SMALLEST view (by
    * parquet-footer row count, refreshed when the view's files change)
    * that can answer, so a `GROUP BY region` lands on the region view
    * while `GROUP BY region, day` falls to the finer one — and a
    * wider-grain but physically smaller view beats a 1-column view over
    * a high-cardinality key (the r10 lattice note).
    */
  def register(spark: SparkSession, basePath: String, mvs: Seq[MvDef]): Unit = {
    require(mvs.nonEmpty, "register needs at least one view")
    reg.put(qualify(spark, basePath),
      mvs.map(mv => mv.copy(mvPath = qualify(spark, mv.mvPath)))
        .sortBy(_.groupCols.size))
  }

  /** Register view(s) whose base is a CATALOG TABLE (`saveAsTable` —
    * the engine's own S3 materialization path): the rewrite matches the
    * relation by its catalog identifier, so the base rewrites no matter
    * which path the table's files live under, V1 or DSv2.
    */
  def registerTable(spark: SparkSession, tableName: String, mv: MvDef): Unit =
    registerTable(spark, tableName, Seq(mv))

  def registerTable(spark: SparkSession, tableName: String,
      mvs: Seq[MvDef]): Unit = {
    require(mvs.nonEmpty, "registerTable needs at least one view")
    regByTable.put(tableKey(spark, tableName),
      mvs.map(mv => mv.copy(mvPath = qualify(spark, mv.mvPath)))
        .sortBy(_.groupCols.size))
  }

  def deregister(spark: SparkSession, basePath: String): Unit =
    reg.remove(qualify(spark, basePath))

  def deregisterTable(spark: SparkSession, tableName: String): Unit =
    regByTable.remove(tableKey(spark, tableName))

  private[plans] def find(rootPaths: Seq[String]): Seq[MvDef] =
    rootPaths match {
      case Seq(one) => reg.getOrElse(one, Seq.empty)
      case many if many.size > 1 =>
        // a VersionedTable snapshot read scans an EXPLICIT file list
        // (manifest-pinned), so the relation has one root per file:
        // <table>/__bucket=<b>/<gen>.parquet. If every file sits under
        // one table root in that layout, the table root is the base.
        val roots = many.map(vtRootOf).distinct
        roots match {
          case Seq(Some(r)) => reg.getOrElse(r, Seq.empty)
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }

  /** `<table>/__bucket=<b>/<file>` → `Some(<table>)`, else None. */
  private def vtRootOf(file: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(file)
    Option(p.getParent)
      .filter(_.getName.startsWith("__bucket="))
      .flatMap(b => Option(b.getParent)).map(_.toString)
  }

  private[plans] def findByTable(key: Option[String]): Seq[MvDef] =
    key.map(k => regByTable.getOrElse(k, Seq.empty)).getOrElse(Seq.empty)
}

object MvRewrite {
  /** Adds the rewrite to `spark`'s extra optimizations unless one is
    * already there; safe to call any number of times (as
    * [[graft.GraftSession.install]] is).
    */
  def install(spark: SparkSession): SparkSession = {
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[MvRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite(spark)
    spark
  }
}

case class MvRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  // names the rewrite standardizes the partials frame onto (prefixed to
  // stay clear of any user grain column)
  private val cntCol = "__mv_cnt"
  private def sumCol(measure: String) = s"__mv_sum_$measure"
  private def minC(measure: String) = s"__mv_min_$measure"
  private def maxC(measure: String) = s"__mv_max_$measure"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(grouping, aggExprs, child, _) =>
      rewriteAggregate(grouping, aggExprs, child).getOrElse(agg)
  }

  /** The star-schema join context: the aggregate sits over
    * `base INNER JOIN dim` and the dim side is kept VERBATIM (same
    * attribute ids, already optimized) — only the base side is swapped
    * for the partials. This is exact WITHOUT any dim-uniqueness
    * contract: the join condition may only reference GRAIN columns on
    * the base side, so every base row of a grain matches the same dim
    * rows (multiplicity m_g per grain) — COUNT partials scale to
    * cnt_g·m_g through the join exactly as the base rows would, SUM
    * partials likewise, and MIN/MAX are duplication-invariant.
    */
  private case class JoinCtx(dimPlan: LogicalPlan, joinCond: Expression,
      hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint,
      baseOutput: AttributeSet, dimOutput: AttributeSet)

  private def relationRoots(plan: LogicalPlan): Seq[String] = plan.collect {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
      case _ => Seq.empty[String]
    }
    case dsv2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      dsv2.table match {
        case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
          ft.fileIndex.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      sr.relation.table match {
        case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
          ft.fileIndex.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
  }.flatten

  /** How a base relation is identified against the registry: by its
    * single scan root path (plain `spark.read.parquet` bases) and/or by
    * its catalog identifier (`saveAsTable` bases — V1-converted
    * relations carry `catalogTable`, DSv2 relations an `identifier`).
    */
  private case class BaseKey(roots: Seq[String], table: Option[String])

  private def relKey(plan: LogicalPlan): Option[BaseKey] = plan match {
    case lr: LogicalRelation =>
      val roots = lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
      val tbl = lr.catalogTable.map(ct =>
        (ct.identifier.database.getOrElse("default") + "." +
          ct.identifier.table).toLowerCase(java.util.Locale.ROOT))
      if (roots.isEmpty && tbl.isEmpty) None else Some(BaseKey(roots, tbl))
    case dsv2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      v2Key(dsv2)
    // by extraOptimizations time V2ScanRelationPushDown has already
    // turned V2 relations into scan relations — match those too
    case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      v2Key(sr.relation)
    case _ => None
  }

  private def v2Key(
      dsv2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation)
      : Option[BaseKey] = {
    val roots = dsv2.table match {
      case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
        ft.fileIndex.rootPaths.map(_.toString)
      case _ => Seq.empty[String]
    }
    val tbl = dsv2.identifier.map(i =>
      (i.namespace() :+ i.name()).mkString(".")
        .toLowerCase(java.util.Locale.ROOT))
    if (roots.isEmpty && tbl.isEmpty) None else Some(BaseKey(roots, tbl))
  }

  /** Candidate views for a base, SMALLEST first: ordered by the view's
    * physical row count (parquet footer metadata, driver-side, memoized
    * on the view's file signature — no Spark job), tie-broken by grain
    * width then path. Catalog-identified registrations and path
    * registrations merge (a base can be reachable both ways).
    */
  private def candidates(key: BaseKey): Seq[MvRegistry.MvDef] = {
    val all = (MvRegistry.findByTable(key.table) ++ MvRegistry.find(key.roots))
      .distinct
    if (all.size <= 1) all
    else all.sortBy(mv => (viewRowCount(mv.mvPath), mv.groupCols.size, mv.mvPath))
  }

  // keyed by PATH, holding (file signature, count): a refresh changes
  // the signature, which REPLACES the entry rather than appending a new
  // one — at most one memo entry per registered view, so a long-lived
  // serving session with frequent refreshes holds a bounded map (the
  // r11 advisor leak: a (path, sig)-keyed memo grew one entry per
  // refresh, forever)
  private val rowCountMemo = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[(String, Long, Long)], Long)]

  private def viewRowCount(path: String): Long = try {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val sig = files.map(st =>
      (st.getPath.getName, st.getModificationTime, st.getLen))
    rowCountMemo.get(path) match {
      case Some((s, n)) if s == sig => n
      case _ =>
        val n = files.map { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
        rowCountMemo.put(path, (sig, n))
        n
    }
  } catch {
    // unreadable/missing view: order it last; tryRewriteSafely still
    // guards actual use
    case scala.util.control.NonFatal(_) => Long.MaxValue
  }

  private def rewriteAggregate(grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] = child match {
    // a pure column-pruning Project between the aggregate and the join
    // (what ColumnPruning leaves) is transparent: every attribute it
    // passes is unchanged, so grouping/aggregates resolve against the
    // join directly
    case Project(projList, inner)
        if projList.forall(_.isInstanceOf[AttributeReference])
          && inner.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join] =>
      rewriteAggregate(grouping, aggExprs, inner)
    // grain-EXPRESSION grouping (GROUP BY date_trunc('month', d) over a
    // day-grain view): the optimizer's PullOutGroupingExpressions has
    // already rewritten the Aggregate to group by a `_groupingexpression`
    // attribute computed in a Project below it (possibly merged with the
    // pruning Project by CollapseProject). Inline those aliases back
    // into the grouping/output/filter expressions and recurse — the
    // grouping becomes the real expression over base columns, which
    // [[tryRewrite]] accepts whenever its references all sit in the
    // view's grain (grain values ride the partials verbatim, so any
    // deterministic function of them partitions partials exactly as it
    // partitions base rows). Only deterministic aliases inline; an
    // Alias of an aggregate can't appear under an Aggregate's child.
    case Project(projList, inner)
        if projList.exists(_.isInstanceOf[Alias]) && projList.forall {
          case _: AttributeReference => true
          case Alias(e, _) => e.deterministic
          case _ => false
        } =>
      val aliasSub: Map[ExprId, Expression] = projList.collect {
        case a @ Alias(e, _) => a.exprId -> e
      }.toMap
      def inline(e: Expression): Expression = e.transformUp {
        case ar: AttributeReference if aliasSub.contains(ar.exprId) =>
          aliasSub(ar.exprId)
      }
      val g2 = grouping.map(inline)
      val a2: Seq[NamedExpression] = aggExprs.map {
        // a BARE output attr that names a projected expression (the
        // user-aliased select(expr.as("m")).groupBy("m") shape) must
        // stay named: re-wrap under its own name + exprId
        case ar: AttributeReference if aliasSub.contains(ar.exprId) =>
          Alias(aliasSub(ar.exprId), ar.name)(exprId = ar.exprId)
        case ne => inline(ne).asInstanceOf[NamedExpression]
      }
      rewriteAggregate(g2, a2, inner)
    case org.apache.spark.sql.catalyst.plans.logical.Join(
        l, r, org.apache.spark.sql.catalyst.plans.Inner, Some(cond), hint)
        if cond.deterministic =>
      def attempt(basePlan: LogicalPlan, dimPlan: LogicalPlan)
          : Option[LogicalPlan] =
        baseShapeOf(basePlan).flatMap { case (key, bc) =>
          // a self-join (dim side also scans the base) is out of scope
          if (relationRoots(dimPlan).exists(key.roots.contains)) None
          else candidates(key).view.flatMap(mv =>
            tryRewriteSafely(grouping, aggExprs, bc, mv,
              Some(JoinCtx(dimPlan, cond, hint,
                basePlan.outputSet, dimPlan.outputSet)), basePlan)).headOption
        }
      attempt(l, r).orElse(attempt(r, l))
    case _ =>
      baseShapeOf(child).flatMap { case (key, cond) =>
        // smallest-first view selection (see [[candidates]]): the first
        // view that can answer wins
        candidates(key).view.flatMap(mv =>
          tryRewriteSafely(grouping, aggExprs, cond, mv, None, child))
          .headOption
      }
  }

  /** A registration whose view/feed files have gone missing (dropped
    * without deregistering — e.g. mid-REFRESH) must not kill the user's
    * query inside the optimizer: the base scan is always a correct
    * fallback. The refresh job itself must deregister around
    * maintenance anyway — otherwise its view-rebuild aggregate would be
    * rewritten to read the view being rebuilt.
    */
  private def tryRewriteSafely(grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      filterCond: Option[Expression],
      mv: MvRegistry.MvDef,
      join: Option[JoinCtx],
      baseChild: LogicalPlan): Option[LogicalPlan] =
    try tryRewrite(grouping, aggExprs, filterCond, mv, join, baseChild)
    catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"MV rewrite for ${mv.mvPath} failed; " +
          s"falling back to the base scan: ${e.getMessage}")
        None
    }

  /** The base-table shapes the rule accepts: the scan itself (V1 path,
    * catalog-table, or DSv2 — see [[relKey]]), an optional Filter
    * directly above it, and an optional pure column-pruning Project
    * above either (what ColumnPruning + PushDownPredicates leave by the
    * time extraOptimizations run). Returns the base's registry key plus
    * the filter condition, if any.
    */
  private def baseShapeOf(plan: LogicalPlan)
      : Option[(BaseKey, Option[Expression])] = plan match {
    case Project(projList, inner)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      inner match {
        case Filter(cond, rel) if cond.deterministic =>
          relKey(rel).map((_, Some(cond)))
        case rel => relKey(rel).map((_, None))
      }
    case Filter(cond, rel) if cond.deterministic =>
      relKey(rel).map((_, Some(cond)))
    case rel => relKey(rel).map((_, None))
  }

  /** The partials frame the rewritten aggregate folds: the view's rows
    * under standardized names, plus — when a compensation contract is
    * registered — one signed row per change-feed row past the view's
    * frontier. Everything additive: COUNT partials are ±1L / view
    * counts, SUM partials are ±measure / view sums, all cast to the
    * view's own sum types so the union is exact.
    *
    * EXTREMA under compensation (`wantMin`/`wantMax` nonempty with a
    * stale view) cannot be derived additively — a delete in the tail
    * may have removed a group's max — but they CAN be repaired
    * delta-boundedly: changes in the tail can only affect the grains
    * the tail TOUCHES. So the frame becomes three sources:
    *   1. view rows, with the wanted min/max columns NULL-masked on
    *      touched grains (untouched grains' extrema are exact as-is);
    *   2. the usual signed tail rows (extrema NULL — Min/Max ignore
    *      them);
    *   3. the query's own base subtree FILTERED to the touched grains,
    *      contributing raw measure values as min/max partials (count 0,
    *      sums NULL) — the final fold recomputes exactly those grains'
    *      extrema from current base rows. The touched set is collected
    *      (bounded by the tail) and pushed as a LITERAL grain predicate
    *      into the base scan — parquet row-group skipping / partition
    *      pruning applies, so the recompute is delta-bounded in the
    *      I/O sense, not just post-scan; a touched set past the
    *      1000-combo literal cap falls back to a left-semi join
    *      (row-bounded, scan-wide).
    */
  private def partialsFrame(mv: MvRegistry.MvDef, wantMin: Seq[String],
      wantMax: Seq[String], baseChild: LogicalPlan): DataFrame = {
    val grain = mv.groupCols.toSeq.sorted
    // dynamic-frontier registrations resolve (dir, frontier) per query
    // from the view's own in-dir _frontier. The frontier read and the
    // parquet FILE LISTING are two filesystem reads, so a refresh swap
    // landing between them could pair the old frontier with the new
    // view's rows (double-counting the folded tail — r11 advisor). The
    // pairing is made consistent by pinning the parquet listing FIRST
    // (spark.read.parquet resolves its file index eagerly, with or
    // without the schema the view's _frontier records) and then
    // re-reading the frontier: unchanged frontier ⇒ no swap committed
    // between the two reads (every committed fold advances it), so the
    // pinned rows belong to that frontier. A detected swap retries —
    // bounded, then throws, which tryRewriteSafely turns into the
    // correct base-scan fallback. A missing/frontier-less view throws
    // the same way.
    val (viewRaw0, resolvedFrontier): (Option[DataFrame], Option[Long]) =
      mv.comp match {
        case Some(c) if c.isDynamic =>
          def resolve(): (String, Long, Option[StructType]) =
            graft.sources.MvMaintain.servingView(spark, mv.mvPath)
              .getOrElse(throw new IllegalStateException(
                s"dynamic-frontier view at ${mv.mvPath} has no committed " +
                  "directory/_frontier"))
          var attempt = 0
          var pinned: Option[(DataFrame, Long)] = None
          while (pinned.isEmpty) {
            val (d1, f1, schema) = resolve()
            val df = graft.sources.MvMaintain.viewFrame(spark, d1, schema)
            df.schema // force relation resolution (file index pinned)
            val (d2, f2, _) = resolve()
            if (d1 == d2 && f1 == f2) pinned = Some((df, f1))
            else {
              attempt += 1
              if (attempt >= 3) throw new IllegalStateException(
                s"dynamic-frontier view at ${mv.mvPath} kept swapping " +
                  "under concurrent refresh — falling back to base scan")
            }
          }
          (Some(pinned.get._1), Some(pinned.get._2))
        case Some(c) => (None, Some(c.frontier))
        case None => (None, None)
      }
    val viewRaw = viewRaw0.getOrElse(
      graft.sources.MvMaintain.viewAt(spark, mv.mvPath))
    def viewWith(extrema: Seq[org.apache.spark.sql.Column]): DataFrame =
      viewRaw.select(
        grain.map(col) ++
          Seq(col(mv.countCol).cast(LongType).as(cntCol)) ++
          mv.sumCols.toSeq.sortBy(_._1).map { case (m, s) =>
            col(s).as(sumCol(m))
          } ++ extrema: _*)
    def viewExtrema: Seq[org.apache.spark.sql.Column] =
      mv.minCols.toSeq.sortBy(_._1).map { case (m, s) => col(s).as(minC(m)) } ++
        mv.maxCols.toSeq.sortBy(_._1).map { case (m, s) => col(s).as(maxC(m)) }
    mv.comp match {
      case None => viewWith(viewExtrema)
      case Some(c) =>
        // the compensation tail: change rows past the frontier, either
        // from a maintained CDC feed (batch dirs) or — vt mode — from
        // the VersionedTable's manifest CDF, where the frontier is a
        // VERSION id and no feed exists at all. In vt mode the rewrite
        // additionally verifies the query's scan pins EXACTLY the
        // latest version's file set: a commit racing the user's read
        // would otherwise compensate to a different version than the
        // scan serves — the mismatch throws, tryRewriteSafely falls
        // back to the (correct) base scan.
        val tailOpt: Option[DataFrame] =
          if (c.isVt) {
            import graft.sources.VersionedTable
            val vs = VersionedTable.versions(spark, c.feedRoot)
            require(vs.nonEmpty,
              s"vt compensation: no committed version at ${c.feedRoot}")
            val pinned = plan_files(baseChild)
            // which retained version does the query's scan pin? Checked
            // newest-first (the overwhelmingly common case is latest);
            // the manifest-resolved file set identifies the version
            // EXACTLY (immutable files). This is also what makes TIME
            // TRAVEL serve from the view: a `read(asOf = v)` scan pins
            // v's files, and the tail below compensates the view to v —
            // forward past the frontier, or BACKWARD (inverted CDF ops)
            // when the view is NEWER than the pinned snapshot. A scan
            // matching no retained version (a commit landed since the
            // read resolved, then vacuum dropped it) throws — base scan
            // answers instead, exact either way.
            val target = vs.reverse.find { v =>
              VersionedTable.resolvedEntries(spark, c.feedRoot, v)
                .values.flatten
                .map(p => new org.apache.hadoop.fs.Path(p).toString)
                .toSet == pinned
            }.getOrElse(throw new IllegalStateException(
              s"vt compensation: the query's scan pins a file set that " +
                s"matches no retained version of ${c.feedRoot} — base " +
                "scan answers instead"))
            val f = resolvedFrontier.get
            if (target == f) None
            else if (target > f)
              Some(VersionedTable.changesBetween(
                spark, c.feedRoot, c.vtKey, f, target))
            else {
              // backward: the view already folded (target, f]; subtract
              // it by replaying the diff with the op VOCABULARY inverted
              // (insert ↔ delete, update_pre ↔ update_post) — the signed
              // fold and the touched-grain logic downstream then undo
              // exactly what those commits did
              val inv = org.apache.spark.sql.functions.when(
                col("change_op") === "insert", "delete")
                .when(col("change_op") === "delete", "insert")
                .when(col("change_op") === "update_pre", "update_post")
                .otherwise("update_pre")
              Some(VersionedTable.changesBetween(
                  spark, c.feedRoot, c.vtKey, target, f)
                .withColumn("change_op", inv))
            }
          } else {
            val tailDirs = feedBatchDirsPast(c.feedRoot, resolvedFrontier.get)
            if (tailDirs.isEmpty) None
            else Some(spark.read.parquet(tailDirs: _*))
          }
        // a fresh view (empty tail) serves extrema directly
        if (tailOpt.isEmpty) viewWith(viewExtrema)
        else {
          val sumTypes = mv.sumCols.map { case (m, s) =>
            m -> viewRaw.schema(s).dataType
          }
          val tail = tailOpt.get
          val pos = col("change_op").isin("insert", "update_post")
          val extremaNull: Seq[org.apache.spark.sql.Column] =
            wantMin.map(m => lit(null).cast(viewRaw.schema(mv.minCols(m))
              .dataType).as(minC(m))) ++
              wantMax.map(m => lit(null).cast(viewRaw.schema(mv.maxCols(m))
                .dataType).as(maxC(m)))
          val comp = tail.select(
            grain.map(col) ++
              Seq(when(pos, lit(1L)).otherwise(lit(-1L)).as(cntCol)) ++
              mv.sumCols.keys.toSeq.sorted.map { m =>
                when(pos, col(m)).otherwise(-col(m))
                  .cast(sumTypes(m)).as(sumCol(m))
              } ++ extremaNull: _*)
          if (wantMin.isEmpty && wantMax.isEmpty)
            viewWith(Seq.empty).unionByName(comp)
          else {
            val base = org.apache.spark.sql.GraftExpressionBridge
              .dataFrame(spark, baseChild)
            // the touched-grain set is bounded by the feed tail (the
            // whole compensation premise) — collect it and push a
            // LITERAL grain predicate into the base scan, so the
            // recompute reads base rows for touched grains only in the
            // I/O sense too (parquet row-group skipping / partition
            // pruning, not just a post-scan semi filter). Beyond the
            // literal cap, fall back to the semi-join (row-bounded,
            // scan-wide) rather than build a megabyte predicate.
            val touchedRows = tail
              .groupBy(grain.map(col): _*)
              .agg(org.apache.spark.sql.functions.count(lit(1)).as("__c"))
              .select(grain.map(col): _*).collect()
            val literalCap = 1000
            def maskedFrom(src: DataFrame,
                touchedOnView: org.apache.spark.sql.Column): DataFrame =
              src.select(
                grain.map(col) ++
                  Seq(col(mv.countCol).cast(LongType).as(cntCol)) ++
                  mv.sumCols.toSeq.sortBy(_._1).map { case (m, s) =>
                    col(s).as(sumCol(m))
                  } ++
                  wantMin.map(m => when(!touchedOnView,
                    col(mv.minCols(m))).as(minC(m))) ++
                  wantMax.map(m => when(!touchedOnView,
                    col(mv.maxCols(m))).as(maxC(m))): _*)
            def recomputeFrom(src: DataFrame): DataFrame =
              src.select(
                grain.map(col) ++
                  Seq(lit(0L).as(cntCol)) ++
                  mv.sumCols.keys.toSeq.sorted.map(m =>
                    lit(null).cast(sumTypes(m)).as(sumCol(m))) ++
                  wantMin.map(m => col(m).as(minC(m))) ++
                  wantMax.map(m => col(m).as(maxC(m))): _*)
            // touched-grain matching is NULL-SAFE on both paths (r11
            // advisor): a null grain value in the view or base must
            // compare EQUAL to a null touched value and UNEQUAL to a
            // non-null one — plain === evaluates to NULL, which would
            // mask the null-grain group's view extrema unconditionally
            // AND drop its base rows from the recompute (silent NULL
            // min/max). isin() has the same hole, so the single-column
            // literal path splits nulls out explicitly.
            val (masked, recompute) =
              if (touchedRows.length <= literalCap) {
                val pred =
                  if (touchedRows.isEmpty) lit(false)
                  else if (grain.size == 1) {
                    val (nullRows, defRows) = touchedRows.partition(_.isNullAt(0))
                    val inPart =
                      if (defRows.isEmpty) lit(false)
                      else col(grain.head).isin(defRows.map(_.get(0)).toSeq: _*)
                    // isin over non-null literals is null-unsafe: a null
                    // grain row evaluates it to NULL, so OR in isNull /
                    // coalesce to keep the predicate two-valued
                    if (nullRows.nonEmpty)
                      col(grain.head).isNull || coalesce(inPart, lit(false))
                    else coalesce(inPart, lit(false))
                  } else touchedRows.map { r =>
                    grain.zipWithIndex.map { case (g, i) =>
                      col(g) <=> lit(r.get(i))
                    }.reduce(_ && _)
                  }.reduce(_ || _)
                (maskedFrom(viewRaw, pred), recomputeFrom(base.filter(pred)))
              } else {
                // huge touched set: semi-join fallback (row-bounded,
                // scan-wide) on a null-safe equi-condition (Spark's
                // ExtractEquiJoinKeys hash-joins <=> keys). Touched
                // grain columns are renamed so the condition is
                // unambiguous. Dedup via an explicit Aggregate —
                // .distinct() would inject a Deduplicate node, which
                // nothing lowers after the main optimizer batches
                val touched = tail.groupBy(grain.map(col): _*)
                  .agg(org.apache.spark.sql.functions.count(lit(1))
                    .as("__mv_tch"))
                  .select(grain.map(g => col(g).as(s"__mv_t_$g")) :+
                    lit(1).as("__mv_tch"): _*)
                val cond = grain.map(g => col(g) <=> col(s"__mv_t_$g"))
                  .reduce(_ && _)
                (maskedFrom(
                    viewRaw.join(touched, cond, "left")
                      .drop(grain.map(g => s"__mv_t_$g"): _*),
                    col("__mv_tch").isNotNull),
                  recomputeFrom(
                    base.join(touched.drop("__mv_tch"), cond, "left_semi")))
              }
            masked.unionByName(comp).unionByName(recompute)
          }
        }
    }
  }

  /** The exact file set a base subtree's parquet scan pins (qualified,
    * Path-normalized) — vt compensation's version-pin check.
    */
  private def plan_files(plan: LogicalPlan): Set[String] = plan.collect {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.inputFiles.toSeq
      case _ => Seq.empty[String]
    }
  }.flatten.map(p => new org.apache.hadoop.fs.Path(p).toString).toSet

  /** Bounded driver-side listing (one listStatus on the feed root):
    * the batch directories with id strictly past the view's frontier.
    */
  private def feedBatchDirsPast(feedRoot: String, frontier: Long): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(feedRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filter(_.getPath.getName.stripPrefix("batch=").toLong > frontier)
      .map(_.getPath.toString).sorted
  }

  private def tryRewrite(grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      filterCond: Option[Expression],
      mv: MvRegistry.MvDef,
      join: Option[JoinCtx],
      baseChild: LogicalPlan): Option[LogicalPlan] = {
    def fromDim(a: Attribute): Boolean = join.exists(_.dimOutput.contains(a))
    // grouping: dim-side columns/expressions pass through verbatim;
    // base-side BARE columns must sit inside the view's grain; a
    // base-side EXPRESSION is accepted when it is deterministic and
    // every reference is a grain column — grain values ride the
    // partials verbatim, so any deterministic f(grain) partitions the
    // partial rows exactly as it partitions the base rows, and every
    // derivable aggregate re-folds exactly under that coarsening (the
    // r11 verdict's Missing #1: GROUP BY date_trunc('month', d) over a
    // day-grain view — the single most common real MV shape). Mixed
    // dim+base references are rejected.
    def baseGrainOnly(e: Expression): Boolean =
      e.references.nonEmpty &&
        e.references.forall(a => !fromDim(a) && mv.groupCols.contains(a.name))
    def dimOnly(e: Expression): Boolean =
      e.references.nonEmpty && e.references.forall(fromDim)
    val okGrouping = grouping.forall {
      case a: AttributeReference => fromDim(a) || mv.groupCols.contains(a.name)
      case e => e.deterministic && (dimOnly(e) || baseGrainOnly(e))
    }
    if (!okGrouping) return None
    val groupAttrs = grouping.collect { case a: AttributeReference => a }
    val groupNames =
      groupAttrs.filterNot(fromDim).map(_.name).toSet
    // a base-side filter may only touch grain columns (grain values are
    // carried verbatim into the partials, so the predicate transfers)
    if (filterCond.exists(c =>
        !c.references.forall(a => mv.groupCols.contains(a.name))))
      return None
    // the join condition: dim-side references stay; base-side
    // references must be grain columns (the multiplicity argument in
    // [[JoinCtx]]'s doc needs every base row of a grain to join alike)
    if (join.exists(j => !j.joinCond.references.forall(a =>
        fromDim(a) || (j.baseOutput.contains(a) && mv.groupCols.contains(a.name)))))
      return None

    // which base-side extrema the query actually needs — under a stale
    // view these drive the delta-bounded recompute in [[partialsFrame]]
    val wantMin: Seq[String] = aggExprs.collect {
      case Alias(AggregateExpression(
          Min(a: AttributeReference), Complete, false, None, _), _)
          if !fromDim(a) && mv.minCols.contains(a.name) => a.name
    }.distinct.sorted
    val wantMax: Seq[String] = aggExprs.collect {
      case Alias(AggregateExpression(
          Max(a: AttributeReference), Complete, false, None, _), _)
          if !fromDim(a) && mv.maxCols.contains(a.name) => a.name
    }.distinct.sorted

    // fresh analyzed scan of the partials (fresh exprIds per rewrite —
    // safe under self-joins / repeated rewrites in one plan). V1
    // relations are injected ANALYZED (FileSourceStrategy still derives
    // pruning/pushdown from the Project/Filter above them at physical
    // planning); a partials tree holding DSv2 relations must be
    // OPTIMIZED first — V2ScanRelationPushDown only runs in the main
    // batches, and a bare DataSourceV2Relation injected after them has
    // no physical plan. Re-entrant optimization is safe here: the
    // partials tree has no Aggregate over a registered base, so this
    // rule cannot re-fire inside it.
    val partialsQe = partialsFrame(mv, wantMin, wantMax, baseChild)
      .queryExecution
    val partials =
      if (partialsQe.analyzed.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation]))
        partialsQe.optimizedPlan
      else partialsQe.analyzed
    def pAttr(name: String): AttributeReference =
      partials.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }.getOrElse(throw new IllegalStateException(
        s"MV ${mv.mvPath} partials lack column $name"))

    def sumOf(col: AttributeReference): Expression =
      AggregateExpression(Sum(col), Complete, isDistinct = false)
    def aggOf(f: AggregateFunction): Expression =
      AggregateExpression(f, Complete, isDistinct = false)
    // SUM/AVG rewrites only for exactly-additive types: decimal and
    // integral partials re-fold to the identical value under any
    // grouping; double sums are order-dependent IEEE folds and the
    // re-folded partials could differ from the base's row fold in the
    // last ulp — those fall through to the base scan
    def additive(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.DecimalType => true
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }

    // every output must be a grouped column or a derivable aggregate:
    // COUNT(1), SUM/MIN/MAX(measure), AVG(declared non-null decimal);
    // with a join, dim-side grouped columns and dim-side MIN/MAX pass
    // through verbatim (duplication-invariant), while SUM/AVG over a
    // dim column is NOT derivable (each view row carries cnt_g base
    // rows, but a dim value would be folded only once per match) and
    // falls through
    val rewritten: Seq[Option[NamedExpression]] = aggExprs.map {
      case a: AttributeReference if fromDim(a) => Some(a)
      case al @ Alias(a: AttributeReference, _) if fromDim(a) => Some(al)
      case al @ Alias(
          AggregateExpression(Min(a: AttributeReference), Complete, false, None, _), _)
          if fromDim(a) => Some(al)
      case al @ Alias(
          AggregateExpression(Max(a: AttributeReference), Complete, false, None, _), _)
          if fromDim(a) => Some(al)
      case a: AttributeReference if groupNames.contains(a.name) =>
        Some(Alias(pAttr(a.name), a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, name)
          if groupNames.contains(a.name) && !fromDim(a) =>
        Some(Alias(pAttr(a.name), name)(exprId = al.exprId))
      // a grouping-EXPRESSION output: re-evaluate the identical
      // expression over the partials' grain columns — grain values
      // ride the partials verbatim, so per output group the value is
      // exactly the group key
      case al @ Alias(e, name)
          if grouping.exists(_.semanticEquals(e)) && baseGrainOnly(e) =>
        val remapped = e.transform {
          case a: AttributeReference if !fromDim(a) => pAttr(a.name)
        }
        Some(Alias(remapped, name)(exprId = al.exprId))
      case al @ Alias(e, _)
          if grouping.exists(_.semanticEquals(e)) && dimOnly(e) =>
        Some(al)
      case al @ Alias(
          AggregateExpression(Count(Seq(Literal(1, _))), Complete, false, None, _),
          name) =>
        // COUNT(*) over base == Σ partial counts; empty-partials global
        // aggregates must still yield 0, and the original Count is
        // non-nullable
        val s = Coalesce(Seq(sumOf(pAttr(cntCol)), Literal(0L)))
        Some(Alias(castTo(s, al.dataType), name)(exprId = al.exprId))
      case al @ Alias(
          AggregateExpression(Count(Seq(attr: AttributeReference)), Complete, false, None, _),
          name) if !fromDim(attr) && mv.nonNullMeasures.contains(attr.name) =>
        // COUNT(col) counts non-nulls == the row count under the
        // registrant's non-null assertion — same derivation as COUNT(*)
        val s = Coalesce(Seq(sumOf(pAttr(cntCol)), Literal(0L)))
        Some(Alias(castTo(s, al.dataType), name)(exprId = al.exprId))
      case al @ Alias(
          AggregateExpression(Count(attrs), Complete, true, None, _), name)
          if attrs.nonEmpty && mv.comp.isEmpty && attrs.forall {
            case a: AttributeReference =>
              !fromDim(a) && mv.groupCols.contains(a.name)
            case _ => false
          } =>
        // COUNT(DISTINCT g...) for g ⊆ grain: view rows ARE the distinct
        // grain combos (each with cnt > 0 — maintained views drop netted
        // grains), so distinct-counting the view's grain columns equals
        // distinct-counting the base's, null semantics included. Fresh
        // views only: under compensation a tail-deleted value would
        // still be visible to DISTINCT (netting is invisible to it).
        val pAttrs = attrs.map { case a: AttributeReference => pAttr(a.name) }
        val s = AggregateExpression(Count(pAttrs), Complete, isDistinct = true)
        Some(Alias(castTo(s, al.dataType), name)(exprId = al.exprId))
      case al @ Alias(
          AggregateExpression(Sum(attr: AttributeReference, _), Complete, false, None, _),
          name) if !fromDim(attr) && mv.sumCols.contains(attr.name)
            && additive(al.dataType) =>
        val s = sumOf(pAttr(sumCol(attr.name)))
        Some(Alias(castTo(s, al.dataType), name)(exprId = al.exprId))
      case al @ Alias(
          AggregateExpression(Min(attr: AttributeReference), Complete, false, None, _),
          name) if !fromDim(attr) && mv.minCols.contains(attr.name) =>
        // exact even under compensation: [[partialsFrame]] NULL-masks
        // the view's extrema on tail-touched grains and re-supplies
        // them from a delta-bounded base recompute
        val s = aggOf(Min(pAttr(minC(attr.name))))
        Some(Alias(castTo(s, al.dataType), name)(exprId = al.exprId))
      case al @ Alias(
          AggregateExpression(Max(attr: AttributeReference), Complete, false, None, _),
          name) if !fromDim(attr) && mv.maxCols.contains(attr.name) =>
        val s = aggOf(Max(pAttr(maxC(attr.name))))
        Some(Alias(castTo(s, al.dataType), name)(exprId = al.exprId))
      case al @ Alias(
          AggregateExpression(avg @ Average(attr: AttributeReference, _), Complete, false, None, _),
          name) if !fromDim(attr) && mv.sumCols.contains(attr.name)
            && mv.nonNullMeasures.contains(attr.name)
            && attr.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
        // AVG(x) = Average's own final-projection expression with its
        // sum/count buffer slots substituted by the re-folded partials:
        // the division arithmetic is literally the one Spark lowers
        // Average to, over operand VALUES equal to the base's (exact
        // decimal sum; count == non-null count under the registrant's
        // nonNullMeasures assertion) — bit-equal by construction
        val totalSum = castTo(sumOf(pAttr(sumCol(attr.name))), avg.sum.dataType)
        val totalCnt = Coalesce(Seq(sumOf(pAttr(cntCol)), Literal(0L)))
        val e = avg.evaluateExpression.transform {
          case a: AttributeReference if a.exprId == avg.sum.exprId => totalSum
          case a: AttributeReference if a.exprId == avg.count.exprId => totalCnt
        }
        Some(Alias(castTo(e, al.dataType), name)(exprId = al.exprId))
      case _ => None
    }
    if (rewritten.exists(_.isEmpty)) return None

    val filtered: LogicalPlan = filterCond match {
      case None => partials
      case Some(cond) =>
        val remapped = cond.transform {
          case a: AttributeReference => pAttr(a.name)
        }
        Filter(remapped, partials)
    }
    val rewrittenChild: LogicalPlan = join match {
      case None => filtered
      case Some(j) =>
        val remappedCond = j.joinCond.transform {
          case a: AttributeReference if !fromDim(a) => pAttr(a.name)
        }
        org.apache.spark.sql.catalyst.plans.logical.Join(
          filtered, j.dimPlan, org.apache.spark.sql.catalyst.plans.Inner,
          Some(remappedCond), j.hint)
    }
    val newGrouping: Seq[Expression] = grouping.map {
      case a: AttributeReference => if (fromDim(a)) a else pAttr(a.name)
      case e if dimOnly(e) => e
      case e => e.transform {
        case a: AttributeReference if !fromDim(a) => pAttr(a.name)
      }
    }
    val outs = rewritten.flatten

    mv.comp match {
      case None =>
        Some(Aggregate(newGrouping, outs, rewrittenChild))
      case Some(_) if grouping.isEmpty =>
        // a global aggregate keeps its single row even when the table
        // nets to empty (COUNT returns 0) — no HAVING guard
        Some(Aggregate(newGrouping, outs, rewrittenChild))
      case Some(_) =>
        // compensated GROUPED aggregate: a group fully deleted in the
        // feed tail nets to zero rows and must vanish from the result,
        // exactly as it would from the base aggregate — HAVING net > 0
        // via a hidden count column, projected away with the original
        // output exprIds preserved
        val net = Alias(
          Coalesce(Seq(sumOf(pAttr(cntCol)), Literal(0L))), "__mv_net")()
        val withNet = Aggregate(newGrouping, outs :+ net, rewrittenChild)
        val having = Filter(GreaterThan(net.toAttribute, Literal(0L)), withNet)
        Some(Project(outs.map(_.toAttribute), having))
    }
  }

  /** Re-aggregated partials widen (sum of decimal(28,2) partials is
    * decimal(38,2); the original sum over raw rows was (28,2)) — cast
    * back so downstream references keep their resolved types. Values
    * are unchanged: the view's partials sum to exactly the base sum.
    */
  private def castTo(e: Expression, dt: org.apache.spark.sql.types.DataType)
      : Expression =
    if (e.dataType == dt) e
    else Cast(e, dt, Option(spark.sessionState.conf.sessionLocalTimeZone))
}

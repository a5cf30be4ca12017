package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incremental maintenance of a grain-keyed COUNT/SUM summary view from
  * a CDC change feed — the REFRESH half of the MV story (q91 proved the
  * fold, [[graft.plans.MvRewrite]] consumes the result, q121/q125
  * compensate for staleness at query time; this keeps the view itself
  * near-fresh at delta cost): each refresh folds ONLY the feed batches
  * past the view's recorded frontier into signed per-grain deltas and
  * merges them with the existing (grain-sized) view — O(|tail| +
  * |grain|) work, never a base-table read.
  *
  * Durability: the frontier is a `_frontier` file written INSIDE the
  * staged view directory before the swap, so view and frontier commit
  * together — a torn refresh can never leave a view claiming the wrong
  * frontier. (Underscore-prefixed files are hidden from Spark's input
  * listing, so readers of the view parquet never see it.) Its second
  * line is the view's schema DDL, committed the same way: every reader
  * here and in [[graft.plans.MvRewrite]] builds the view frame with it
  * instead of a footer-inference Spark job, at no extra FS call where
  * the frontier is read anyway. A view written before the schema line
  * existed reads with inference. The swap is
  * RETAINING: `rename(view → view__old); rename(stage → view);
  * delete(view__old)` — a crash between the renames leaves the PRIOR
  * view intact under `__old`, which [[frontier]]/[[readView]] resolve
  * transparently and the next [[refresh]] rolls back before folding
  * just the tail — recovery is O(tail), never a full-feed rebuild
  * (r10 verdict #6). The direct-path reader (the rewrite scanning the
  * view parquet) sees a missing dir only inside the tiny between-
  * renames window and falls back to a correct base scan.
  *
  * A view that IS genuinely lost (both dirs gone) rebuilds from the
  * full feed — but only when the feed is complete: if the feed carries
  * a truncation low-water mark ([[TableWriter.truncateChangeFeed]]
  * legally drops batches at or below the registered frontier), the
  * frontier-less rebuild REFUSES loudly instead of silently omitting
  * the dropped batches' contributions (the r11 advisor's wrong-view
  * hazard). Re-running with no new batches is a no-op that leaves the
  * view directory untouched.
  *
  * Deletes that empty a grain drop its row (n ≤ 0 filtered), matching
  * the fold q91 pins and the HAVING-net discipline the rewrite applies
  * to compensated tails.
  */
object MvMaintain {

  /** `sumCols`: base measure column name → view sum column name. Grain
    * values must be non-null (they are grouping keys on both sides of
    * the merge join).
    */
  final case class ViewDef(grain: Seq[String],
      sumCols: Map[String, String], countCol: String = "n")

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def oldPath(mvPath: String) =
    new org.apache.hadoop.fs.Path(mvPath + "__old")

  /** The directory currently holding the committed view: `mvPath`
    * normally; `mvPath__old` when a refresh crashed between its two
    * swap renames (the prior view survives there until the next
    * refresh rolls it back). None when no committed view exists.
    */
  private def liveDir(spark: SparkSession,
      mvPath: String): Option[org.apache.hadoop.fs.Path] = {
    val mvP = new org.apache.hadoop.fs.Path(mvPath)
    val fs = fsOf(spark, mvP)
    if (fs.exists(mvP)) Some(mvP)
    else Some(oldPath(mvPath)).filter(fs.exists)
  }

  /** The lines of `dir`'s `_frontier` (frontier, then schema DDL when
    * recorded), or None when the file is absent.
    */
  private def frontierLines(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path): Option[Seq[String]] = {
    val f = new org.apache.hadoop.fs.Path(dir, "_frontier")
    graft.operators.IndexProtocol.readLinesIfExists(fsOf(spark, f), f)
  }

  private def schemaLine(lines: Seq[String]): Option[StructType] =
    lines.lift(1).filter(_.nonEmpty).map(StructType.fromDDL)

  /** The committed view in `dir` as (frontier, recorded schema); None
    * when `dir` holds no `_frontier`.
    */
  private def committedIn(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path): Option[(Long, Option[StructType])] =
    frontierLines(spark, dir).flatMap(ls =>
      ls.headOption.map(f => (f.trim.toLong, schemaLine(ls))))

  /** The view parquet at `dir`, read with `schema` when the view
    * recorded one (no Spark job), else with footer inference.
    */
  private[graft] def viewFrame(spark: SparkSession, dir: String,
      schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(dir)

  /** [[viewFrame]] at `dir` with the schema its own `_frontier` records
    * — for readers that do not read the frontier anyway.
    */
  private[graft] def viewAt(spark: SparkSession, dir: String): DataFrame =
    viewFrame(spark, dir, frontierLines(spark, new org.apache.hadoop.fs.Path(dir))
      .flatMap(schemaLine))

  /** The frontier recorded by the last committed refresh, or None if no
    * (committed) view exists. Resolves through a torn swap: the prior
    * view's frontier under `__old` answers exactly.
    */
  def frontier(spark: SparkSession, mvPath: String): Option[Long] =
    liveDir(spark, mvPath).flatMap(committedIn(spark, _)).map(_._1)

  /** Snapshot read of the committed view, torn-swap-resolving (the
    * complement of [[frontier]] for callers that need the rows).
    */
  def readView(spark: SparkSession, mvPath: String): Option[DataFrame] =
    liveDir(spark, mvPath).map(dir => viewAt(spark, dir.toString))

  /** The committed serving pair (directory, frontier) resolved from the
    * SAME directory, with the view schema its `_frontier` records (for
    * [[viewFrame]]) — what [[graft.plans.MvRewrite]]'s dynamic-frontier
    * mode consumes. NOTE: this call alone does NOT pin the view's rows
    * — the returned dir's parquet listing happens later at the caller,
    * and a refresh swap landing between this frontier read and that
    * listing would pair the old frontier with the new rows. The
    * consumer (MvRewrite.partialsFrame) closes the window by pinning
    * the parquet file index first and re-calling this to verify the
    * frontier is unchanged (retrying on a detected swap); any new
    * caller must do the same dance or accept the race.
    */
  private[graft] def servingView(spark: SparkSession,
      mvPath: String): Option[(String, Long, Option[StructType])] =
    liveDir(spark, mvPath).flatMap { dir =>
      committedIn(spark, dir).map { case (f, schema) =>
        (dir.toString, f, schema) }
    }

  private def feedBatchIds(spark: SparkSession, feedRoot: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(feedRoot)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).sorted
  }

  /** Fold the feed tail past the recorded frontier into the view.
    * Returns the new frontier (unchanged if there was nothing to fold).
    */
  /** Test-only crash injectors for the swap (the IndexRestartSpec
    * discipline): `beforeSwap` fires after the stage is complete,
    * `betweenRenames` inside the two-rename window.
    */
  private[graft] final case class SwapHooks(
      beforeSwap: () => Unit = () => (),
      betweenRenames: () => Unit = () => ())
  private[graft] object SwapHooks { val none: SwapHooks = SwapHooks() }

  def refresh(spark: SparkSession, feedRoot: String, mvPath: String,
      v: ViewDef): Long = refresh(spark, feedRoot, mvPath, v, SwapHooks.none)

  private[graft] def refresh(spark: SparkSession, feedRoot: String,
      mvPath: String, v: ViewDef, hooks: SwapHooks): Long = {
    val mvP = new org.apache.hadoop.fs.Path(mvPath)
    val fs = fsOf(spark, mvP)
    // repair a torn swap FIRST: crash after both renames → `__old` is
    // litter next to the committed new view (drop it); crash between
    // them → the prior view survives under `__old` (roll it back), and
    // this refresh folds just the tail from its frontier — O(tail)
    // recovery, never a full-feed rebuild
    val oldP = oldPath(mvPath)
    if (fs.exists(oldP)) {
      if (fs.exists(mvP)) fs.delete(oldP, true)
      else require(fs.rename(oldP, mvP),
        s"refresh: rollback rename $oldP -> $mvPath failed")
    }
    val committed = liveDir(spark, mvPath).flatMap(committedIn(spark, _))
    val fr = committed.map(_._1)
    val ids = feedBatchIds(spark, feedRoot)
    require(ids.nonEmpty, s"refresh: no feed batches under $feedRoot")
    if (fr.isEmpty) {
      // frontier-less = full-feed rebuild; refuse if truncation dropped
      // history this fold can no longer see (feed low-water mark —
      // truncateChangeFeed legally drops batches ≤ a registered
      // frontier, but THIS view no longer holds one)
      val lw = graft.operators.IndexProtocol.readLinesIfExists(
        fsOf(spark, new org.apache.hadoop.fs.Path(feedRoot)),
        new org.apache.hadoop.fs.Path(feedRoot, "_low_water"))
        .flatMap(_.headOption).map(_.toLong)
      lw.foreach { w =>
        throw new IllegalStateException(
          s"refresh: no committed view/frontier at $mvPath, but the feed " +
            s"was truncated below batch $w — a full-feed rebuild would " +
            "silently omit the dropped batches' contributions. Rebuild " +
            "the view from the base table instead.")
      }
    }
    val tailIds = fr.map(f => ids.filter(_ > f)).getOrElse(ids)
    if (tailIds.isEmpty) return fr.get
    val newFrontier = tailIds.max

    val tail = spark.read.parquet(
      tailIds.map(id => s"$feedRoot/batch=$id"): _*)
    val merged = foldInto(
      committed.map(c => viewFrame(spark, mvPath, c._2)), tail, v)
    stageAndSwap(spark, fs, mvPath, merged.filter(col(v.countCol) > 0),
      newFrontier, hooks)
    newFrontier
  }

  /** Signed per-grain deltas of a CDC tail folded into the existing
    * view (or standing alone when no view exists yet). Column types
    * stay pinned to the first-committed view schema, so refresh ==
    * full-refold frame-for-frame at any depth.
    */
  private def foldInto(view: Option[DataFrame], tail: DataFrame,
      v: ViewDef): DataFrame = {
    val pos = col("change_op").isin("insert", "update_post")
    val sign = when(pos, lit(1L)).otherwise(lit(-1L))
    val mKeys = v.sumCols.keys.toSeq.sorted
    val deltas = tail.groupBy(v.grain.map(col): _*)
      .agg(sum(sign).as("__dn"),
        mKeys.map(m => sum(when(pos, col(m)).otherwise(-col(m)))
          .as(s"__d_$m")): _*)
    view match {
      case None =>
        deltas.select(v.grain.map(col) ++
          Seq(col("__dn").as(v.countCol)) ++
          mKeys.map(m => col(s"__d_$m").as(v.sumCols(m))): _*)
      case Some(old) =>
        val schema = old.schema
        old.join(deltas, v.grain, "full_outer")
          .select(v.grain.map(col) ++
            Seq((coalesce(col(v.countCol), lit(0L)) +
              coalesce(col("__dn"), lit(0L)))
              .cast(schema(v.countCol).dataType).as(v.countCol)) ++
            mKeys.map { m =>
              val s = v.sumCols(m)
              (coalesce(col(s), lit(0).cast(schema(s).dataType)) +
                coalesce(col(s"__d_$m"), lit(0).cast(schema(s).dataType)))
                .cast(schema(s).dataType).as(s)
            }: _*)
    }
  }

  /** Stage → embed frontier and schema → RETAINING swap: the prior
    * view survives under `__old` until the new one is in place, so a
    * crash at any point leaves a committed view readable (prior or new)
    * — see the class doc. `__old` is dropped last (litter if we crash
    * before).
    */
  private def stageAndSwap(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, mvPath: String,
      alive: DataFrame, newFrontier: Long, hooks: SwapHooks): Unit = {
    val mvP = new org.apache.hadoop.fs.Path(mvPath)
    val oldP = oldPath(mvPath)
    val tmp = s"${mvPath}__stage"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
    alive.write.mode("overwrite").parquet(tmp)
    val ddl = alive.schema.toDDL
    require(!ddl.contains("\n"), s"view schema DDL spans lines: $ddl")
    val frFile = new org.apache.hadoop.fs.Path(tmpPath, "_frontier")
    val out = fs.create(frFile, true)
    try out.write(s"$newFrontier\n$ddl"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    hooks.beforeSwap()
    if (fs.exists(mvP)) {
      require(fs.rename(mvP, oldP),
        s"refresh: retain rename $mvPath -> $oldP failed")
      hooks.betweenRenames()
    }
    require(fs.rename(tmpPath, mvP),
      s"refresh: rename $tmp -> $mvPath failed")
    fs.delete(oldP, true)
  }

  /** Refresh a view maintained over a [[VersionedTable]] — the TABLE-
    * LAYER twin of [[refresh]]: the frontier is a VERSION id, the tail
    * is the manifest-derived CDF
    * ([[VersionedTable.changesBetween]](frontier, latest) — bucket-
    * pruned, no feed maintained anywhere), and a view with no committed
    * frontier BOOTSTRAPS from the table's latest snapshot (a one-time
    * base aggregate — always legal because the snapshot is complete,
    * unlike a possibly-truncated feed). Same retaining-swap durability;
    * same O(|tail| + |grain|) steady cost. Composes with
    * [[graft.plans.MvRegistry.CompDef.versionedDynamic]]: register the
    * view ONCE, refresh on any cadence, and queries stay exactly fresh
    * — compensated from the CDF past whatever frontier the last
    * committed refresh embedded. Retention contract: vacuum must keep
    * the frontier version (the CDF diff needs it; [[VersionedTable.read]]
    * refuses loudly otherwise).
    */
  def refreshFromVersionedTable(spark: SparkSession, tableRoot: String,
      key: String, mvPath: String, v: ViewDef): Long =
    refreshFromVersionedTable(spark, tableRoot, key, mvPath, v, SwapHooks.none)

  private[graft] def refreshFromVersionedTable(spark: SparkSession,
      tableRoot: String, key: String, mvPath: String, v: ViewDef,
      hooks: SwapHooks): Long = {
    val mvP = new org.apache.hadoop.fs.Path(mvPath)
    val fs = fsOf(spark, mvP)
    val oldP = oldPath(mvPath)
    if (fs.exists(oldP)) { // torn-swap repair, as in [[refresh]]
      if (fs.exists(mvP)) fs.delete(oldP, true)
      else require(fs.rename(oldP, mvP),
        s"refreshFromVersionedTable: rollback rename $oldP -> $mvPath failed")
    }
    val latest = VersionedTable.latestVersion(spark, tableRoot).getOrElse(
      throw new IllegalArgumentException(
        s"refreshFromVersionedTable: no committed version at $tableRoot"))
    liveDir(spark, mvPath).flatMap(committedIn(spark, _)) match {
      case Some((f, _)) if f >= latest => f
      case Some((f, schema)) =>
        val tail = VersionedTable.changesBetween(spark, tableRoot, key,
          f, latest)
        val merged = foldInto(Some(viewFrame(spark, mvPath, schema)), tail, v)
        stageAndSwap(spark, fs, mvPath,
          merged.filter(col(v.countCol) > 0), latest, hooks)
        latest
      case None =>
        // bootstrap: one snapshot aggregate — complete by construction
        val mKeys = v.sumCols.keys.toSeq.sorted
        val full = VersionedTable.read(spark, tableRoot, Some(latest))
          .groupBy(v.grain.map(col): _*)
          .agg(count(lit(1)).as(v.countCol),
            mKeys.map(m => sum(col(m)).as(v.sumCols(m))): _*)
        stageAndSwap(spark, fs, mvPath, full, latest, hooks)
        latest
    }
  }
}

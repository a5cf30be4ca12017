package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** dbt-style SCD Type-2 snapshots (`dbt snapshot`, check strategy): the
  * snapshot table carries every key's history as rows with
  * `valid_from`/`valid_to` (null `valid_to` = currently open). Each run
  * merges the source's current state at `asOf`:
  *
  *  - key in both, checked columns unchanged → open row survives as-is
  *  - key in both, any checked column changed → the open row closes at
  *    `asOf` and a new open row begins at `asOf`
  *  - key only in the source (new) → a new open row begins at `asOf`
  *  - key only in the snapshot (disappeared) → the open row stays open
  *    (dbt's default; pass `closeDeleted = true` for
  *    invalidate_hard_deletes semantics)
  *
  * `key` must be unique within one source state (dbt's unique_key
  * contract — duplicate keys would fan out the merge join).
  *
  * Scale shape: ONE full-outer join on the key per run plus the
  * carried-forward closed history (a union, no shuffle). At 100 TB
  * bucket the snapshot table by the key so the daily merge is
  * exchange-free on the snapshot side; closed history is append-only
  * and never rewritten.
  */
object Snapshot {

  def scd2(prior: Option[DataFrame], src: DataFrame, key: String,
      checkCols: Seq[String], asOf: java.sql.Date,
      closeDeleted: Boolean = false): DataFrame = {
    val cols = key +: checkCols
    val srcN = src.select(cols.map(col): _*)
    prior match {
      case None =>
        srcN.withColumn("valid_from", lit(asOf))
          .withColumn("valid_to", lit(null).cast("date"))
      case Some(p) =>
        val closed = p.filter(col("valid_to").isNotNull)
        val open = p.filter(col("valid_to").isNull)
          .withColumn("__in_o", lit(1))
        val s = srcN.withColumn("__in_s", lit(1))
        val j = open.alias("o")
          .join(s.alias("s"), col(s"o.$key") === col(s"s.$key"), "full_outer")
        val inBoth = col("o.__in_o").isNotNull && col("s.__in_s").isNotNull
        // null-safe per-column compare — a checked column flipping
        // to/from null IS a change
        val changed = inBoth && checkCols
          .map(c => !(col(s"o.$c") <=> col(s"s.$c"))).reduce(_ || _)
        val oOnly = col("o.__in_o").isNotNull && col("s.__in_s").isNull
        val sOnly = col("o.__in_o").isNull && col("s.__in_s").isNotNull

        val oCols = cols.map(c => col(s"o.$c").as(c)) :+
          col("o.valid_from").as("valid_from")
        val sCols = cols.map(c => col(s"s.$c").as(c))

        val surviving = j
          .filter((inBoth && !changed) || (oOnly && lit(!closeDeleted)))
          .select(oCols :+ lit(null).cast("date").as("valid_to"): _*)
        val closedNow = j
          .filter(changed || (oOnly && lit(closeDeleted)))
          .select(oCols :+ lit(asOf).as("valid_to"): _*)
        val openedNow = j
          .filter(changed || sOnly)
          .select(sCols :+ lit(asOf).as("valid_from")
            :+ lit(null).cast("date").as("valid_to"): _*)

        closed.select((cols :+ "valid_from" :+ "valid_to").map(col): _*)
          .unionByName(surviving)
          .unionByName(closedNow)
          .unionByName(openedNow)
    }
  }

  /** Point-in-time dimension lookup (the warehouse's temporal join —
    * Kimball's "type-2 lookup": join each fact to the dimension VERSION
    * that was valid at the fact's own date). Composes the as-of
    * primitive instead of a validity-interval range join:
    * [[AsOfJoin.backward]] picks, per fact, the latest version with
    * `valid_from <= fact date` in ONE key-partitioned union+window pass
    * — no fact × version inequality join — and the `valid_to` guard
    * nulls the payload when that version had already closed without a
    * successor covering the date (facts before the key's first version
    * get nulls the same way). Window semantics: `valid_from` inclusive,
    * `valid_to` exclusive — a fact dated exactly on a version change
    * sees the NEW version, matching the SCD2 contract that close and
    * open happen at the same instant.
    *
    * Output: every fact column, plus `dim_<payload>` and
    * `dim_valid_from` (null when no version covers the date).
    */
  def pointInTime(snap: DataFrame, facts: DataFrame, key: String,
      dateCol: String, payload: Seq[String]): DataFrame = {
    val dim = snap.select((Seq(key, "valid_from", "valid_to") ++ payload)
      .map(col): _*)
    val joined = AsOfJoin.backward(facts, dim, Seq(key), dateCol,
      "valid_from", payload :+ "valid_to")
    val covered = col("asof_ts").isNotNull &&
      (col("asof_valid_to").isNull || col(dateCol) < col("asof_valid_to"))
    payload.foldLeft(joined) { (df, p) =>
      df.withColumn(s"dim_$p", when(covered, col(s"asof_$p")))
    }
      .withColumn("dim_valid_from", when(covered, col("asof_ts")))
      .drop(("asof_ts" +: (payload :+ "valid_to").map("asof_" + _)): _*)
  }
}

/** Materialized snapshot store — `dbt snapshot`'s operational shape on a
  * plain-parquet warehouse. The history table is APPEND-ONLY and
  * partitioned by run date (`snap_run`): each run writes ONLY the rows
  * whose state changed that run (rows closed at `asOf` + rows opened at
  * `asOf`); earlier run partitions are never rewritten — at 100 TB a
  * year of daily snapshots over a slowly-changing dimension costs one
  * small delta partition per day, not a daily rewrite of the full
  * history. Re-running the same `asOf` over the same source is
  * idempotent: the delta recomputes identically and the write is a
  * dynamic overwrite of just that run's partition
  * ([[graft.sources.TableWriter.upsertPartitions]]).
  *
  * Alongside the history, each run overwrites a small OPEN-ROWS sidecar
  * table (`<name>__open`, the currently-open rows only). This is what
  * makes the store scale-safe on BOTH hot paths:
  *
  *  - the daily merge joins the source against the open sidecar — closed
  *    history is never read, let alone shuffled, by a run;
  *  - the current snapshot is `history WHERE valid_to IS NOT NULL` ∪
  *    sidecar, with NO window and NO exchange: the append-only protocol
  *    writes each (key, valid_from) pair at most once open and at most
  *    once closed (a closed pair never re-opens — a returning key opens
  *    at a NEW valid_from), so the closed rows need no supersession
  *    logic at all ([[SnapshotVacuumSpec]] pins the exchange-free plan).
  *
  * Sidecar freshness is decided metadata-only (its newest `run_<d>`
  * generation dir vs the history's newest `snap_run=` partition): a
  * crash between the history commit and the
  * sidecar overwrite leaves the sidecar one run behind, and every reader
  * falls back to the latest-run-wins windowed reconstruction (closing a
  * row re-states it under the same (key, valid_from), superseding the
  * open version) until the next run heals it — correctness never depends
  * on the sidecar, only the fast path does.
  */
object SnapshotStore {

  private def openName(name: String): String = s"${name}__open"

  /** `snap_run` partition values present under a table root (metadata-only:
    * one directory listing, no footer reads). ISO dates compare as strings.
    */
  private def runDirs(spark: SparkSession, writer: graft.sources.TableWriter,
      name: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(writer.path(name))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("snap_run=")).map(_.stripPrefix("snap_run="))
  }

  /** Latest-run-wins windowed reconstruction — the self-healing slow path
    * (time travel, or a sidecar left stale by a crash).
    */
  private def reconstruct(hist: DataFrame, key: String): DataFrame = {
    val w = Window.partitionBy(col(key), col("valid_from"))
      .orderBy(col("snap_run").desc)
    hist.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "snap_run")
  }

  /** Sidecar generations are SIBLING DIRECTORIES (`<name>__open/run_<d>`),
    * not partitions of one table: each run plain-overwrites a fresh dir
    * whose build plan reads the PREVIOUS dir — never the same path, so no
    * read-write conflict and no staging copy. Readers take the newest
    * generation; older ones are crash-window stragglers the next run
    * deletes.
    */
  private def sidecarRuns(spark: SparkSession,
      writer: graft.sources.TableWriter, name: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(writer.path(openName(name)))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("run_")).map(_.stripPrefix("run_"))
  }

  private def sidecarLatest(spark: SparkSession,
      writer: graft.sources.TableWriter, name: String,
      latest: String): DataFrame =
    spark.read.parquet(s"${writer.path(openName(name))}/run_$latest")

  /** The currently-open rows (the merge input): the sidecar when fresh,
    * else reconstructed from history.
    */
  private def openRows(spark: SparkSession, writer: graft.sources.TableWriter,
      name: String, key: String): Option[DataFrame] = {
    val runs = runDirs(spark, writer, name)
    if (runs.isEmpty) None
    else {
      val openRuns = sidecarRuns(spark, writer, name)
      // >= not ==: an all-quiet run writes an (unchanged) sidecar but no
      // history partition, leaving the sidecar legitimately ahead
      if (openRuns.nonEmpty && openRuns.max >= runs.max)
        Some(sidecarLatest(spark, writer, name, openRuns.max))
      else
        Some(reconstruct(writer.read(spark, name), key)
          .filter(col("valid_to").isNull))
    }
  }

  /** Reconstruct the current snapshot from the materialized history, or
    * None if no run has been persisted yet. The current state (no `asOf`)
    * is exchange-free — closed rows straight off the history scan union
    * the open sidecar (see object doc for why no dedup is needed).
    * `asOf` time-travels: only runs at or before it participate, so the
    * result is exactly what [[read]] returned right after that run — the
    * append-only layout makes every historical state reconstructible for
    * free (run partitions ≤ asOf are read, later ones partition-pruned
    * away). Time travel reaches back only as far as [[vacuum]] has kept
    * distinct runs: asOf earlier than the vacuum cutoff resolves to the
    * collapsed state.
    */
  def read(spark: SparkSession, writer: graft.sources.TableWriter,
      name: String, key: String,
      asOf: Option[java.sql.Date] = None): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(writer.path(name))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else asOf match {
      case Some(d) =>
        // clamp to the earliest retained run: an asOf older than the
        // vacuum cutoff resolves to the collapsed state (the documented
        // retention floor) — NOT to a silently-empty table, which is what
        // a plain `snap_run <= asOf` filter would produce once the prefix
        // has been collapsed into a partition dated after asOf
        val runs = runDirs(spark, writer, name)
        val eff =
          if (runs.nonEmpty && d.toString < runs.min) runs.min else d.toString
        Some(reconstruct(
          writer.read(spark, name)
            .filter(col("snap_run").cast("string") <= eff), key))
      case None =>
        val runs = runDirs(spark, writer, name)
        val openRuns = sidecarRuns(spark, writer, name)
        if (runs.nonEmpty && openRuns.nonEmpty && openRuns.max >= runs.max) {
          val hist = writer.read(spark, name)
          Some(hist.filter(col("valid_to").isNotNull).drop("snap_run")
            .unionByName(sidecarLatest(spark, writer, name, openRuns.max)))
        } else Some(reconstruct(writer.read(spark, name), key))
    }
  }

  /** Retention vacuum: collapse every run partition with
    * `snap_run <= upTo` into ONE partition at `snap_run=upTo`, then
    * drop the older run dirs. The collapse applies the SAME
    * latest-run-wins rule per (key, valid_from) that [[read]] uses, so
    * the reconstructed snapshot is bit-identical before and after
    * (q72's oracle pins this); runs after `upTo` are never read or
    * rewritten (byte-stable, spec-asserted). At 100 TB this bounds the
    * store at `retention window + 1` partitions — a year of daily runs
    * doesn't mean a year of deltas to merge at read time — and the
    * vacuum reads only the prefix it collapses. Crash-safe by the same
    * supersession argument: the collapsed partition (at the highest
    * prefix run date) wins every (key, valid_from) it shares with an
    * old run dir, so a crash between the overwrite and the dir deletes
    * leaves reads correct and a re-run completes the deletes.
    */
  def vacuum(spark: SparkSession, writer: graft.sources.TableWriter,
      name: String, key: String, upTo: java.sql.Date): Unit = {
    val root = new org.apache.hadoop.fs.Path(writer.path(name))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // recovery from a crash inside a previous vacuum's swap window: if
    // the live `snap_run=upTo` dir went to trash but the staged
    // replacement never moved in, restore the trash (undo) and redo the
    // whole collapse — convergent, and reads were never wrong (the
    // trash name is underscore-prefixed and '='-free, so discovery
    // ignores it and the older run dirs still reconstruct the prefix...
    // except the vacuumed delta itself, which is exactly why the undo
    // runs BEFORE anything reads the table here).
    if (fs.exists(root))
      graft.sources.TableWriter.recoverSwap(fs, root, "snap_run=")
    val full = writer.read(spark, name)
    val prefix = full.filter(col("snap_run") <= lit(upTo))
    // bounded collect: ≤ number of persisted runs
    val runs = prefix.select("snap_run").distinct().collect()
      .map(_.getDate(0))
    if (runs.length > 1) {
      val w = Window.partitionBy(col(key), col("valid_from"))
        .orderBy(col("snap_run").desc)
      // the files under snap_run= dirs carry every column EXCEPT the
      // partition value itself — the staged partition dir matches
      val collapsed = prefix
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn").drop("snap_run")
      // SINGLE WRITE + RENAME SWAP (r13 verdict #6; guide §6): the
      // collapsed prefix is staged ONCE as a ready-made partition dir
      // and published by renames — the old path wrote every surviving
      // byte twice (flat stage, then read back through dynamic
      // partition overwrite). The write must still stage first: the
      // collapse plan reads the very partitions being replaced. Crash
      // windows: before the trash rename — table untouched, stage
      // swept next run; between trash and move-in — undone by the
      // recovery above; after move-in — collapsed partition (at the
      // highest prefix run date) supersedes every (key, valid_from) it
      // shares with older run dirs, so reads stay correct and the
      // re-run completes the deletes. Same protocol family as
      // TableWriter.swapStagedDirs.
      val stage = new org.apache.hadoop.fs.Path(
        writer.path(s"__stage_vacuum_$name"))
      fs.delete(stage, true)
      val stagedPart = new org.apache.hadoop.fs.Path(stage, s"snap_run=$upTo")
      try {
        collapsed.write.mode("overwrite").parquet(stagedPart.toString)
        val live = new org.apache.hadoop.fs.Path(root, s"snap_run=$upTo")
        val trash = new org.apache.hadoop.fs.Path(root, s"_trash_snap_run_$upTo")
        if (fs.exists(live))
          graft.sources.TableWriter.renameOrThrow(fs, live, trash, "vacuum")
        graft.sources.TableWriter.renameOrThrow(fs, stagedPart, live, "vacuum")
        fs.delete(trash, true)
      } finally {
        fs.delete(stage, true)
      }
      runs.filter(_.before(upTo)).foreach { d =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"snap_run=$d"), true)
      }
    }
  }

  /** One snapshot pass: merge `src`'s state at `asOf` against the OPEN
    * rows only (closed history is out of the plan entirely — at 100 TB
    * the daily merge joins the source against the open dimension state,
    * not years of deltas), persist the delta (closed-at-asOf +
    * opened-at-asOf rows) as partition `snap_run=asOf`, advance the open
    * sidecar, and return the post-run snapshot.
    *
    * Write volume per run is 2×delta + open-state, never 2×full-merge:
    * only the DELTA is staged (the partition write would otherwise
    * overwrite a path its own plan is reading); the new sidecar state is
    * then `prior-open ANTI-JOIN closed-keys ∪ opened-rows` — the closed
    * side is delta-sized so the anti-join broadcasts, no join recompute,
    * no exchange. The sidecar advances by a dynamic partition overwrite
    * at `snap_run=asOf` (a fresh directory — nothing the plan reads),
    * after which older sidecar partitions are deleted; a crash anywhere
    * in that window leaves extra partitions that readers partition-prune
    * away ([[sidecarLatest]]) and the next run removes. Sidecar writes
    * come AFTER the history commit: a crash in between degrades reads to
    * the windowed fallback (see object doc), never to wrong answers.
    */
  def run(spark: SparkSession, writer: graft.sources.TableWriter,
      name: String, src: DataFrame, key: String, checkCols: Seq[String],
      asOf: java.sql.Date, closeDeleted: Boolean = false): DataFrame = {
    val runs = runDirs(spark, writer, name)
    // The merge input is the open state STRICTLY BEFORE asOf. For the
    // normal monotone daily run that IS the sidecar; but a re-run of an
    // already-persisted asOf must not merge against the sidecar (it
    // already reflects this run — the recomputed delta would lose the
    // closures), so it reconstructs the pre-run state from the earlier
    // partitions and rewrites the identical delta. The re-run path is
    // taken ONLY for an asOf that was actually persisted: an asOf older
    // than runs.max that was never run is an out-of-order BACKFILL, and
    // silently accepting it would write a snap_run=asOf delta that later
    // runs never merged — the fast-path read (closed history ∪ latest
    // sidecar) and the windowed fallback would then return DIFFERENT
    // data. Rejected until backfill is a designed operation.
    val isRerun = runs.contains(asOf.toString)
    require(runs.isEmpty || isRerun || runs.max < asOf.toString,
      s"snapshot $name: asOf $asOf precedes the latest run ${runs.max} but was " +
        "never persisted — out-of-order backfill would leave a delta later " +
        "runs never merged (readers would disagree); run dates monotonically " +
        "or re-run an existing snap_run date")
    // whether the merge input comes from the SIDECAR (or the table is
    // empty): then the merge plan never reads the history root, and the
    // delta can be written straight into its fresh `snap_run=asOf`
    // partition — one physical write instead of stage + read-back +
    // re-write. Only the re-run and stale-sidecar fallback paths (whose
    // plans DO read the history root) still need the staging copy.
    val sidecarSafe = !isRerun && (runs.isEmpty || {
      val openRuns = sidecarRuns(spark, writer, name)
      openRuns.nonEmpty && openRuns.max >= runs.max
    })
    val prior =
      if (runs.isEmpty) None
      else if (isRerun)
        Some(reconstruct(
            writer.read(spark, name).filter(col("snap_run") < lit(asOf)), key)
          .filter(col("valid_to").isNull))
      else openRows(spark, writer, name, key)
    val merged = Snapshot.scd2(prior, src, key, checkCols, asOf, closeDeleted)
    val mergedDelta = merged.filter(
      col("valid_to") === lit(asOf) || col("valid_from") === lit(asOf))
    // always clean the scratch dir — a failure between the stage write
    // and the partition upsert must not leave __stage_* shadowing the
    // table namespace
    val stage = writer.path(s"__stage_$name")
    try {
      val delta =
        if (sidecarSafe) {
          // pinned: the delta feeds the history write, the opened rows,
          // and the anti-join below — one merge computation, not three
          val d = mergedDelta.persist()
          writer.upsertPartitions(
            d.withColumn("snap_run", lit(asOf)), name, Seq("snap_run"))
          d
        } else {
          mergedDelta.write.mode("overwrite").parquet(stage)
          val d = spark.read.parquet(stage)
          writer.upsertPartitions(
            d.withColumn("snap_run", lit(asOf)), name, Seq("snap_run"))
          d
        }
      val opened = delta.filter(col("valid_from") === lit(asOf) &&
        col("valid_to").isNull)
      val newOpen = prior match {
        case None => opened
        case Some(p) =>
          p.join(delta.filter(col("valid_to") === lit(asOf)).select(col(key)),
              Seq(key), "left_anti")
            .unionByName(opened)
      }
      newOpen.write.mode("overwrite")
        .parquet(s"${writer.path(openName(name))}/run_$asOf")
      if (sidecarSafe) delta.unpersist(blocking = false)
      val openRoot = new org.apache.hadoop.fs.Path(writer.path(openName(name)))
      val fs = openRoot.getFileSystem(spark.sessionState.newHadoopConf())
      sidecarRuns(spark, writer, name).filter(_ < asOf.toString)
        .foreach { d =>
          fs.delete(new org.apache.hadoop.fs.Path(openRoot, s"run_$d"), true)
        }
    } finally {
      val sp = new org.apache.hadoop.fs.Path(stage)
      sp.getFileSystem(spark.sessionState.newHadoopConf()).delete(sp, true)
    }
    read(spark, writer, name, key).get
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame

/** Parallelism guard for CPU-heavy narrow stages (classifier UDFs, regex
  * banks, codec decode). A small parquet scan yields as few as ONE input
  * split, and every narrow transform downstream inherits it — a 32-core
  * session then runs the whole classifier on one core. At 100 TB the scan
  * has thousands of splits and this is a no-op; the guard only pays a
  * shuffle when the source is too small for one to matter.
  */
object Parallelism {

  /** Overlap two INDEPENDENT driver-side legs of a multi-action
    * operation (guide §2.6: Spark schedules concurrent jobs happily —
    * actions are only sequential because driver code calls them
    * sequentially, and each sequential leg leaves the tail of the
    * previous job's stage idle). Runs `a` on a helper thread while `b`
    * runs on the caller's thread, joins BOTH before returning (so no
    * leg ever outlives the protocol scope that owns its input pins),
    * and rethrows `a`'s failure first. Spark job-group/description
    * properties are inherited by the helper thread (InheritableThreadLocal
    * semantics), so UI attribution is unchanged. Use ONLY for legs with
    * no ordering constraint between them: any publish/commit step that
    * must follow both legs belongs AFTER the overlap call, never inside
    * either leg.
    */
  def overlap[A, B](a: => A)(b: => B): (A, B) = {
    @volatile var ra: Either[Throwable, A] = null
    val t = new Thread(() =>
      ra = try Right(a) catch { case e: Throwable => Left(e) },
      "graft-overlap-leg")
    t.setDaemon(true)
    t.start()
    val rb = try Right(b) catch { case e: Throwable => Left(e) }
    t.join()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), _) => throw e
      case (_, Left(e)) => throw e
    }
  }

  /** Scale-guarded DataFrame-level fan-out for CPU-heavy narrow work
    * whose input is a FILE SCAN: when the scan would yield fewer splits
    * than half the session parallelism, hash-repartition by `key` to
    * the session parallelism so the per-row work (shingling, signature
    * hashing, tokenize passes, vector arithmetic) spreads across cores
    * instead of inheriting the scan's one split. Differences from
    * [[fanOut]]'s RDD round-trip, which exists for the AQE-reuse corner
    * it documents: this stays a catalyst Repartition node, so size
    * statistics survive (downstream broadcast joins keep firing — an
    * RDD boundary resets stats to "huge" and degrades them to
    * sort-merge/cartesian), rows stay in Spark's internal format (no
    * Java serialization round-trip), and the guard reads the file
    * index (no AQE stage execution just to count partitions).
    * `repartition(n, key)` pins the partition count, which AQE's
    * coalescing respects. Plans that are not projection/filter over a
    * single file-source leaf are returned unchanged — they sit above a
    * shuffle already and carry its parallelism. At 100 TB a real scan
    * has thousands of splits and this is a no-op.
    */
  def fanOutScan(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    scanBytes(df.queryExecution.analyzed) match {
      case Some(bytes) =>
        val maxSplit =
          math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
        val splits = math.max(1L, bytes / maxSplit)
        if (splits < (target + 1) / 2) df.repartition(target, key) else df
      case None => df
    }
  }

  /** Estimated bytes under a projection/filter chain over ONE
    * file-source (or local) leaf; None for any other shape.
    */
  private def scanBytes(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        Some(lr.relation.sizeInBytes)
      case l: LocalRelation => Some(l.stats.sizeInBytes.toLong)
      case pr: Project => scanBytes(pr.child)
      case f: Filter => scanBytes(f.child)
      case a: SubqueryAlias => scanBytes(a.child)
      case _ => None
    }
  }

  /** Spread `df` out to the session's default parallelism iff its
    * current partition count is below half of it. The redistribution runs
    * at the RDD level on purpose: a DataFrame `repartition(n)` is an AQE
    * exchange, and when that exchange is REUSED by several consumers
    * AQE's size-based coalescing folded the small-but-CPU-heavy consumer
    * stages back to one task each (observed on the classifier's three
    * arms). The RDD boundary is invisible to AQE, and it only ever runs
    * under the guard — tiny inputs, where the row round-trip is noise.
    *
    * Rows are assigned by CONTENT hash, not round-robin: round-robin
    * depends on input iteration order, which is not retry-stable after a
    * shuffle fetch; a content hash gives every row the same partition on
    * any attempt, in any order.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < (target + 1) / 2) {
      val redistributed = df.rdd
        .keyBy(r => java.lang.Math.floorMod(r.hashCode, target))
        .partitionBy(new org.apache.spark.HashPartitioner(target))
        .values
      df.sparkSession.createDataFrame(redistributed, df.schema)
    } else df
  }
}

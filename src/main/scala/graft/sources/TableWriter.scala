package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Materialization sink (SURVEY §2.1 S3) — the engine analogue of dbt's
  * `+materialized: table` (reference dbt_project.yml:14-16: every model is a
  * physical table rebuild). Parquet, overwrite semantics, optional partition
  * columns: rollup outputs should partition by their `date_period` grain so
  * downstream reads prune partitions instead of scanning history.
  */
final class TableWriter(warehouseDir: String) extends Serializable {

  def path(name: String): String = s"$warehouseDir/$name"

  private def rebucketStage(name: String) =
    new org.apache.hadoop.fs.Path(path(s"__stage_rebucket_$name"))
  private def rebucketTrash(name: String) =
    new org.apache.hadoop.fs.Path(path(s"_trash_rebucket_$name"))

  /** Whether table `name` exists, after undoing a [[rebucket]] that
    * crashed between its two renames: then the old table sits whole
    * under the rebucket trash name and nothing is at `path(name)`, so
    * the trash is renamed back and the stage dropped. Every write that
    * tests for the table goes through here — otherwise the missing
    * table would read as a new one and the next merge would publish
    * its batch alone. Costs nothing extra when the table is present.
    */
  private def tableExists(fs: org.apache.hadoop.fs.FileSystem,
      name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(name))
    fs.exists(p) || (fs.exists(rebucketTrash(name)) && {
      TableWriter.renameOrThrow(fs, rebucketTrash(name), p, "rebucket recovery")
      fs.delete(rebucketStage(name), true)
      true
    })
  }

  def materialize(name: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): String = {
    val w = df.write.mode(mode)
    val withParts = if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
    withParts.parquet(path(name))
    path(name)
  }

  /** Read `name`, inferring its schema from the parquet footers (one
    * Spark job). Callers that know the layout pass it to the overload
    * below instead.
    */
  def read(spark: org.apache.spark.sql.SparkSession, name: String): DataFrame =
    spark.read.parquet(path(name))

  /** Read `name` with a schema the caller already holds (the frame it
    * materialized, or a declared layout): building the frame lists the
    * files and launches no Spark job. Partition columns come last, as
    * in an inferred read; an older file without a column null-fills it.
    */
  def read(spark: org.apache.spark.sql.SparkSession, name: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(path(name))

  // ---- shallow clone (zero-copy branch) on the mergeByKey layout ----
  //
  // The Delta/Iceberg SHALLOW CLONE analogue on plain parquet: a clone is
  // a _clone_manifest file listing, per __bucket, the SOURCE's data files
  // at clone time — no data is copied (clone cost is O(files) metadata,
  // independent of data volume). Reads resolve manifest files plus any
  // locally materialized buckets; a merge/delete into the clone is
  // copy-on-write at bucket granularity — touched buckets materialize
  // into the clone's own directory and leave the manifest, untouched
  // buckets keep serving the source's files. The inherited caveat is
  // Delta's own: the manifest pins FILES, so rewriting the SOURCE
  // (merge/delete/compact/rebucket on it) invalidates clones that still
  // point at the rewritten buckets — production pairs shallow clones
  // with source retention ≥ clone lifetime, exactly like CLONE + VACUUM.

  private def manifestFile(name: String) =
    new org.apache.hadoop.fs.Path(path(name), "_clone_manifest")

  /** Per-bucket data files of `name`: locally materialized buckets from
    * the directory layout, pointed buckets from the manifest (a clone's
    * local bucket SHADOWS its manifest entry — COW already replaced it).
    */
  private def bucketFiles(fs: org.apache.hadoop.fs.FileSystem,
      name: String): Map[Int, Seq[String]] = {
    val root = new org.apache.hadoop.fs.Path(path(name))
    val local: Map[Int, Seq[String]] =
      if (!fs.exists(root)) Map.empty
      else fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("__bucket="))
        .map { st =>
          val b = st.getPath.getName.stripPrefix("__bucket=").toInt
          b -> fs.listStatus(st.getPath).toSeq.filter(_.isFile)
            .map(_.getPath.toString)
            .filterNot(p => { val n = p.substring(p.lastIndexOf('/') + 1)
              n.startsWith("_") || n.startsWith(".") })
        }.toMap
    val mf = manifestFile(name)
    val pointed: Map[Int, Seq[String]] =
      if (!fs.exists(mf)) Map.empty
      else {
        val in = fs.open(mf)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList finally in.close()
        lines.filter(_.nonEmpty).map { l =>
          val Array(b, p) = l.split("\t", 2); (b.toInt, p)
        }.groupBy(_._1).map { case (b, ps) => b -> ps.map(_._2) }
      }
    pointed ++ local // local wins: COW has superseded the pointer
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      name: String, entries: Map[Int, Seq[String]]): Unit = {
    val mf = manifestFile(name)
    if (entries.isEmpty) { fs.delete(mf, false); return } // fully materialized
    // stage-then-rename, matching the bucket-swap atomicity discipline:
    // truncating the live manifest in place would let a crash mid-write
    // leave a valid-looking PREFIX manifest that readResolved would
    // silently serve as a subset of the table's buckets
    val tmp = new org.apache.hadoop.fs.Path(path(name), "._clone_manifest_tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.toSeq.sortBy(_._1)
      .flatMap { case (b, ps) => ps.sorted.map(p => s"$b\t$p") }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    // ATOMIC replacing rename (FileContext + Options.Rename.OVERWRITE):
    // a delete-then-rename pair would open a crash window with NO
    // manifest at all, and manifest ABSENCE means "fully materialized"
    // to readResolved — the clone would silently serve only its local
    // buckets and drop every still-borrowed source bucket (r10 advisor).
    // Supported on local/HDFS; an object-store deployment would use a
    // conditional put here.
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.getUri, fs.getConf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(mf),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Zero-copy clone of a [[mergeByKey]]-layout table: writes only the
    * manifest (and the dst directory). Cloning a clone flattens: dst
    * points at whatever files src currently serves, local or pointed.
    */
  def shallowClone(spark: org.apache.spark.sql.SparkSession,
      src: String, dst: String): String = {
    val p = new org.apache.hadoop.fs.Path(path(src))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(tableExists(fs, src), s"shallowClone: no table at ${path(src)}")
    val dstP = new org.apache.hadoop.fs.Path(path(dst))
    require(!fs.exists(dstP), s"shallowClone: ${path(dst)} already exists")
    fs.mkdirs(dstP)
    writeManifest(fs, dst, bucketFiles(fs, src))
    path(dst)
  }

  /** Read `name` resolving a clone manifest if present; `buckets`
    * restricts to those bucket ids (the pruned read the merge/delete
    * paths use — only the named buckets' files are listed and read).
    * Plain tables take the ordinary partition-discovery read. Files are
    * read grouped by their owning table root with that root as basePath,
    * so the `__bucket` partition column is reconstructed from the paths;
    * at cluster scale this resolver is a custom FileIndex, same
    * semantics.
    */
  def readResolved(spark: org.apache.spark.sql.SparkSession, name: String,
      buckets: Option[Seq[Int]] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(manifestFile(name))) {
      val df = spark.read.parquet(path(name))
        .withColumn("__bucket", col("__bucket").cast("int"))
      buckets match {
        case Some(bs) => df.filter(col("__bucket").isin(bs: _*))
        case None => df
      }
    } else {
      val files = bucketFiles(fs, name)
      val selected = buckets match {
        case Some(bs) => files.filter { case (b, _) => bs.contains(b) }
        case None => files
      }
      val allFiles = selected.toSeq.flatMap { case (_, ps) => ps }
      // validate BEFORE the substring grouping: a corrupted manifest line
      // must fail with this message, not a string-index crash
      allFiles.find(!_.contains("/__bucket=")).foreach { bad =>
        throw new IllegalStateException(
          s"readResolved: manifest entry without /__bucket=/ path in $name: $bad")
      }
      val byRoot = allFiles.groupBy(f => f.substring(0, f.indexOf("/__bucket=")))
      val frames = byRoot.toSeq.sortBy(_._1).map { case (root, fsq) =>
        spark.read.option("basePath", root).parquet(fsq.sorted: _*)
          .withColumn("__bucket", col("__bucket").cast("int"))
      }
      frames.reduceOption(_ unionByName _).getOrElse {
        // none of the selected buckets exist — empty frame, table schema
        val all = files.toSeq.flatMap(_._2)
        require(all.nonEmpty, s"readResolved: clone $name has no files")
        spark.read
          .option("basePath", all.head.substring(0, all.head.indexOf("/__bucket=")))
          .parquet(all.head).limit(0)
          .withColumn("__bucket", col("__bucket").cast("int"))
      }
    }
  }

  /** After a COW write into clone `name` replaced `touched` buckets with
    * local dirs, drop their manifest pointers (no-op for plain tables).
    */
  private def dropManifestEntries(fs: org.apache.hadoop.fs.FileSystem,
      name: String, touched: Set[Int]): Unit = {
    val mf = manifestFile(name)
    if (!fs.exists(mf)) return
    val in = fs.open(mf)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    val kept = lines.filter(_.nonEmpty).map { l =>
      val Array(b, p) = l.split("\t", 2); (b.toInt, p)
    }.filterNot { case (b, _) => touched.contains(b) }
      .groupBy(_._1).map { case (b, ps) => b -> ps.map(_._2) }
    writeManifest(fs, name, kept)
  }

  /** Incremental materialization (the dbt `incremental` analogue on plain
    * parquet): dynamic partition overwrite replaces ONLY the partitions
    * present in `df`, leaving history untouched — the idempotent daily-load
    * pattern at 100 TB (re-running a day rewrites just that day's
    * partition).
    */
  def upsertPartitions(df: DataFrame, name: String,
      partitionBy: Seq[String]): String = {
    require(partitionBy.nonEmpty, "incremental upsert needs partition columns")
    // Scoped to this write only — mutating the session conf would silently
    // turn later full-rebuild overwrites into partial (dynamic) ones.
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(path(name))
    path(name)
  }

  /** Incremental MERGE materialization (dbt's `incremental` +
    * `merge` strategy on plain parquet): upsert `incoming` by `key` into
    * the table, rewriting ONLY the key-hash bucket partitions the batch
    * touches. The table is laid out with a derived `__bucket =
    * pmod(xxhash64(key), numBuckets)` partition column — hash-derived so
    * ANY key type works (string business keys are the common dbt case),
    * pinned to INT so the incoming side and the partition-inferred
    * re-read side agree exactly. A merge reads just the affected
    * buckets, keeps the newest row per key (incoming wins ties), and
    * dynamic-partition-overwrites those buckets — untouched buckets are
    * never read or rewritten, so a daily trickle of updates costs
    * O(touched buckets), not a table rewrite. (Table formats with
    * merge-on-read do this with finer granularity; the bucket-scoped
    * rewrite is the honest plain-parquet equivalent.) The incoming batch
    * must carry at most one row per key.
    *
    * `resolveOrder` (optional) replaces the default "incoming wins"
    * rule with an ATTRIBUTE-BASED winner: the first row per key under
    * that ordering survives, whether it came from the batch or the
    * table. This makes the merge an associative argmax — batches can
    * arrive in any order and the table converges to the same state
    * (the streaming-upsert property q83 proves) — and it resolves in
    * ONE window pass inside the merge instead of a caller-side
    * pre-merge against a second read of the table. The ordering must be
    * total per key (break ties on a unique column) or the winner is
    * nondeterministic.
    */
  def mergeByKey(spark: org.apache.spark.sql.SparkSession, name: String,
      incoming: DataFrame, key: String, numBuckets: Int = 16,
      resolveOrder: Seq[org.apache.spark.sql.Column] = Nil): String = {
    import org.apache.spark.sql.functions._
    val withBucket = incoming
      .withColumn("__bucket",
        pmod(xxhash64(col(key)), lit(numBuckets.toLong)).cast("int"))
      .withColumn("__gen", lit(1))
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!tableExists(fs, name))
      mergeStagedSwap(spark, name, withBucket.drop("__gen"))
    else {
      // pin the incoming side for the scope of the merge: the affected-
      // bucket collect and the merged write both consume it, and without
      // the pin each re-runs the caller's full source plan (scan +
      // filters) from scratch — one batch-sized materialization replaces
      // two source passes. Gated: a batch that IS a pruned scan re-runs
      // cheaper than it persists (TableWriter.pinScoped).
      val (pinned, release) = TableWriter.pinScoped(withBucket)
      try {
        // bounded collect: ≤ numBuckets ids
        val affected = pinned.select("__bucket").distinct()
          .collect().map(_.getInt(0))
        TableWriter.recoverSwap(fs, p, "__bucket=")
        val existing = readResolved(spark, name, Some(affected.toIndexedSeq))
          .withColumn("__gen", lit(0))
        mergeStagedSwap(spark, name,
          resolveMerge(pinned, existing, key, resolveOrder))
      } finally release()
    }
    path(name)
  }

  /** The merge's resolution pass: existing ∪ incoming, one row per key
    * kept by `resolveOrder` (default: incoming — `__gen` desc — wins).
    */
  private def resolveMerge(withBucket: DataFrame, existing: DataFrame,
      key: String,
      resolveOrder: Seq[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(
      (if (resolveOrder.nonEmpty) resolveOrder
       else Seq(col("__gen").desc)): _*) // default: incoming wins
    existing.unionByName(withBucket)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn").drop("__gen")
  }

  /** Stage-then-swap publication of a merged table state (the write half
    * of [[mergeByKey]], shared with [[mergeByKeyCdc]]). `alongside` is
    * an optional INDEPENDENT protocol leg (the CDC feed write) run
    * concurrently with the staged table write — guide §2.6: the two
    * writes consume the same pinned/pruned inputs and touch disjoint
    * outputs, so their jobs back-fill each other's stage tails. The
    * SWAP (the publication point) happens only after BOTH complete,
    * preserving the feed-before-publish ordering the crash protocol
    * relies on: a crash anywhere in the parallel region leaves the
    * table unpublished, exactly like the old sequential
    * feed-then-merge order.
    */
  private def mergeStagedSwap(spark: org.apache.spark.sql.SparkSession,
      name: String, merged: DataFrame,
      alongside: () => Unit = () => ()): Unit = {
    import org.apache.spark.sql.functions._
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // stage first (writing the table in place would overwrite the path the
    // merge plan itself is reading), then SWAP the staged bucket dirs into
    // the table root — renames are metadata ops, so the touched-bucket
    // content is physically written ONCE per merge instead of twice (the
    // old dynamic-overwrite pass re-wrote the whole staged content). The
    // repartition clusters each bucket into one task, so file count tracks
    // buckets — without it every shuffle task fans a file into every
    // bucket dir (tasks × buckets small files at scale). Old bucket
    // content moves to an underscore-prefixed, '='-free trash name first
    // (hidden from readers — partition discovery only keeps underscore
    // dirs that look like partitions), so readers never see two
    // generations of one bucket; a crash mid-swap leaves a bucket in
    // trash, which the next merge or delete restores before it reads
    // (TableWriter.recoverSwap).
    val stage = path(s"__stage_$name")
    val stageP = new org.apache.hadoop.fs.Path(stage)
    try {
      graft.operators.Parallelism.overlap(alongside()) {
        merged
          .repartition(col("__bucket"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("__bucket")
          .parquet(stage)
      }
      if (!fs.exists(p)) fs.mkdirs(p)
      val swapped = TableWriter.swapStagedDirs(fs, stageP, p, "__bucket=")
      // COW bookkeeping on clones: swapped buckets are local now
      dropManifestEntries(fs, name, swapped.toSet)
    } finally {
      fs.delete(stageP, true)
    }
  }

  /** Targeted delete-by-key on a [[mergeByKey]]-layout table — the
    * right-to-be-forgotten operator (at 100 TB, "delete these 10k user
    * ids" must not rewrite the table). `doomedKeys` (one column named
    * `key`, any type) is hashed through the SAME
    * `pmod(xxhash64(key), numBuckets)` derivation the layout uses, so
    * only the bucket partitions that could contain a doomed key are
    * read; of those, only buckets that ACTUALLY hold a doomed row (a
    * bucket-pruned semi-join probe decides) are anti-joined and
    * dynamic-partition-overwritten — so doomed keys absent from the
    * table, and re-runs of the same delete, write NOTHING, and every
    * unrewritten bucket is byte-stable (spec-asserted). Cost tracks
    * touched buckets × bucket size, not table size. The doomed set
    * stays distributed (the joins shuffle or broadcast at Spark's
    * discretion) — only bucket IDs are collected
    * (≤ numBuckets). A bucket whose every row is doomed is handled
    * explicitly: dynamic overwrite can't write an empty partition, so
    * emptied bucket dirs are deleted after the overwrite commits.
    * `numBuckets` must match the value the table was laid out with.
    */
  def deleteByKey(spark: org.apache.spark.sql.SparkSession, name: String,
      doomedKeys: DataFrame, key: String, numBuckets: Int = 16): String = {
    import org.apache.spark.sql.functions._
    // doomed feeds three passes (bucket collect, hit probe, anti-join)
    // and candidates two (probe, anti-join) — pin both for the op's scope
    // instead of re-running the doomed source plan and the touched-bucket
    // parquet read each time. Gated (pinScoped): the candidates side is
    // a bucket-pruned scan and normally re-runs cheaper than it persists
    val (doomed, releaseDoomed) = TableWriter.pinScoped(
      doomedKeys.select(col(key)).distinct()
        .withColumn("__bucket",
          pmod(xxhash64(col(key)), lit(numBuckets.toLong)).cast("int")))
    try {
      // bounded collect: ≤ numBuckets ids
      val affected = doomed.select("__bucket").distinct()
        .collect().map(_.getInt(0))
      val root = new org.apache.hadoop.fs.Path(path(name))
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      tableExists(fs, name) // undoes a crashed rebucket before the reads
      TableWriter.recoverSwap(fs, root, "__bucket=")
      val (candidates, releaseCand) = TableWriter.pinScoped(
        readResolved(spark, name, Some(affected.toIndexedSeq)))
      try deletePrepared(spark, name, doomed, candidates, key)
      finally releaseCand()
    } finally releaseDoomed()
    path(name)
  }

  /** The delete's probe + rewrite over pinned inputs (shared by
    * [[deleteByKey]] and [[deleteByKeyCdc]], which pins the same two
    * frames for its change feed as well).
    */
  private def deletePrepared(spark: org.apache.spark.sql.SparkSession,
      name: String, doomed: DataFrame, candidates: DataFrame,
      key: String, alongside: () => Unit = () => ()): Unit = {
    import org.apache.spark.sql.functions._
    val stage = path(s"__stage_$name")
    val stageP = new org.apache.hadoop.fs.Path(stage)
    val root = new org.apache.hadoop.fs.Path(path(name))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      // `alongside` (the CDC feed write, when the caller has one) runs
      // concurrently with the probe + staged survivor write (guide
      // §2.6) — both consume the same pinned/pruned inputs; the SWAP
      // (publication) waits for both, preserving feed-before-publish
      val (_, hitOpt) = graft.operators.Parallelism.overlap(alongside()) {
        // rewrite ONLY buckets that actually hold a doomed row — keys
        // absent from the table (and re-runs of the same delete) cost a
        // bucket-pruned semi-join probe, zero writes (bounded collect:
        // ≤ numBuckets ids)
        val hit = candidates.join(doomed.select(col(key)), Seq(key), "left_semi")
          .select("__bucket").distinct().collect().map(_.getInt(0))
        if (hit.isEmpty) None
        else {
          val existing = candidates.filter(col("__bucket").isin(hit.toIndexedSeq: _*))
          val survivors = existing.join(doomed.select(col(key)), Seq(key), "left_anti")
          // stage-then-swap (see [[mergeStagedSwap]]): the survivors are
          // physically written ONCE, partitioned by bucket — the old plan
          // wrote them flat to a stage, then read the stage back and
          // re-wrote everything under dynamic partition overwrite
          // (see mergeByKey: cluster by bucket so file count tracks buckets)
          survivors.repartition(col("__bucket"))
            .write.mode(SaveMode.Overwrite)
            .partitionBy("__bucket")
            .parquet(stage)
          Some(hit)
        }
      }
      hitOpt.foreach { hit =>
        val surviving: Set[Int] =
          TableWriter.swapStagedDirs(fs, stageP, root, "__bucket=").toSet
        // a bucket whose every row was doomed has no staged dir — drop it
        hit.filterNot(surviving).foreach { b =>
          fs.delete(new org.apache.hadoop.fs.Path(root, s"__bucket=$b"), true)
        }
        // COW bookkeeping on clones: every hit bucket is now local (or gone)
        dropManifestEntries(fs, name, hit.toSet)
      }
    } finally {
      fs.delete(stageP, true)
    }
  }

  /** Re-bucket a [[mergeByKey]]-layout table — the bucket-count
    * lifecycle operator the sizing rule implies: merge/delete cost
    * tracks touched-bucket VOLUME, so bucket volume is held constant by
    * growing the bucket count as the table grows (16 buckets at 1×,
    * 1600 at 100× — the CDC scale probe's measured rule). This is a
    * deliberate full rewrite (a layout migration, the one operation
    * that must touch every row): `__bucket` is re-derived with the same
    * `pmod(xxhash64(key), newBuckets)` the layout contract uses, so
    * every subsequent merge/delete/prune at `newBuckets` stays correct.
    * Swap protocol: stage the new layout, move the live root to an
    * underscore trash name, rename the stage in, drop the trash. A crash
    * before the first rename leaves the old table plus a sweepable
    * stage; after the second, the new table plus sweepable trash. A
    * crash between the two leaves NO table at the path, only the old
    * one under the trash name and the new one as the stage: the next
    * write or rebucket on `name` renames the trash back and drops the
    * stage first ([[tableExists]]), so the old generation serves again
    * and no merge ever starts from an empty table. The two generations
    * are never mixed.
    */
  def rebucket(spark: org.apache.spark.sql.SparkSession, name: String,
      key: String, newBuckets: Int): String = {
    import org.apache.spark.sql.functions._
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(tableExists(fs, name), s"rebucket: no table at ${path(name)}")
    val stageP = rebucketStage(name)
    val stage = stageP.toString
    val trash = rebucketTrash(name)
    fs.delete(stageP, true)
    fs.delete(trash, true)
    // resolve a clone manifest if present: rebucketing a clone is the
    // natural deep-clone conversion (full rewrite → fully local, and the
    // manifest is trashed with the old root)
    readResolved(spark, name)
      .drop("__bucket")
      .withColumn("__bucket",
        pmod(xxhash64(col(key)), lit(newBuckets.toLong)).cast("int"))
      .repartition(col("__bucket")) // one file per bucket dir, see mergeByKey
      .write.mode(SaveMode.Overwrite)
      .partitionBy("__bucket")
      .parquet(stage)
    TableWriter.renameOrThrow(fs, p, trash, "rebucket")
    TableWriter.renameOrThrow(fs, stageP, p, "rebucket")
    fs.delete(trash, true)
    path(name)
  }

  /** [[mergeByKey]] with a change-data feed (the Delta/Iceberg CDF
    * analogue on plain parquet): the row-level changes the merge will
    * apply are computed FIRST — against the same touched-bucket read the
    * merge itself does — and appended to `{name}_changes` as
    * (batch_id, change_op, <payload>) rows, then the merge runs.
    * change_op ∈ insert | update_pre | update_post; a batch row
    * identical (null-safely) to the table row emits NOTHING, so
    * idempotent re-runs are silent in the feed — which is what lets a
    * downstream consumer apply the feed as deltas (+post −pre) without
    * double counting. Cost: one extra key join over the touched buckets
    * (the same data the merge reads anyway). The feed is append-only
    * and batch_id-stamped; consumers needing exactly-once should
    * dedupe on batch_id. Default "incoming wins" resolution only —
    * attribute-based resolveOrder merges have no well-defined per-batch
    * pre/post image (the winner may be the existing row).
    */
  def mergeByKeyCdc(spark: org.apache.spark.sql.SparkSession, name: String,
      incoming: DataFrame, key: String, batchId: Long,
      numBuckets: Int = 16, feedMaxRowsPerFile: Long = 4000000L): String = {
    import org.apache.spark.sql.functions._
    val valueCols = incoming.columns.filterNot(_ == key).toSeq
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val outCols = (Seq(col("batch_id"), col("change_op"), col(key))
      ++ valueCols.map(col))
    if (!tableExists(fs, name)) {
      // fresh table: the feed write and the table write both consume the
      // batch — pin it once (same discipline as the incremental branch;
      // gated, see TableWriter.pinScoped)
      val (withBucket, release) = TableWriter.pinScoped(
        incoming.withColumn("__bucket",
          pmod(xxhash64(col(key)), lit(numBuckets.toLong)).cast("int")))
      try {
        val changes = withBucket.withColumn("batch_id", lit(batchId))
          .withColumn("change_op", lit("insert"))
          .select(outCols: _*)
        // feed write ∥ staged table write (guide §2.6); publication
        // still strictly after the feed lands — see mergeStagedSwap
        mergeStagedSwap(spark, name, withBucket,
          alongside = () => writeFeedBatch(s"${name}_changes", batchId,
            changes, feedMaxRowsPerFile))
      } finally release()
    } else {
      // the change computation and the merge consume the SAME two inputs
      // (the batch, and the touched buckets of the table) — pin both once
      // instead of re-running the batch's source plan four times (bucket
      // collect, change join, merge's own bucket collect, merged write)
      // and the touched-bucket parquet read twice. Gated (pinScoped):
      // either side that is a pruned scan re-runs cheaper than it pins.
      val (withBucket, releaseBatch) = TableWriter.pinScoped(
        incoming.withColumn("__bucket",
          pmod(xxhash64(col(key)), lit(numBuckets.toLong)).cast("int")))
      try {
        // bounded collect: ≤ numBuckets ids
        val affected = withBucket.select("__bucket").distinct()
          .collect().map(_.getInt(0))
        TableWriter.recoverSwap(fs, p, "__bucket=")
        val (existing, releaseExisting) = TableWriter.pinScoped(
          readResolved(spark, name, Some(affected.toIndexedSeq)))
        try {
          val n = withBucket.drop("__bucket").alias("n")
          val o = existing.drop("__bucket").alias("o")
          val j = n.join(o, col(s"n.$key") === col(s"o.$key"), "left")
          val unchanged = valueCols
            .map(c => col(s"n.$c") <=> col(s"o.$c"))
            .reduceOption(_ && _).getOrElse(lit(true))
          def img(side: String, op: String): Seq[org.apache.spark.sql.Column] =
            Seq(lit(batchId).as("batch_id"), lit(op).as("change_op"),
              col(s"$side.$key").as(key)) ++
              valueCols.map(c => col(s"$side.$c").as(c))
          val inserts = j.filter(col(s"o.$key").isNull)
            .select(img("n", "insert"): _*)
          val updated = j.filter(col(s"o.$key").isNotNull && !unchanged)
          val changes = inserts
            .unionByName(updated.select(img("o", "update_pre"): _*))
            .unionByName(updated.select(img("n", "update_post"): _*))
          // feed write ∥ staged table write (guide §2.6): the change
          // join and the merge read the same pinned inputs and the live
          // (pre-swap) buckets; the swap publishes only after both legs
          mergeStagedSwap(spark, name,
            resolveMerge(withBucket.withColumn("__gen", lit(1)),
              existing.withColumn("__gen", lit(0)), key, Nil),
            alongside = () => writeFeedBatch(s"${name}_changes", batchId,
              changes, feedMaxRowsPerFile))
        } finally releaseExisting()
      } finally releaseBatch()
    }
    path(name)
  }

  /** Write one change-feed batch into its OWN directory
    * (`{feed}/batch=<id>/`) as `ceil(rows / feedMaxRowsPerFile)` files:
    * a bulk backfill's feed no longer funnels through a single write
    * task (the old `coalesce(1)`), while consumers still see BATCHES —
    * read the batch directories in order, or glob them all via
    * [[readChangeFeed]]. Size estimation is row-count-based (the
    * changes frame is pinned for the count, so the plan — which reads
    * the pre-merge table — runs once); `feedMaxRowsPerFile` is the
    * deployment's row-width knob. Re-writes of a batch id overwrite
    * that batch's directory idempotently.
    */
  private def writeFeedBatch(feedName: String, batchId: Long,
      changes: DataFrame, feedMaxRowsPerFile: Long): Unit = {
    // gated pin (TableWriter.pinScoped): the count and the write both
    // consume the frame; a changes plan that is a pruned scan (fresh-
    // table insert feed over an unpinned cheap batch) re-runs cheaper
    val (pinned, release) = TableWriter.pinScoped(changes)
    try {
      val n = pinned.count()
      val nFiles = math.max(1L,
        (n + feedMaxRowsPerFile - 1) / feedMaxRowsPerFile).toInt
      pinned.repartition(nFiles)
        .write.mode(SaveMode.Overwrite)
        .parquet(path(s"$feedName/batch=$batchId"))
    } finally release()
  }

  /** Read a change feed written by [[mergeByKeyCdc]]/[[deleteByKeyCdc]]:
    * globs the per-batch directories, so each batch dir is its own read
    * root and no `batch` partition column is invented — the frame's
    * schema is exactly the written change rows (batch_id rides in the
    * data). Batch order, where a consumer needs it, is the batch_id
    * column, not file listing order.
    */
  def readChangeFeed(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path(s"${name}_changes"))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // resolve the batch dirs ourselves (one listing) instead of handing
    // Spark a glob: each dir becomes its own read root
    val dirs = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.toString).sorted
    require(dirs.nonEmpty, s"readChangeFeed: no feed batches under $root")
    spark.read.parquet(dirs: _*)
  }

  /** Change-feed RETENTION (the Kafka-retention / Delta-VACUUM analogue
    * for the CDF): drop feed batch directories with batch id <
    * `beforeBatchId`, in ascending id order so a crash mid-truncate
    * leaves a gapless suffix. The newest batch always survives
    * (`beforeBatchId` must not exceed the max present id) — it is the
    * feed's frontier witness, which keeps [[readChangeFeed]]'s
    * non-empty contract and lets a late consumer see where the feed
    * ends. WHOSE batches are safe to drop is the caller's low-water
    * mark across ALL consumers (the index syncs make theirs derivable:
    * a feed batch is applied to an index once both its del_<id> and
    * batch_<id> markers exist in the index's commits dir) — exactly the
    * retention-vs-consumer-lifetime contract shallow clones already
    * document against source vacuums. Idempotent: re-runs and
    * already-gone ids are no-ops. Returns the number of batch dirs
    * removed.
    */
  def truncateChangeFeed(spark: org.apache.spark.sql.SparkSession,
      name: String, beforeBatchId: Long): Int = {
    val root = new org.apache.hadoop.fs.Path(path(s"${name}_changes"))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    val ids = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).sorted
    if (ids.isEmpty) return 0
    require(beforeBatchId <= ids.max,
      s"truncateChangeFeed($name): beforeBatchId=$beforeBatchId would drop " +
        s"the newest batch ${ids.max} — the frontier witness must survive " +
        "(retain at least the last batch)")
    val doomed = ids.filter(_ < beforeBatchId)
    if (doomed.nonEmpty) {
      // LOW-WATER MARK, written BEFORE the drops: batches below it are
      // no longer guaranteed present. A frontier-less consumer (e.g. an
      // MvMaintain rebuild after losing its view) must refuse a
      // full-feed fold rather than silently omit the dropped batches'
      // contributions (the r11 advisor's wrong-view hazard). Monotone
      // across truncations.
      val lwP = new org.apache.hadoop.fs.Path(root, "_low_water")
      val prior = graft.operators.IndexProtocol
        .readLinesIfExists(fs, lwP).flatMap(_.headOption)
        .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(Long.MinValue)
      graft.operators.IndexProtocol.writeLinesAtomic(fs, lwP,
        Seq(math.max(prior, beforeBatchId).toString))
    }
    doomed.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"batch=$id"), true)
    }
    doomed.size
  }

  /** The change feed's truncation low-water mark: batches below this id
    * are not guaranteed present (None = never truncated).
    */
  def changeFeedLowWater(spark: org.apache.spark.sql.SparkSession,
      name: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(path(s"${name}_changes"))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.operators.IndexProtocol
      .readLinesIfExists(fs, new org.apache.hadoop.fs.Path(root, "_low_water"))
      .flatMap(_.headOption).map(_.toLong)
  }

  /** [[deleteByKey]] with a change-data feed: the CURRENT values of the
    * doomed keys actually present in the table are appended to
    * `{name}_changes` as change_op = delete rows (absent keys and
    * re-runs emit nothing — same silence contract as
    * [[mergeByKeyCdc]]), then the delete runs. Together the two cover
    * the full CDF op set {insert, update_pre, update_post, delete}, and
    * folding the feed (+insert +post −pre −delete) reconstructs any
    * aggregate of the table state exactly — the incremental
    * view-maintenance contract q91 pins.
    */
  def deleteByKeyCdc(spark: org.apache.spark.sql.SparkSession, name: String,
      doomedKeys: DataFrame, key: String, batchId: Long,
      numBuckets: Int = 16, feedMaxRowsPerFile: Long = 4000000L): String = {
    import org.apache.spark.sql.functions._
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (tableExists(fs, name)) {
      // feed and delete consume the same doomed set and the same touched
      // buckets — pin both once (see deleteByKey) and run the delete over
      // the pinned frames instead of re-reading everything. Gated
      // (pinScoped): pruned-scan inputs re-run cheaper than they pin.
      val (doomed, releaseDoomed) = TableWriter.pinScoped(
        doomedKeys.select(col(key)).distinct()
          .withColumn("__bucket",
            pmod(xxhash64(col(key)), lit(numBuckets.toLong)).cast("int")))
      try {
        // bounded collect: ≤ numBuckets ids
        val affected = doomed.select("__bucket").distinct()
          .collect().map(_.getInt(0))
        TableWriter.recoverSwap(fs, p, "__bucket=")
        val (candidates, releaseCand) = TableWriter.pinScoped(
          readResolved(spark, name, Some(affected.toIndexedSeq)))
        try {
          val victims = candidates.drop("__bucket")
            .join(doomed.select(col(key)), Seq(key), "left_semi")
          val valueCols = victims.columns.filterNot(_ == key).toSeq
          // feed write ∥ probe + staged survivor write (guide §2.6);
          // the swap inside deletePrepared waits for both legs
          deletePrepared(spark, name, doomed, candidates, key,
            alongside = () => writeFeedBatch(s"${name}_changes", batchId,
              victims.select((Seq(lit(batchId).as("batch_id"),
                lit("delete").as("change_op"), col(key))
                ++ valueCols.map(col)): _*),
              feedMaxRowsPerFile))
        } finally releaseCand()
      } finally releaseDoomed()
      path(name)
    } else deleteByKey(spark, name, doomedKeys, key, numBuckets)
  }

  /** Small-file compaction — the 100 TB housekeeping operator (a trickle
    * of incremental loads leaves thousands of KB-sized files whose
    * per-file open/footer cost eventually dominates scans). Per leaf
    * directory (so partitioned tables never merge across partition
    * values): files smaller than `smallThreshold` (default
    * `targetBytes/2`) are read back and rewritten as
    * `ceil(smallBytes/targetBytes)` files; files at or above the
    * threshold are NEVER read or rewritten — compaction cost tracks the
    * small-file mass, not the table size, and large files stay
    * byte-identical (spec-asserted).
    *
    * Plain parquet has no atomic multi-file commit, so the swap runs a
    * miniature write-ahead protocol: compacted files enter the directory
    * dot-prefixed (invisible to readers), a `_compaction_log` is written
    * atomically naming each hidden→visible pair (a tab-separated line)
    * and the doomed small files (one path a line), the compacted files
    * are renamed visible, the smalls are deleted, the log is removed. A
    * crash before the log exists leaves only invisible garbage (cleaned
    * on the next run); a crash after leaves the log, and the next run
    * first unveils every logged pair still hidden, then completes the
    * deletes, before doing anything else — so the rows are in the
    * compacted files before their small copies go. Hidden files no log
    * names are pre-log garbage and are swept. The only reader-visible anomaly
    * is transient duplication between unveil and delete — the documented
    * plain-parquet tradeoff (loss is the alternative; table formats fix
    * this with a manifest commit, which the log emulates at directory
    * granularity).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, name: String,
      targetBytes: Long, smallThresholdOpt: Option[Long] = None): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val smallThreshold = smallThresholdOpt.getOrElse(targetBytes / 2)
    val root = new Path(path(name))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(tableExists(fs, name), s"no table at ${path(name)}")

    def leafDirs(d: Path): Seq[Path] = {
      val entries = fs.listStatus(d).toSeq
      val subdirs = entries.filter(_.isDirectory).map(_.getPath)
        .filterNot(_.getName.startsWith("__stage_"))
      if (subdirs.isEmpty) Seq(d) else subdirs.flatMap(leafDirs)
    }

    var (before, after) = (0, 0)
    for (dir <- leafDirs(root)) {
      val log = new Path(dir, "_compaction_log")
      // recovery: a previous run crashed after writing its log — unveil
      // the logged compacted files still hidden, then finish the deletes
      graft.operators.IndexProtocol.readLinesIfExists(fs, log).foreach { lines =>
        val (pairs, doomed) = lines.filter(_.nonEmpty).partition(_.contains("\t"))
        pairs.map(_.split("\t", 2)).foreach { case Array(h, v) =>
          if (fs.exists(new Path(h)))
            TableWriter.renameOrThrow(fs, new Path(h), new Path(v), "compact")
        }
        doomed.foreach(f => fs.delete(new Path(f), false))
        fs.delete(log, false)
      }
      val files = fs.listStatus(dir).toSeq.filter(_.isFile)
      // stale invisible output from a run that crashed pre-log: garbage
      files.filter(_.getPath.getName.startsWith(".compact-"))
        .foreach(f => fs.delete(f.getPath, false))
      val live = files.map(_.getPath.getName)
        .filter(n => !n.startsWith(".") && !n.startsWith("_"))
      before += live.size
      val small = files.filter(f => f.getLen < smallThreshold &&
        !f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_"))
      if (small.size <= 1) { after += live.size }
      else {
        val smallBytes = small.map(_.getLen).sum
        val nOut = math.max(1, math.ceil(smallBytes.toDouble / targetBytes).toInt)
        val stage = new Path(root, s"__stage_compact_${dir.getName}")
        try {
          spark.read.parquet(small.map(_.getPath.toString): _*)
            .coalesce(nOut)
            .write.mode(SaveMode.Overwrite).parquet(stage.toString)
          val parts = fs.listStatus(stage).toSeq.filter(_.isFile)
            .map(_.getPath).filter(_.getName.endsWith(".parquet"))
          val unveil = parts.zipWithIndex.map { case (p, i) =>
            val id = java.util.UUID.randomUUID().toString.take(8)
            val hidden = new Path(dir, s".compact-$id-$i.parquet")
            TableWriter.renameOrThrow(fs, p, hidden, "compact")
            (hidden, new Path(dir, s"compact-$id-$i.parquet"))
          }
          graft.operators.IndexProtocol.writeLinesAtomic(fs, log,
            unveil.map { case (h, v) => s"$h\t$v" } ++
              small.map(_.getPath.toString))
          unveil.foreach { case (h, v) =>
            TableWriter.renameOrThrow(fs, h, v, "compact") }
          small.foreach(f => fs.delete(f.getPath, false))
          fs.delete(log, false)
          after += live.size - small.size + unveil.size
        } finally fs.delete(stage, true)
      }
    }
    (before, after)
  }

  /** Z-order-clustered materialization: range-partition and sort the
    * table by a caller-computed clustering value (typically
    * [[graft.functions.ZOrder.zValue16]] over two bucketized
    * dimensions), one file per range. Contiguous z-ranges are small
    * rectangles in the source-dimension space, so every file carries
    * narrow parquet min/max stats on BOTH dimensions and predicates on
    * either one prune most row groups at scan time — the plain-parquet
    * form of what manifest formats call data clustering / Z-ORDER BY.
    * The clustering value is kept as column `zName` (provenance + lets
    * layout specs assert per-file disjointness by reading files back).
    */
  def materializeClustered(df: DataFrame, name: String,
      zValue: org.apache.spark.sql.Column, zName: String,
      numFiles: Int): String = {
    import org.apache.spark.sql.functions.col
    df.withColumn(zName, zValue)
      .repartitionByRange(numFiles, col(zName))
      .sortWithinPartitions(zName)
      .write.mode(SaveMode.Overwrite).parquet(path(name))
    path(name)
  }

  /** Bucketed materialization: pre-shuffles the table into `numBuckets` by
    * `bucketCols` so equi-joins and aggregations on those keys read
    * co-located buckets with NO runtime exchange — the cluster-scale answer
    * to repeated joins on the same key (bucket both fact tables identically
    * and the 100 TB join is shuffle-free). Registered in the session catalog
    * (bucketing metadata lives there).
    */
  def materializeBucketed(df: DataFrame, name: String, bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", path(name))
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(name)
}

object TableWriter {

  /** Pin gate (r13 verdict #4): persist an operation-scoped frame ONLY
    * when re-running its plan costs more than materializing it (guide
    * §5 — "persist is only worth it when recomputing is more expensive
    * than the memory pressure caching creates"). A frame that is mere
    * column pruning / filtering / union over parquet scans — the
    * touched-bucket reads, and callers that hand the merge a raw table
    * scan — re-runs as a pruned scan, which is cheaper than a
    * bucket-volume write into the block store plus a read back (the
    * measured r13 cost on q133/q135/q139: persist-materialization jobs
    * outweighed the saved re-scan). Anything with a shuffle, join,
    * aggregate, window or generator below it pins as before. Returns
    * the (possibly pinned) frame and its scope-release action.
    * Deployments where even a pruned re-scan is expensive (object
    * stores billed per GET, cross-AZ reads) force the pin with
    * spark.graft.pinCheapScans=true — a scale knob, not a semantics
    * change (both paths compute identical results).
    */
  private[graft] def pinScoped(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val force = df.sparkSession.conf
      .getOption("spark.graft.pinCheapScans").contains("true")
    // the ANALYZED plan decides (cheaper than forcing an extra optimizer
    // pass per operation; Project/Filter chains are matched un-collapsed)
    if (!force && cheapRescan(df.queryExecution.analyzed)) (df, () => ())
    else {
      val p = df.persist()
      (p, () => { p.unpersist(blocking = false); () })
    }
  }

  /** True when the plan is projection/filter/union over file-source
    * (or local) leaves only — re-running it is a pruned scan, not
    * recomputation. Conservative: any other node keeps the pin.
    */
  private[graft] def cheapRescan(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _: LocalRelation => true
      case pr: Project => cheapRescan(pr.child)
      case f: Filter => cheapRescan(f.child)
      case u: Union => u.children.forall(cheapRescan)
      case a: SubqueryAlias => cheapRescan(a.child)
      case _ => false
    }
  }

  /** Swap staged `<prefix><id>` partition dirs into `dest` via renames
    * (old content trashed under an underscore-prefixed, '='-free name
    * first — hidden from partition discovery — so readers never see two
    * generations of one dir). Returns the swapped ids. Shared by the
    * merge, delete, and index vocab-merge publish paths — the write-once
    * alternative to dynamic partition overwrite, which forces the staged
    * content through a second full write. A crash between a dir's two
    * renames leaves that dir's only copy in trash: every caller runs
    * [[recoverSwap]] on `dest` before it reads `dest`.
    */
  private[graft] def swapStagedDirs(fs: org.apache.hadoop.fs.FileSystem,
      stageP: org.apache.hadoop.fs.Path, dest: org.apache.hadoop.fs.Path,
      prefix: String): Seq[Int] =
    fs.listStatus(stageP)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map { st =>
        val bucketDir = st.getPath.getName
        val dst = new org.apache.hadoop.fs.Path(dest, bucketDir)
        val trash = new org.apache.hadoop.fs.Path(dest,
          "_trash_" + bucketDir.replace("=", "_"))
        if (fs.exists(dst)) renameOrThrow(fs, dst, trash, "swapStagedDirs")
        renameOrThrow(fs, st.getPath, dst, "swapStagedDirs")
        fs.delete(trash, true)
        bucketDir.stripPrefix(prefix).toInt
      }.toSeq

  /** Finish or undo a crashed [[swapStagedDirs]] on `dest`: a `_trash_`
    * dir whose live `<prefix><id>` dir is missing holds that dir's only
    * copy (the swap died between its two renames) and is renamed back;
    * any other trash is a finished swap's leftover and is deleted. Runs
    * BEFORE a swap-publishing call reads `dest` — a read without the
    * trashed dir would compute survivors without its rows, and the swap
    * would then publish them lost. One listing; a missing `dest` has
    * nothing to recover.
    */
  private[graft] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path, prefix: String): Unit = {
    val names = try fs.listStatus(dest).map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => return }
    val trashPrefix = "_trash_" + prefix.replace("=", "_")
    names.filter(_.startsWith("_trash_")).foreach { n =>
      val trash = new org.apache.hadoop.fs.Path(dest, n)
      val live = prefix + n.stripPrefix(trashPrefix)
      if (n.startsWith(trashPrefix) && !names(live))
        renameOrThrow(fs, trash, new org.apache.hadoop.fs.Path(dest, live),
          "recoverSwap")
      else fs.delete(trash, true)
    }
  }

  /** `fs.rename`, throwing with both paths when it reports failure — a
    * publish step must never go on to delete what the rename was to
    * replace.
    */
  private[graft] def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      what: String): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"$what: rename $src -> $dst failed")
}

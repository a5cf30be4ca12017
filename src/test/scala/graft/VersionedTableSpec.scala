package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import graft.sources.VersionedTable.CommitHooks

/** The multi-version merge-table commit protocol: atomic version
  * manifests over the bucket layout. What the suite pins, in protocol
  * order: per-version time travel; untouched-bucket entries carried
  * over byte-stable (never re-read, never re-written); crash ANYWHERE
  * before the manifest rename is invisible to readers (the torn-read
  * impossibility the in-place mergeByKey swap cannot offer) and swept
  * convergently on redelivery; writer fencing; vacuum retention with
  * loud pre-floor refusal; additive schema evolution.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("vtable").toFile
    d.deleteOnExit(); d.getPath + "/t"
  }

  private def base = (1 to 20).map(k => (k.toLong, k * 10L)).toDF("k", "price")
  private def changes = (1 to 20).filter(_ % 4 == 0)
    .map(k => (k.toLong, k * 10L + 1L)).toDF("k", "price")

  private def state(root: String, asOf: Option[Long] = None): Map[Long, Long] =
    VersionedTable.read(spark, root, asOf)
      .select("k", "price").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("commits are versioned; time travel serves each version exactly") {
    val root = freshRoot()
    val v0 = VersionedTable.commitMerge(spark, root, base, "k", 8)
    val v1 = VersionedTable.commitMerge(spark, root, changes, "k", 8)
    val v2 = VersionedTable.commitDelete(spark, root,
      (1 to 20).filter(_ % 5 == 0).map(_.toLong).toDF("k"), "k", 8)
    assert((v0, v1, v2) === (0L, 1L, 2L))
    val s0 = (1 to 20).map(k => k.toLong -> k * 10L).toMap
    val s1 = s0 ++ (1 to 20).filter(_ % 4 == 0).map(k => k.toLong -> (k * 10L + 1))
    val s2 = s1.filterNot { case (k, _) => k % 5 == 0 }
    assert(state(root, Some(0)) === s0)
    assert(state(root, Some(1)) === s1)
    assert(state(root, Some(2)) === s2)
    assert(state(root) === s2) // latest
  }

  test("manifest cache: a table re-created at the same path serves the NEW " +
      "content even under an (mtime, length) collision") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 8)
    assert(state(root) === (1 to 20).map(k => k.toLong -> k * 10L).toMap)
    // capture the manifest's stat the cache validates against
    val mf = new org.apache.hadoop.fs.Path(root + "/_commits/v_0")
    val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
    val st0 = fs.getFileStatus(mf)
    // DROP + RE-CREATE the table at the same path with different rows
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val other = (1 to 20).map(k => (k.toLong, k * 100L)).toDF("k", "price")
    VersionedTable.commitMerge(spark, root, other, "k", 8)
    // force the worst case the r13 verdict named: same path, same
    // version id, same mtime tick (and parquet part names are fixed
    // width, so same length is likely). The write-path invalidation
    // must make the stale parse structurally unreachable regardless.
    fs.setTimes(mf, st0.getModificationTime, -1)
    assert(state(root) === (1 to 20).map(k => k.toLong -> k * 100L).toMap)
  }

  test("untouched buckets carry over: entries verbatim, files byte-stable") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 8)
    val sigsBefore = parquetFileSigs(root)
    // a batch confined to ONE bucket: pick the keys hashing to bucket 0
    val oneBucket = base
      .withColumn("b", pmod(xxhash64(col("k")), lit(8L)).cast("int"))
      .filter(col("b") === 0).drop("b")
      .withColumn("price", col("price") + 7)
    val nIncoming = oneBucket.count()
    assert(nIncoming > 0, "fixture needs at least one key in bucket 0")
    VersionedTable.commitMerge(spark, root, oneBucket, "k", 8)
    // every v0 file still byte-identical (v1 only ADDED files)
    val sigsAfter = parquetFileSigs(root)
    sigsBefore.foreach { case (p, sig) => assert(sigsAfter(p) === sig,
      s"committed file rewritten: $p") }
    // v1 resolves with bucket 0's entries new, all others carried
    def resolved(v: Long): Map[Int, Set[String]] =
      VersionedTable.resolvedEntries(spark, root, v)
        .map { case (b, ps) => b -> ps.toSet }
    val (m0, m1) = (resolved(0), resolved(1))
    assert(m1(0) !== m0(0))
    m0.keys.filter(_ != 0).foreach(b => assert(m1(b) === m0(b),
      s"untouched bucket $b entry changed"))
    // and the v1 manifest FILE is a delta that does not even NAME the
    // untouched buckets — commit metadata is O(touched), not O(live)
    val rawV1 = scala.io.Source.fromFile(s"$root/_commits/v_1").getLines()
      .filter(_.nonEmpty).toSeq
    assert(rawV1.head.startsWith("#graft.v2 delta schema="))
    val named = rawV1.tail.map(l =>
      if (l.startsWith("!")) l.stripPrefix("!").toInt
      else l.split("\t", 2)(0).toInt).toSet
    assert(named === Set(0), s"delta names untouched buckets: $named")
    assert(state(root) === state(root, Some(0)) ++
      oneBucket.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("crash before the manifest commit is invisible and swept on redelivery") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 8)
    val s0 = state(root)
    // crash AFTER data files moved in, BEFORE the commit point — the
    // exact window where an in-place swap would serve a torn state
    intercept[RuntimeException] {
      VersionedTable.commitMerge(spark, root, changes, "k", 8,
        hooks = CommitHooks(beforeManifest =
          () => throw new RuntimeException("crash")))
    }
    // the crashed attempt's files LANDED…
    val landed = parquetFileSigs(root).keys.filter(_.contains("/v1-"))
    assert(landed.nonEmpty, "injector should have moved v1 files in")
    // …but no reader resolves them: latest is exactly v0
    assert(state(root) === s0)
    assert(VersionedTable.versions(spark, root) === Seq(0L))
    // redelivery: the same commit re-runs; crashed files swept first, so
    // the committed v1 serves exactly the merged state, no duplicates
    val v1 = VersionedTable.commitMerge(spark, root, changes, "k", 8)
    assert(v1 === 1L)
    val expected = s0 ++ changes.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(state(root) === expected)
    val df = VersionedTable.read(spark, root)
    assert(df.count() === df.select("k").distinct().count(), "duplicate rows")
    // crash BEFORE any move: only a stage dir — readers and redelivery
    // untouched by construction
    intercept[RuntimeException] {
      VersionedTable.commitDelete(spark, root, Seq(4L).toDF("k"), "k", 8,
        hooks = CommitHooks(beforeMove =
          () => throw new RuntimeException("crash")))
    }
    assert(state(root) === expected)
    val v2 = VersionedTable.commitDelete(spark, root, Seq(4L).toDF("k"), "k", 8)
    assert(v2 === 2L)
    assert(state(root) === expected - 4L)
  }

  test("second concurrent writer is refused; releaseLease hands over") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 8, writerId = "stream-a")
    val e = intercept[IllegalStateException] {
      VersionedTable.commitMerge(spark, root, changes, "k", 8,
        writerId = "stream-b")
    }
    assert(e.getMessage.contains("stream-a"))
    // same id re-acquires freely (restart of the owning writer)
    VersionedTable.commitMerge(spark, root, changes, "k", 8,
      writerId = "stream-a")
    VersionedTable.releaseLease(spark, root)
    VersionedTable.commitDelete(spark, root, Seq(5L).toDF("k"), "k", 8,
      writerId = "stream-b")
    assert(!state(root).contains(5L))
  }

  test("vacuum reclaims superseded generations; retained reads intact; " +
      "pre-floor asOf refuses loudly") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 8)
    VersionedTable.commitMerge(spark, root, changes, "k", 8)
    VersionedTable.commitDelete(spark, root,
      (1 to 20).filter(_ % 5 == 0).map(_.toLong).toDF("k"), "k", 8)
    val (s1, s2) = (state(root, Some(1)), state(root, Some(2)))
    val filesBefore = parquetFileSigs(root)
    val (droppedV, deletedF) = VersionedTable.vacuum(spark, root, 2)
    assert(droppedV === 1)
    assert(deletedF > 0, "v0-only generation files should be reclaimed")
    // retained versions read byte-identically
    assert(state(root, Some(1)) === s1)
    assert(state(root, Some(2)) === s2)
    // surviving files untouched (vacuum deletes, never rewrites)
    val filesAfter = parquetFileSigs(root)
    filesAfter.foreach { case (p, sig) => assert(filesBefore(p) === sig) }
    val e = intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(0))
    }
    assert(e.getMessage.contains("vacuumed"))
    // idempotent: nothing left to reclaim
    assert(VersionedTable.vacuum(spark, root, 2) === (0, 0))
  }

  test("additive schema evolution: new column null-fills old rows; " +
      "old files byte-stable") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 8)
    val sigs0 = parquetFileSigs(root)
    val evolved = Seq((21L, 210L, "gold"), (4L, 41L, "silver"))
      .toDF("k", "price", "tier")
    VersionedTable.commitMerge(spark, root, evolved, "k", 8)
    val sigsAfter = parquetFileSigs(root)
    sigs0.foreach { case (p, sig) => assert(sigsAfter(p) === sig) }
    val rows = VersionedTable.read(spark, root)
      .select("k", "price", "tier").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap
    assert(rows(21L) === ((210L, Some("gold"))))
    assert(rows(4L) === ((41L, Some("silver"))))
    assert(rows(3L) === ((30L, None)), "pre-evolution row should null-fill")
    // time travel BELOW the evolution still serves the old schema's data
    assert(state(root, Some(0)) === base.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("the manifest-DDL read equals the footer-merging read after an " +
      "additive column") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 8)
    VersionedTable.commitMerge(spark, root,
      Seq((21L, 210L, "gold"), (4L, 41L, "silver")).toDF("k", "price", "tier"),
      "k", 8)
    val v = VersionedTable.latestVersion(spark, root).get
    val files = VersionedTable.resolvedEntries(spark, root, v).values.flatten.toSeq
    val merged = spark.read.option("basePath", root)
      .option("mergeSchema", "true").parquet(files: _*)
      .withColumn("__bucket", col("__bucket").cast("int"))
    val ddlRead = VersionedTable.read(spark, root)
    assert(ddlRead.schema.map(f => (f.name, f.dataType)) ===
      merged.schema.map(f => (f.name, f.dataType)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(ddlRead) === rows(merged))
    // files older than the column null-fill it
    assert(ddlRead.filter(col("k") === 3L).select("tier").head().isNullAt(0))
  }

  test("a delete that hits nothing commits no version") {
    val root = freshRoot()
    val v0 = VersionedTable.commitMerge(spark, root, base, "k", 8)
    val v = VersionedTable.commitDelete(spark, root,
      Seq(999L, 1000L).toDF("k"), "k", 8)
    assert(v === v0)
    assert(VersionedTable.versions(spark, root) === Seq(0L))
  }

  test("delete-all commits a legally EMPTY version that reads and revives") {
    // the r10 advisor's wedge: an empty manifest used to throw
    // 'version N has no files' from read(), and commitMerge (which
    // reads the current version) failed too — table stuck until
    // hand-edited. Now the manifest's recorded schema serves the empty
    // frame and the next merge revives the table.
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 8)
    val v1 = VersionedTable.commitDelete(spark, root,
      (1 to 20).map(_.toLong).toDF("k"), "k", 8)
    assert(v1 === 1L)
    val empty = VersionedTable.read(spark, root)
    assert(empty.count() === 0L)
    assert(empty.columns.toSet === Set("k", "price", "__bucket"))
    // a delete against the empty version is a silent no-op, not a crash
    assert(VersionedTable.commitDelete(spark, root,
      Seq(1L).toDF("k"), "k", 8) === v1)
    // and a merge on top revives the table at v2
    val v2 = VersionedTable.commitMerge(spark, root,
      Seq((7L, 70L)).toDF("k", "price"), "k", 8)
    assert(v2 === 2L)
    assert(state(root) === Map(7L -> 70L))
    assert(state(root, Some(1)) === Map.empty[Long, Long])
  }

  test("changesBetween: exact CDC classification; only differing buckets read") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 8)
    // confine every change to ONE bucket (the most populous): update
    // two of its keys, delete one — untouched buckets must not even be
    // READ by the diff
    val byBucket = base
      .withColumn("b", pmod(xxhash64(col("k")), lit(8L)).cast("int"))
      .select("b", "k").collect().map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).map { case (b, ks) => b -> ks.map(_._2).sorted }
    val (bkt, bKeys) = byBucket.maxBy(_._2.length)
    assert(bKeys.length >= 3, s"fixture needs ≥3 keys in one bucket: $byBucket")
    val (updA, updB, del) = (bKeys(0), bKeys(1), bKeys(2))
    VersionedTable.commitMerge(spark, root,
      Seq((updA, 9991L), (updB, 9992L)).toDF("k", "price"), "k", 8)
    VersionedTable.commitDelete(spark, root, Seq(del).toDF("k"), "k", 8)
    val diff = VersionedTable.changesBetween(spark, root, "k", 0L, 2L)
    val got = diff.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exp = Set(
      ("update_pre", updA, updA * 10L), ("update_post", updA, 9991L),
      ("update_pre", updB, updB * 10L), ("update_post", updB, 9992L),
      ("delete", del, del * 10L))
    assert(got === exp)
    // bucket pruning: every file the diff reads lives in the one
    // differing bucket
    val files = diff.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"__bucket=$bkt")),
      s"diff read outside bucket $bkt: " +
        files.filterNot(_.contains(s"__bucket=$bkt")).toSeq)
    // rewritten-but-equal rows (bucket 0's untouched carriers) cancel:
    // no op rows beyond the five expected
    assert(diff.count() === 5L)
    // and an insert classifies too (new key, any bucket)
    VersionedTable.commitMerge(spark, root,
      Seq((100001L, 42L)).toDF("k", "price"), "k", 8)
    val d2 = VersionedTable.changesBetween(spark, root, "k", 2L, 3L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(d2 === Set(("insert", 100001L, 42L)))
  }

  test("rebucket: one CDF-invisible committed version; new layout " +
      "correct; prior versions intact; stale bucket count fenced") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 4)
    VersionedTable.commitMerge(spark, root, changes, "k", 4)
    val preState = state(root)
    val v = VersionedTable.rebucket(spark, root, "k", 16)
    assert(v === 2L)
    assert(VersionedTable.bucketCount(spark, root) === Some(16))
    // layout moved to 16 buckets, content identical
    val post = VersionedTable.resolvedEntries(spark, root, 2L)
    assert(post.keySet.exists(_ >= 4), "keys must spread past the old count")
    assert(state(root) === preState)
    // CDF-invisible: every row moved buckets, none changed — the
    // null-safe compare cancels them all
    assert(VersionedTable.changesBetween(spark, root, "k", 1L, 2L).count() === 0)
    // prior versions still read exactly (old generations survive)
    assert(state(root, Some(1L)) === preState)
    // a commit still passing the OLD count refuses loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitMerge(spark, root,
        Seq((99L, 5L)).toDF("k", "price"), "k", 4)
    }
    assert(e.getMessage.contains("bucketed at 16"))
    // the NEW count commits; bucket-pruned reads work under it
    VersionedTable.commitMerge(spark, root,
      Seq((99L, 5L)).toDF("k", "price"), "k", 16)
    assert(state(root) === preState + (99L -> 5L))
    // vacuum reclaims the pre-rebucket generations
    val (_, deleted) = VersionedTable.vacuum(spark, root, retainLast = 1)
    assert(deleted > 0)
    assert(state(root) === preState + (99L -> 5L))
  }

  test("rebucket torn between manifest and pin: count-fenced commits " +
      "refuse loudly until a re-run confirms the flip") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root, base, "k", 4)
    // simulate the crash window the two-phase pin closes: the intent is
    // on disk (as rebucket writes it before committing the rebucketed
    // manifest) but the confirm never ran — the physical count is
    // ambiguous, so commits at EITHER count must refuse
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val intent = new org.apache.hadoop.fs.Path(s"$root/_commits/rebucket_intent")
    graft.operators.IndexProtocol.writeLinesAtomic(fs, intent, Seq("16"))
    val eOld = intercept[IllegalStateException] {
      VersionedTable.commitMerge(spark, root,
        Seq((99L, 5L)).toDF("k", "price"), "k", 4)
    }
    assert(eOld.getMessage.contains("interrupted rebucket"))
    val eNew = intercept[IllegalStateException] {
      VersionedTable.commitMerge(spark, root,
        Seq((99L, 5L)).toDF("k", "price"), "k", 16)
    }
    assert(eNew.getMessage.contains("interrupted rebucket"))
    // re-running rebucket finishes the migration, confirms (intent gone),
    // and commits at the new count flow again
    VersionedTable.rebucket(spark, root, "k", 16)
    assert(!fs.exists(intent))
    assert(VersionedTable.bucketCount(spark, root) === Some(16))
    VersionedTable.commitMerge(spark, root,
      Seq((99L, 5L)).toDF("k", "price"), "k", 16)
    assert(state(root).get(99L) === Some(5L))
  }

  test("rebucket on an optimistic-mode table releases the lease after; " +
      "optimistic commits are fenced to the new count") {
    val root = freshRoot()
    VersionedTable.commitMergeOptimistic(spark, root, base, "k", 4,
      writerId = "w1")
    VersionedTable.rebucket(spark, root, "k", 8)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitMergeOptimistic(spark, root,
        Seq((99L, 5L)).toDF("k", "price"), "k", 4, writerId = "w1")
    }
    assert(e.getMessage.contains("bucketed at 8"))
    // still optimistic: the next lease-free commit (right count) works
    val v = VersionedTable.commitMergeOptimistic(spark, root,
      Seq((99L, 5L)).toDF("k", "price"), "k", 8, writerId = "w1")
    assert(v === 2L)
    assert(state(root).get(99L) === Some(5L))
  }

  test("checkpoint cadence: full at v0 and every checkpointEvery-th; " +
      "long chains resolve exactly") {
    val root = freshRoot()
    val n = VersionedTable.checkpointEvery + 3
    for (i <- 0 until n)
      VersionedTable.commitMerge(spark, root,
        Seq((i.toLong % 5, i.toLong)).toDF("k", "price"), "k", 4)
    def kind(v: Long): String =
      scala.io.Source.fromFile(s"$root/_commits/v_$v").getLines().next()
        .split(" ")(1)
    assert(kind(0) === "full")
    assert(kind(1) === "delta")
    assert(kind(VersionedTable.checkpointEvery.toLong) === "full")
    assert(kind(n - 1L) === "delta")
    // resolution across the whole chain equals the fold of the commits
    val expect = (0 until n).map(i => (i.toLong % 5, i.toLong))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    assert(state(root) === expect)
    // vacuum to a delta floor re-anchors it as a full checkpoint
    val floor = n - 2L
    VersionedTable.vacuum(spark, root, retainLast = 2)
    assert(kind(floor) === "full", "retention floor must be re-anchored")
    assert(state(root, Some(floor)) === (0 until n - 1)
      .map(i => (i.toLong % 5, i.toLong))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 })
    assert(state(root) === expect)
  }
}

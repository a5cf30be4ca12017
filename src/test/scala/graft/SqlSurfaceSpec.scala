package graft

import graft.operators.RangeJoin
import org.apache.spark.sql.functions._

class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("custom expressions are callable from spark.sql after registration") {
    GraftFunctions.register(spark)
    Seq(("aXbXc", "the quick fox", "a b c d")).toDF("s", "txt", "toks")
      .createOrReplaceTempView("sql_surface_v")
    val row = spark.sql(
      """SELECT
        |  regexp_replace_first(s, 'X', '-') AS rep,
        |  graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        |  size(minhash_sig(split(txt, ' '), 16)) AS sig_len,
        |  simhash_sig(split(toks, ' ')) AS sh
        |FROM sql_surface_v""".stripMargin).head()
    assert(row.getString(0) == "a-bXc")
    assert(row.getDouble(1) == 11.0)
    assert(row.getInt(2) == 16)
    // simhash of "a b c d" must equal the Column-API value
    val viaCol = Seq("a b c d").toDF("t")
      .select(graft.functions.TextFns.simhash64(col("t"))).as[Long].head()
    assert(row.getLong(3) == viaCol)
    // BPE tokenizer surface: SQL == Column API
    val bpe = spark.sql(
      """SELECT bpe_token_count('key agg row') AS n,
        |  bpe_id_checksum('key agg row') AS c""".stripMargin).head()
    assert(bpe.getLong(0) == graft.functions.Bpe.countTokensText("key agg row"))
    assert(bpe.getLong(1) == graft.functions.Bpe.idChecksumText("key agg row"))
    // URL canonicalization surface: SQL == Column API
    val raw = "HTTP://WWW.Site7.example.com:80/p/3/?b=2&utm_source=x&a=1#f"
    val url = spark.sql(
      s"""SELECT canonical_url('$raw') AS cu, canonical_host('$raw') AS ch""")
      .head()
    val viaColUrl = Seq(raw).toDF("u")
      .select(graft.functions.UrlFns.canonicalUrl(col("u")),
        graft.functions.UrlFns.canonicalHost(col("u"))).head()
    assert(url.getString(0) == viaColUrl.getString(0))
    assert(url.getString(0) == "http://site7.example.com/p/3?a=1&b=2")
    assert(url.getString(1) == viaColUrl.getString(1))
    assert(url.getString(1) == "site7.example.com")
  }

  test("GraftSession.install is idempotent and wires functions + rule") {
    GraftSession.install(spark)
    GraftSession.install(spark) // second call must not duplicate the rule
    assert(spark.experimental.extraOptimizations
      .count(_ == graft.plans.RewriteDotProduct) == 1)
    assert(spark.sql("SELECT graft_dot(array(1.0D), array(2.0D))")
      .head().getDouble(0) == 2.0)
    graft.plans.MvRewrite.install(spark)
    graft.plans.MvRewrite.install(spark)
    assert(spark.experimental.extraOptimizations
      .count(_.isInstanceOf[graft.plans.MvRewrite]) == 1)
  }

  test("GraftExtensions injects without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // builder registration must not throw
  }

  test("bucketized range join equals the naive inequality join") {
    val points = (1 to 200).map(i => (i.toLong, i * 0.5)).toDF("pid", "x")
    val intervals = Seq(
      (1L, 0.0, 10.0), (2L, 9.5, 20.0), (3L, 50.0, 60.0), (4L, 99.0, 100.5))
      .toDF("iid", "lo", "hi")
    val naive = points.join(intervals,
      col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pid", "iid")
    val bucketized = RangeJoin.pointInInterval(points, intervals,
      "x", "lo", "hi", bucketWidth = 5.0)
      .select("pid", "iid")
    assert(bucketized.count() == naive.count())
    assert(bucketized.exceptAll(naive).isEmpty && naive.exceptAll(bucketized).isEmpty)
  }

  test("interval-overlap join equals the naive join, exactly once per pair") {
    val rnd = new scala.util.Random(13)
    val left = (0 until 300).map { i =>
      val lo = rnd.nextInt(1000); (i.toLong, lo.toLong, (lo + rnd.nextInt(80)).toLong)
    }.toDF("l_id", "l_lo", "l_hi")
    val right = (0 until 300).map { i =>
      val lo = rnd.nextInt(1000); (i.toLong, lo.toLong, (lo + rnd.nextInt(80)).toLong)
    }.toDF("r_id", "r_lo", "r_hi")
    val naive = left.join(right,
        col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))
      .select("l_id", "r_id")
    // bucket width much smaller than spans → overlaps cross MANY buckets;
    // the exactly-once emission must still hold (no duplicate pairs)
    val bucketized = RangeJoin.intervalOverlap(left, right,
        "l_lo", "l_hi", "r_lo", "r_hi", bucketWidth = 16.0)
      .select("l_id", "r_id")
    assert(bucketized.count() == naive.count())
    assert(bucketized.exceptAll(naive).isEmpty
      && naive.exceptAll(bucketized).isEmpty)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[SparkEntry.releaseSessionCaches]] releases every entry fixture, and
  * each entry rebuilds the same answer afterwards in the same session.
  * The entries are the ones whose fixtures a hand-kept release list once
  * missed (their files were deleted under a still-cached value), plus a
  * consumer of the persisted d2 pair frame.
  */
class FixtureLifecycleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Row count and an order-independent content hash. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).orNull)
  }

  // (entry, whether its fixtures hold persisted frames)
  Seq("q105_incremental_classify" -> false, "q128_mv_catalog_base" -> false,
    "q129_mv_comp_extrema" -> false, "q131_versioned_cdf" -> false,
    "q133_vt_index_sync" -> false, "q137_vt_stream_index_sync" -> false,
    "d13_dedup_apply" -> true).foreach { case (name, persists) =>
    test(s"$name: same answer after releaseSessionCaches, nothing left held") {
      val entry = SparkEntry.queries(name)
      val sc = spark.sparkContext
      val persistedBefore = sc.getPersistentRDDs.keySet
      val first = digest(entry(spark, sf))
      val persistedByRun = sc.getPersistentRDDs.keySet -- persistedBefore
      if (persists) assert(persistedByRun.nonEmpty, "no persisted fixture frame")

      SparkEntry.releaseSessionCaches()
      val holding = Fixture.all.filterNot(_.isEmpty).map(_.name)
      assert(holding.isEmpty, s"fixtures still holding entries: $holding")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(Fixture.scratch)),
        "scratch warehouse survived the release")
      val leaked = persistedByRun.intersect(sc.getPersistentRDDs.keySet)
      assert(leaked.isEmpty, s"persisted RDDs survived the release: $leaked")

      assert(digest(entry(spark, sf)) == first)
    }
  }
}

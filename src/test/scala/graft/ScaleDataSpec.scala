package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** [[ScaleData]] writes a faithful replicated sf dir: fact tables carry
  * exactly `mult`× the rows with unique, still-joining keys, dimensions
  * are copied once, replica 0 is the source, the near-dup replicas differ
  * only by their text suffix, and generation is deterministic.
  */
class ScaleDataSpec extends SparkSpec with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  private val mult = 3
  private lazy val root = java.nio.file.Files.createTempDirectory("scaledata_").toString
  private lazy val out = ScaleData.write(spark, sf, mult, s"$root/a")

  override def afterAll(): Unit = {
    SparkEntry.releaseSessionCaches()
    Fixture.deleteTree(root)
  }

  private def load(dir: String, name: String): DataFrame =
    graft.sources.Tables.load(spark, dir, name)

  /** Order-independent content hash. */
  private def digest(df: DataFrame): BigDecimal = BigDecimal(df.select(sum(
    xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")))
    .head().getDecimal(0))

  test("fact tables hold mult× the rows, dimensions 1×") {
    for (name <- graft.sources.Tables.testdataTables) {
      val factor = if (ScaleData.keys.contains(name)) mult else 1
      assert(load(out, name).count() == factor * load(sf, name).count(), name)
    }
  }

  test("keys are unique after the offsets and foreign keys still join") {
    for ((name, cols) <- Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
        "events" -> "event_id", "documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val t = load(out, name)
      assert(t.select(cols).distinct().count() == t.count(), s"$name.$cols")
    }
    val orders = load(out, "orders")
    assert(load(out, "lineitem").join(orders,
      col("l_orderkey") === col("o_orderkey"), "left_anti").isEmpty)
    assert(orders.join(load(out, "customer"),
      col("o_custkey") === col("c_custkey"), "left_anti").isEmpty)
  }

  test("replica 0 is row-identical to the source") {
    for ((name, cols) <- ScaleData.keys) {
      val r0 = load(out, name).filter(col(cols.head) < ScaleData.stride)
      val src = load(sf, name)
      assert(r0.count() == src.count(), name)
      assert(r0.exceptAll(src).isEmpty && src.exceptAll(r0).isEmpty, name)
    }
  }

  test("two generations hash the same") {
    val again = ScaleData.write(spark, sf, mult, s"$root/b")
    for (name <- graft.sources.Tables.testdataTables)
      assert(digest(load(again, name)) == digest(load(out, name)), name)
  }

  test("replica r > 0 documents differ from replica 0 only by the rep suffix") {
    val docs = load(out, "documents")
      .withColumn("r", (col("doc_id") / ScaleData.stride).cast("int"))
      .withColumn("base_id", col("doc_id") % ScaleData.stride)
    val r0 = docs.filter(col("r") === 0).select(col("base_id"),
      col("text").as("t0"), col("lang").as("l0"), col("source").as("s0"),
      col("n_chars").as("n0"))
    val joined = docs.filter(col("r") > 0).join(r0, Seq("base_id"))
    assert(joined.count() == (mult - 1) * r0.count())
    assert(joined.filter(
      col("text") =!= concat(col("t0"), lit(" rep"), col("r").cast("string")) ||
        col("lang") =!= col("l0") || col("source") =!= col("s0") ||
        col("n_chars") =!= col("n0")).isEmpty)
  }

  test("d3_minhash_lsh finds more pairs on the replicated dir") {
    val d3 = SparkEntry.queries("d3_minhash_lsh")
    assert(d3(spark, out).count() > d3(spark, sf).count())
  }
}

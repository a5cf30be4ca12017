package graft

import graft.operators.Retrieval
import graft.operators.Retrieval.Layout
import graft.sources.{MvMaintain, TableWriter, VersionedTable}
import org.apache.spark.sql.types._

/** Drift guard for the schemas the engine reads its own tables with:
  * each declared or recorded schema must equal what Spark infers from a
  * freshly written table — names, types and order (nullability aside:
  * every parquet read is nullable). A writer change that moves a column
  * or a type fails here instead of silently mis-reading the index.
  */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def shape(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map(f => (f.name, f.dataType))

  private def inferred(path: String): Seq[(String, DataType)] =
    shape(spark.read.parquet(path).schema)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("BM25 layouts equal Spark's inference after a build, for long and int ids") {
    for ((ids, idType) <- Seq(Seq(1L, 2L, 3L) -> LongType,
        Seq(1, 2, 3) -> IntegerType)) {
      val w = new TableWriter(tmp("layout"))
      val docs = ids.zip(Seq("a b c a", "a b", "b c d"))
        .map { case (i, t) => (i.toString.toLong, t) }.toDF("doc_id", "text")
        .withColumn("doc_id", $"doc_id".cast(idType))
      Retrieval.buildBm25Index(docs, w, "docs", buckets = 8, vocabBuckets = 4)
      assert(inferred(w.path("docs_postings")) === shape(Layout.postings(idType)))
      assert(inferred(w.path("docs_vocab")) === shape(Layout.vocab))
      assert(inferred(w.path("docs_stats")) === shape(Layout.stats))
    }
  }

  test("BM25 layouts still match after append and delete legs rewrite them") {
    val w = new TableWriter(tmp("layoutleg"))
    val docs = Seq((1L, "a b c a"), (2L, "a b"), (3L, "a x"), (4L, "b c d"))
      .toDF("doc_id", "text")
    Retrieval.appendBm25IndexBatch(docs.filter($"doc_id" < 3), w, "docs", 0L,
      buckets = 8, vocabBuckets = 4)
    Retrieval.appendBm25IndexBatch(docs.filter($"doc_id" >= 3), w, "docs", 1L,
      buckets = 8, vocabBuckets = 4)
    Retrieval.deleteFromBm25IndexBatch(docs.filter($"doc_id" === 3), w, "docs",
      2L, buckets = 8, vocabBuckets = 4)
    assert(inferred(w.path("docs_postings")) === shape(Layout.postings(LongType)))
    assert(inferred(w.path("docs_vocab")) === shape(Layout.vocab))
    assert(inferred(w.path("docs_stats")) === shape(Layout.stats))
  }

  test("the positional layout equals Spark's inference after a build") {
    val w = new TableWriter(tmp("layoutpos"))
    val docs = Seq((1L, "a b c a"), (2L, "a b")).toDF("doc_id", "text")
    Retrieval.buildPositionalIndex(docs, w, "docs", buckets = 8)
    assert(inferred(w.path("docs_positions")) ===
      shape(Layout.positions(LongType)))
  }

  test("a refreshed view records the schema Spark infers from it") {
    val wh = tmp("layoutmv")
    val base = (1 to 12).map(k => (k.toLong, s"g${k % 3}", BigDecimal(k)))
      .toDF("k", "g", "price")
      .withColumn("price", $"price".cast("decimal(18,2)"))
    VersionedTable.commitMerge(spark, s"$wh/t", base, "k", 4)
    val vdef = MvMaintain.ViewDef(Seq("g"), Map("price" -> "sum_price"))
    MvMaintain.refreshFromVersionedTable(spark, s"$wh/t", "k", s"$wh/mv", vdef)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$wh/mv/_frontier"))
    assert(lines.size === 2)
    assert(shape(StructType.fromDDL(lines.get(1))) === inferred(s"$wh/mv"))
  }
}

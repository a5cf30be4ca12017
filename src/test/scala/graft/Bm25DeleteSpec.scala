package graft

import graft.operators.Retrieval
import graft.sources.TableWriter
import org.apache.spark.sql.functions._

/** BM25 index deletion (v18): delete == rebuild-without-victims at the
  * FRAME level (postings, vocab incl. zero-df term removal, stats), and
  * absent-id deletes / re-deletes are byte-level no-ops.
  */
class Bm25DeleteSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c a"), (2L, "a b"), (3L, "a x"), (4L, "b c d")
  ).toDF("doc_id", "text")

  private def postings(w: TableWriter): Set[(Long, Long, String, Long)] =
    w.read(spark, "docs_postings")
      .select(col("doc_id").cast("long"), col("dl").cast("long"),
        col("term"), col("tf").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet

  private def vocab(w: TableWriter): Map[String, Long] =
    w.read(spark, "docs_vocab").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def stats(w: TableWriter): (Long, Long) = {
    val r = w.read(spark, "docs_stats").collect()(0)
    (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"))
  }

  private def dataFiles(d: String): Map[String, (Long, Long)] =
    parquetFileSigs(d)

  test("delete == rebuild without the victims, frame for frame") {
    val delDir = java.nio.file.Files.createTempDirectory("bm25del").toString
    val refDir = java.nio.file.Files.createTempDirectory("bm25ref").toString
    val wDel = new TableWriter(delDir)
    val wRef = new TableWriter(refDir)
    Retrieval.buildBm25Index(docs, wDel, "docs")
    Retrieval.deleteFromBm25IndexBatch(docs.filter(col("doc_id") === 3), wDel,
      "docs", 0L)
    Retrieval.buildBm25Index(docs.filter(col("doc_id") =!= 3), wRef, "docs")

    assert(postings(wDel) == postings(wRef))
    // x appeared only in doc 3: the term must VANISH from the vocabulary
    assert(!vocab(wDel).contains("x"))
    assert(vocab(wDel) == vocab(wRef))
    assert(stats(wDel) == stats(wRef)) // (3, 9): docs 1,2,4 with dls 4,2,3

    // served ranking equal, bit for bit
    val qs = Seq((1L, "a"), (1L, "b")).toDF("query_id", "term")
    def serve(w: TableWriter) =
      Retrieval.queryBm25Index(spark, w, "docs", qs, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3))).toSet
    assert(serve(wDel) == serve(wRef))
    assert(serve(wDel).nonEmpty)
  }

  test("absent ids and re-deletes are byte-level no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("bm25del2").toString
    val w = new TableWriter(dir)
    Retrieval.buildBm25Index(docs, w, "docs")
    Retrieval.deleteFromBm25IndexBatch(docs.filter(col("doc_id") === 3), w,
      "docs", 0L)
    val sig = (dataFiles(dir), vocab(w), stats(w))

    // absent id: nothing in the index changes
    Retrieval.deleteFromBm25IndexBatch(
      Seq((99L, "a b")).toDF("doc_id", "text"), w, "docs", 1L)
    assert((dataFiles(dir), vocab(w), stats(w)) == sig)

    // re-delete of an already-deleted id: also a no-op
    Retrieval.deleteFromBm25IndexBatch(docs.filter(col("doc_id") === 3), w,
      "docs", 2L)
    assert((dataFiles(dir), vocab(w), stats(w)) == sig)
  }

  test("drifted-text delete keeps postings/vocab/stats mutually consistent") {
    val dir = java.nio.file.Files.createTempDirectory("bm25del3").toString
    val w = new TableWriter(dir)
    Retrieval.buildBm25Index(docs, w, "docs")
    // the caller deletes doc 3 but passes the WRONG text ("b c" instead
    // of the indexed "a x"): the decrements must follow what was
    // actually STRUCK from the postings, never the drifted text —
    // otherwise vocab/stats would subtract b/c counts while a/x rows
    // were (partially) removed
    Retrieval.deleteFromBm25IndexBatch(
      Seq((3L, "b c")).toDF("doc_id", "text"), w, "docs", 0L)
    // invariant: vocab df == df recomputed from the surviving postings,
    // stats == (distinct docs, Σdl) recomputed from the surviving
    // postings — the internal-consistency contract that makes every
    // later append/delete/query arithmetic correct
    val fromPostings = w.read(spark, "docs_postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab(w) == fromPostings,
      "vocab df diverged from postings after a drifted-text delete")
    val st = w.read(spark, "docs_postings")
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).cast("long"), sum(col("dl")).cast("long"))
      .collect()(0)
    assert(stats(w) == ((st.getLong(0), st.getLong(1))),
      "stats diverged from postings after a drifted-text delete")
  }

  test("positional delete == rebuild without the victims; no-op re-delete") {
    val delDir = java.nio.file.Files.createTempDirectory("posdel").toString
    val refDir = java.nio.file.Files.createTempDirectory("posref").toString
    val wDel = new TableWriter(delDir)
    val wRef = new TableWriter(refDir)
    Retrieval.buildPositionalIndex(docs, wDel, "docs")
    Retrieval.deleteFromPositionalIndexBatch(
      docs.filter(col("doc_id") === 3), wDel, "docs", 0L)
    Retrieval.buildPositionalIndex(
      docs.filter(col("doc_id") =!= 3), wRef, "docs")
    def pos(w: TableWriter): Set[(String, Long, Seq[Int])] =
      w.read(spark, "docs_positions")
        .select(col("term"), col("doc_id").cast("long"), col("positions"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getSeq[Int](2))).toSet
    assert(pos(wDel) == pos(wRef))
    assert(pos(wDel).nonEmpty)
    assert(!pos(wDel).exists(_._2 == 3L))

    // re-delete and absent-id delete: byte-level no-ops
    val sig = dataFiles(s"$delDir/docs_positions")
    Retrieval.deleteFromPositionalIndexBatch(
      docs.filter(col("doc_id") === 3), wDel, "docs", 1L)
    Retrieval.deleteFromPositionalIndexBatch(
      Seq((99L, "a b")).toDF("doc_id", "text"), wDel, "docs", 2L)
    assert(dataFiles(s"$delDir/docs_positions") == sig)
  }

  test("a postings bucket a crashed swap left in trash survives the next delete") {
    val dir = java.nio.file.Files.createTempDirectory("bm25swapwin").toString
    val refDir = java.nio.file.Files.createTempDirectory("bm25swapref").toString
    val w = new TableWriter(dir)
    val wRef = new TableWriter(refDir)
    Retrieval.buildBm25Index(docs, w, "docs")
    // the state between swapStagedDirs' two renames, in a bucket the
    // victim (doc 3, "a x") does not touch
    val victimBuckets = Seq("a", "x").map(Retrieval.termBucket(_, 64)).toSet
    val b = Seq("b", "c", "d").map(Retrieval.termBucket(_, 64))
      .find(!victimBuckets(_))
      .getOrElse(fail("fixture degenerate: b, c, d share the victim's buckets"))
    val root = java.nio.file.Paths.get(w.path("docs_postings"))
    java.nio.file.Files.move(root.resolve(s"term_bucket=$b"),
      root.resolve(s"_trash_term_bucket_$b"))
    Retrieval.deleteFromBm25IndexBatch(docs.filter(col("doc_id") === 3), w,
      "docs", 0L)
    Retrieval.buildBm25Index(docs.filter(col("doc_id") =!= 3), wRef, "docs")
    assert(postings(w) == postings(wRef), s"postings of bucket $b were lost")
    assert(vocab(w) == vocab(wRef))
    assert(stats(w) == stats(wRef))
  }

  test("untouched term buckets are never rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("bm25del3").toString
    val w = new TableWriter(dir)
    Retrieval.buildBm25Index(docs, w, "docs")
    val before = dataFiles(s"$dir/docs_postings")
    Retrieval.deleteFromBm25IndexBatch(docs.filter(col("doc_id") === 3), w,
      "docs", 0L)
    val after = dataFiles(s"$dir/docs_postings")
    // doc 3's terms are {a, x}; buckets not containing either term's
    // postings must be byte-stable
    val victimBuckets = Seq("a", "x").map(t =>
      s"term_bucket=${Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType, 42L), 64L)}").toSet
    before.filterNot(p => victimBuckets.exists(p._1.contains)).foreach {
      case (p, sig) => assert(after.get(p).contains(sig), s"rewrote $p")
    }
  }
}

package graft

import graft.operators.{IndexFamily, IndexProtocol, Retrieval}
import graft.sources.{TableWriter, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streamed BM25 sync ([[Retrieval.syncBm25IndexFromVtStream]]): a
  * readStream over a versioned table's commits drives the index's
  * delete/append legs, and the index must serve exactly what a fresh
  * build over the final table serves. Both ways a micro-batch arrives are
  * pinned: one version per call (applied unfiltered) and a 3-version
  * backlog drained as one micro-batch (applied version by version). Every
  * version leaves its own append and delete marker either way.
  */
class VtStreamIndexSyncSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def doc(k: Long, salt: Int): (Long, String) =
    (k, (0 until 6).map(j => s"w${(k * 7 + j * 13 + salt) % 40}").mkString(" "))

  /** v0: 60 docs; v1: 12 updates and 6 inserts; v2: 9 deletes. */
  private val commits: Seq[String => Unit] = Seq(
    root => VersionedTable.commitMerge(spark, root,
      (1L to 60L).map(doc(_, 0)).toDF("doc_id", "text"), "doc_id", 8),
    root => VersionedTable.commitMerge(spark, root,
      ((5L to 60L by 5).map(doc(_, 3)) ++ (61L to 66L).map(doc(_, 1)))
        .toDF("doc_id", "text"), "doc_id", 8),
    root => VersionedTable.commitDelete(spark, root,
      (3L to 60L by 7).toDF("doc_id"), "doc_id", 8))

  private def indexState(w: TableWriter)
      : (Set[Seq[Any]], Set[Seq[Any]], Seq[Any]) = (
    w.read(spark, "idx_postings")
      .select("doc_id", "dl", "term", "tf").collect().map(_.toSeq).toSet,
    w.read(spark, "idx_vocab").select("term", "df")
      .collect().map(_.toSeq).toSet,
    w.read(spark, "idx_stats").collect()(0).toSeq)

  private def served(w: TableWriter, qs: DataFrame): Set[Seq[Any]] =
    Retrieval.queryBm25Index(spark, w, "idx", qs, k = 5)
      .collect().map(_.toSeq).toSet

  /** The streamed index equals a fresh build of the final table, state
    * and queries, and every version is marked on both legs.
    */
  private def assertMatchesFreshBuild(root: String, w: TableWriter): Unit = {
    val last = VersionedTable.read(spark, root)
    val wr = new TableWriter(freshDir("vtsync_ref"))
    Retrieval.buildBm25Index(last, wr, "idx")
    assert(indexState(w) == indexState(wr))
    val qs = Retrieval.queryTerms(last, col("doc_id") % 4 === 0, 3)
    val got = served(w, qs)
    assert(got.nonEmpty)
    assert(got == served(wr, qs))
    val c = IndexFamily.Bm25.commits(spark, w, "idx")
    for (v <- VersionedTable.versions(spark, root))
      assert(c.isMarked(IndexProtocol.Append, v) &&
        c.isMarked(IndexProtocol.Delete, v), s"version $v is not marked")
  }

  test("one version per call: the streamed index == a fresh build") {
    val dir = freshDir("vtsync1")
    val root = s"$dir/t"
    val w = new TableWriter(s"$dir/wh")
    for (commit <- commits) {
      commit(root)
      val q = Retrieval.syncBm25IndexFromVtStream(spark, root, w, "idx",
        s"$dir/ck")
      assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    }
    assertMatchesFreshBuild(root, w)
  }

  test("a 3-version backlog drained by one call == a fresh build") {
    val dir = freshDir("vtsync2")
    val root = s"$dir/t"
    val w = new TableWriter(s"$dir/wh")
    commits.foreach(_(root))
    val q = Retrieval.syncBm25IndexFromVtStream(spark, root, w, "idx",
      s"$dir/ck")
    // one micro-batch spans all three versions
    assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    assertMatchesFreshBuild(root, w)
  }
}

package graft

import graft.operators.{IndexFamily, IndexProtocol, Retrieval, Similarity}
import graft.sources.TableWriter
import org.apache.spark.sql.functions._

/** Commit-marker compaction (q117's contract): folding a quiescent
  * streamed index's per-batch markers into the frontier files keeps the
  * commits dir O(1) names while redelivery fast-paths, snapshot reads,
  * stale-litter sweeps, and serving stay byte-identical — `id ≤
  * frontier` must answer exactly what the deleted markers did.
  */
class CommitCompactionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val embs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def batch(c: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === c)
  private def qs = Retrieval.queryTerms(docs, col("doc_id") % 97 === 0, 8)
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("bm25: compaction shrinks the commits dir; redelivery stays a byte no-op; serving unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("cmc1").toString
    val w = new TableWriter(dir)
    (0 to 3).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), w, "docs", c))
    val before = rows(Retrieval.queryBm25Index(spark, w, "docs", qs,
      k = 10, excludeSelf = true))
    IndexFamily.Bm25.compactCommits(spark, w, "docs")
    val names = new java.io.File(s"$dir/docs_commits").listFiles.map(_.getName)
    assert(!names.exists(_.startsWith("batch_")),
      s"markers must fold into the frontier: ${names.toList}")
    assert(names.contains("frontier_batch"))
    // redelivery of every folded batch must fast-path: zero data writes
    val sigs = parquetFileSigs(dir)
    (0 to 3).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), w, "docs", c))
    assert(parquetFileSigs(dir) == sigs,
      "redelivery under the frontier must touch nothing")
    assert(rows(Retrieval.queryBm25Index(spark, w, "docs", qs,
      k = 10, excludeSelf = true)) == before)
    // and the NEXT batch still appends normally above the frontier
    Retrieval.appendBm25IndexBatch(
      batch(0).limit(1).withColumn("doc_id", col("doc_id") + 900000000L),
      w, "docs", 4L)
    assert(new java.io.File(s"$dir/docs_commits/batch_4").exists)
    // idempotent re-compaction folds the new marker too
    IndexFamily.Bm25.compactCommits(spark, w, "docs")
    assert(!new java.io.File(s"$dir/docs_commits/batch_4").exists)
  }

  test("compaction refuses a non-quiescent index and sweeps stale litter when quiescent") {
    val dir = java.nio.file.Files.createTempDirectory("cmc2").toString
    val w = new TableWriter(dir)
    (0 to 2).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), w, "docs", c))
    // uncommitted staged append → refuse
    val staged = java.nio.file.Paths.get(s"$dir/docs_commits/staged_9")
    java.nio.file.Files.write(staged, "x\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      IndexFamily.Bm25.compactCommits(spark, w, "docs")
    }
    java.nio.file.Files.delete(staged)
    // stale litter of a COMMITTED batch (crash between marker and clear)
    // is swept by compaction, not mistaken for in-flight state
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/docs_commits/staged_2"),
      "x\n".getBytes("UTF-8"))
    IndexFamily.Bm25.compactCommits(spark, w, "docs")
    val names = new java.io.File(s"$dir/docs_commits").listFiles.map(_.getName)
    assert(!names.exists(_.startsWith("staged_")), names.toList.toString)
  }

  test("cdc sync re-run after marker compaction is a byte no-op (del_ + batch_ frontiers)") {
    val w = new TableWriter(
      java.nio.file.Files.createTempDirectory("cmc3").toString)
    val d = docs.select(col("doc_id"), col("text"))
    w.mergeByKeyCdc(spark, "t", d, "doc_id", 1L)
    w.mergeByKeyCdc(spark, "t",
      d.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" u"))), "doc_id", 2L)
    w.deleteByKeyCdc(spark, "t",
      d.filter(col("doc_id") % 11 === 5).select("doc_id"), "doc_id", 3L)
    Retrieval.syncBm25IndexFromFeed(spark, w, "t", "idx")
    IndexFamily.Bm25.compactCommits(spark, w, "idx")
    val sigs = parquetFileSigs(w.path("idx_postings")) ++
      parquetFileSigs(w.path("idx_vocab"))
    Retrieval.syncBm25IndexFromFeed(spark, w, "t", "idx")
    assert(parquetFileSigs(w.path("idx_postings")) ++
      parquetFileSigs(w.path("idx_vocab")) == sigs,
      "both legs of every feed batch must fast-path under the frontiers")
  }

  test("positional + ivf: compaction preserves serving and redelivery no-ops") {
    val pd = java.nio.file.Files.createTempDirectory("cmc4p").toString
    val pw = new TableWriter(pd)
    (0 to 3).foreach(c =>
      Retrieval.appendPositionalIndexBatch(batch(c), pw, "docs", c))
    val phrases = docs.filter(col("doc_id") % 97 === 0
        && size(split(col("text"), " ")) >= 3)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 3).as("terms"))
    val pBefore = rows(Retrieval.phraseQuery(spark, pw, "docs", phrases, k = 10,
      excludeSelf = true))
    IndexFamily.Positional.compactCommits(spark, pw, "docs")
    val pSigs = parquetFileSigs(pd)
    (0 to 3).foreach(c =>
      Retrieval.appendPositionalIndexBatch(batch(c), pw, "docs", c))
    assert(parquetFileSigs(pd) == pSigs)
    assert(rows(Retrieval.phraseQuery(spark, pw, "docs", phrases, k = 10,
      excludeSelf = true)) == pBefore)

    val vd = java.nio.file.Files.createTempDirectory("cmc4v").toString
    val vw = new TableWriter(vd)
    def ebatch(c: Int) = embs.filter(pmod(col("vec_id"), lit(4)) === c)
    (0 to 3).foreach(c => Similarity.appendIvfIndexBatch(ebatch(c), vw, "emb", c))
    val queries = embs.filter(col("vec_id") < 8)
    val vBefore = rows(Similarity.queryIvfIndex(spark, vw, "emb", queries,
      k = 5, nprobe = 2))
    IndexFamily.Ivf.compactCommits(spark, vw, "emb")
    val vSigs = parquetFileSigs(vd)
    // redelivery of the BOOTSTRAP batch under the frontier must also
    // no-op (everCommitted sees the frontier, the fast-path the marker's
    // fold) — this is the dangerous one: a re-bootstrap would Overwrite
    (0 to 3).foreach(c => Similarity.appendIvfIndexBatch(ebatch(c), vw, "emb", c))
    assert(parquetFileSigs(vd) == vSigs,
      "IVF redelivery under the frontier must touch nothing")
    assert(rows(Similarity.queryIvfIndex(spark, vw, "emb", queries,
      k = 5, nprobe = 2)) == vBefore)
  }

  test("pinnedSnapshot retries when the commits state changes under the pin") {
    val dir = java.nio.file.Files.createTempDirectory("cmc5").toString
    val commits = new org.apache.hadoop.fs.Path(s"$dir/c")
    val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(commits)
    var pins = 0
    val (_, st, _) = IndexProtocol.pinnedSnapshot(fs, commits, () => Nil,
      () => {
        pins += 1
        // the first pin races a "writer": a staged manifest appears
        // between the pre- and post-listing; the dance must re-pin
        if (pins == 1)
          fs.create(new org.apache.hadoop.fs.Path(commits, "staged_7"), true)
            .close()
        spark.range(1).toDF()
      }, "test")
    assert(pins == 2, s"fingerprint change must force a re-pin, got $pins")
    assert(st.uncommittedAppends == Set(7L))
  }
}

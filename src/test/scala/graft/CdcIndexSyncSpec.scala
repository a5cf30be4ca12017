package graft

import graft.operators.{Retrieval, Similarity}
import graft.sources.TableWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC-driven BM25 index maintenance (q109): the change feed of a
  * mergeByKeyCdc table drives the index through the exactly-once
  * delete/append batch legs ([[Retrieval.syncBm25IndexFromFeed]]), and
  * the synced index must serve bit-identically to one built fresh over
  * the final table state. Plus the crash matrix for the delete leg
  * ([[Retrieval.deleteFromBm25IndexBatch]]) — the write-ahead struck
  * set and stats snapshot are what redeliveries replay from.
  */
class CdcIndexSyncSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

  private def indexState(w: TableWriter, name: String)
      : (Set[Seq[Any]], Set[Seq[Any]], Seq[Any]) = (
    w.read(spark, s"${name}_postings")
      .select("doc_id", "dl", "term", "tf").collect().map(_.toSeq).toSet,
    w.read(spark, s"${name}_vocab").select("term", "df")
      .collect().map(_.toSeq).toSet,
    w.read(spark, s"${name}_stats").collect()(0).toSeq)

  private def runCdcFlow(w: TableWriter): Unit = {
    w.mergeByKeyCdc(spark, "tbl", docs, "doc_id", 1L)
    w.mergeByKeyCdc(spark, "tbl",
      docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" upd7"))),
      "doc_id", 2L)
    w.deleteByKeyCdc(spark, "tbl",
      docs.filter(col("doc_id") % 11 === 5).select(col("doc_id")),
      "doc_id", 3L)
  }

  private def finalState: org.apache.spark.sql.DataFrame =
    docs.filter(col("doc_id") % 11 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" upd7")))
          .otherwise(col("text")))

  test("feed-synced index == fresh build over the final table state") {
    val dir = java.nio.file.Files.createTempDirectory("cdcsync1").toString
    val w = new TableWriter(dir)
    runCdcFlow(w)
    Retrieval.syncBm25IndexFromFeed(spark, w, "tbl", "idx")
    val refDir = java.nio.file.Files.createTempDirectory("cdcsync1r").toString
    val wr = new TableWriter(refDir)
    Retrieval.buildBm25Index(finalState, wr, "idx")
    val (p, v, st) = indexState(w, "idx")
    val (pr, vr, str) = indexState(wr, "idx")
    assert(p == pr); assert(v == vr); assert(st == str)
    // and the re-sync is a byte-level no-op (every leg fast-paths)
    val sigs = parquetFileSigs(s"$dir/idx_postings") ++
      parquetFileSigs(s"$dir/idx_vocab") ++ parquetFileSigs(s"$dir/idx_stats")
    Retrieval.syncBm25IndexFromFeed(spark, w, "tbl", "idx")
    assert(parquetFileSigs(s"$dir/idx_postings") ++
      parquetFileSigs(s"$dir/idx_vocab") ++
      parquetFileSigs(s"$dir/idx_stats") == sigs)
  }

  test("feed-synced POSITIONAL index == fresh build over the final state") {
    val dir = java.nio.file.Files.createTempDirectory("cdcsyncp").toString
    val w = new TableWriter(dir)
    runCdcFlow(w)
    Retrieval.syncPositionalIndexFromFeed(spark, w, "tbl", "phr")
    val refDir = java.nio.file.Files.createTempDirectory("cdcsyncpr").toString
    val wr = new TableWriter(refDir)
    Retrieval.buildPositionalIndex(finalState, wr, "phr")
    def pos(wx: TableWriter) = wx.read(spark, "phr_positions")
      .select("doc_id", "term", "positions").collect().map(_.toSeq).toSet
    assert(pos(w) == pos(wr))
    assert(pos(w).nonEmpty)
    // re-sync: byte-level no-op
    val sigs = parquetFileSigs(s"$dir/phr_positions")
    Retrieval.syncPositionalIndexFromFeed(spark, w, "tbl", "phr")
    assert(parquetFileSigs(s"$dir/phr_positions") == sigs)
  }

  test("feed-synced IVF index == the explicit delete→vacuum→append flow") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        graft.functions.VectorFns.toDouble(col("embedding")).as("embedding"))
    def upd(e: org.apache.spark.sql.DataFrame) = e.withColumn("embedding",
      when(col("vec_id") % 13 === 2,
        transform(col("embedding"), x => x * lit(2.0) + lit(1.0)))
        .otherwise(col("embedding")))
    val dir = java.nio.file.Files.createTempDirectory("cdcsyncv").toString
    val w = new TableWriter(dir)
    w.mergeByKeyCdc(spark, "etbl", emb, "vec_id", 1L)
    w.mergeByKeyCdc(spark, "etbl",
      upd(emb).filter(col("vec_id") % 13 === 2), "vec_id", 2L)
    w.deleteByKeyCdc(spark, "etbl",
      emb.filter(col("vec_id") % 11 === 5).select("vec_id"), "vec_id", 3L)
    Similarity.syncIvfIndexFromFeed(spark, w, "etbl", "eidx", trainIters = 2)
    // reference: what the explicit delete → vacuum → append flow yields
    // (per-vector assignment, so append == rebuild): the final-state
    // vectors — updated, minus the deleted ids — built under the SAME
    // batch-1-trained quantizer
    val refDir = java.nio.file.Files.createTempDirectory("cdcsyncvr").toString
    val wr = new TableWriter(refDir)
    val cents = Similarity.trainIvfCentroids(emb, 97L, 2)
    Similarity.buildIvfIndex(upd(emb).filter(col("vec_id") % 11 =!= 5),
      cents, wr, "eidx")
    def lists(wx: TableWriter) = wx.read(spark, "eidx_lists")
      .select("nbr_id", "cent_id").collect()
      .map(r => (r.getLong(0), r.getAs[Number]("cent_id").longValue)).toSet
    assert(lists(w) == lists(wr))
    assert(lists(w).nonEmpty)
    // re-sync: every leg fast-paths on its marker (lists byte-stable)
    val sigs = parquetFileSigs(s"$dir/eidx_lists")
    Similarity.syncIvfIndexFromFeed(spark, w, "etbl", "eidx", trainIters = 2)
    assert(parquetFileSigs(s"$dir/eidx_lists") == sigs)
  }

  test("delete batch: absent victims and committed markers are byte-level no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("cdcsync2").toString
    val w = new TableWriter(dir)
    val vecs = spark.range(200).select(col("id").as("vec_id"),
      array((1 to 8).map(i => sin(col("id") * i + i)): _*).as("embedding"))
    Retrieval.appendBm25IndexBatch(docs, w, "idx", 0L)
    Retrieval.appendPositionalIndexBatch(docs, w, "pidx", 0L)
    Similarity.appendIvfIndexBatch(vecs, w, "eidx", 0L, trainIters = 2)
    def dataSigs() =
      parquetFileSigs(dir).view.filterKeys(!_.contains("_commits")).toMap
    def noOps(idCol: String, absent: DataFrame, present: DataFrame,
        del: (DataFrame, Long) => Unit): Unit = {
      // victims that are not in the index
      val before = dataSigs()
      del(absent.withColumn(idCol, col(idCol) + 900000L), 1L)
      assert(dataSigs() == before)
      // a real delete, then its redelivery (marker fast path)
      del(present, 2L)
      val after = parquetFileSigs(dir)
      del(present, 2L)
      assert(parquetFileSigs(dir) == after)
    }
    noOps("doc_id", docs.limit(3), docs.filter(col("doc_id") % 11 === 5),
      Retrieval.deleteFromBm25IndexBatch(_, w, "idx", _))
    noOps("doc_id", docs.limit(3), docs.filter(col("doc_id") % 11 === 5),
      Retrieval.deleteFromPositionalIndexBatch(_, w, "pidx", _))
    noOps("vec_id", vecs.limit(3), vecs.filter(col("vec_id") % 11 === 5),
      Similarity.deleteFromIvfIndexBatch(_, w, "eidx", _))
  }

  test("redelivery replays the PERSISTED struck set, not the passed victims") {
    // crash point: after the struck-set + stats-snapshot write-aheads,
    // before any mutation. The redelivered call arrives with an EMPTY
    // victims frame (at-least-once delivery does not guarantee the same
    // frame contents — only the write-ahead does) and must still apply
    // the persisted strike exactly.
    val dir = java.nio.file.Files.createTempDirectory("cdcsync3").toString
    val w = new TableWriter(dir)
    Retrieval.appendBm25IndexBatch(docs, w, "idx", 0L)
    val victims = docs.filter(col("doc_id") % 11 === 5)
    // hand-build the write-aheads exactly as the protocol does
    val struck = w.read(spark, "idx_postings")
      .select("doc_id", "dl", "term", "tf", "term_bucket")
      .withColumn("term_bucket", col("term_bucket").cast("int"))
      .join(victims.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
    struck.write.parquet(s"$dir/idx_commits/struck_5")
    val st0 = w.read(spark, "idx_stats").collect()(0)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/idx_commits/delstate_5"),
      (s"${st0.getAs[Long]("n_docs")}\t${st0.getAs[Long]("sum_dl")}\n")
        .getBytes("UTF-8"))
    Retrieval.deleteFromBm25IndexBatch(docs.limit(0), w, "idx", 5L)
    // equals a clean build over the corpus without the victims
    val refDir = java.nio.file.Files.createTempDirectory("cdcsync3r").toString
    val wr = new TableWriter(refDir)
    Retrieval.buildBm25Index(docs.filter(col("doc_id") % 11 =!= 5), wr, "idx")
    val (p, v, st) = indexState(w, "idx")
    val (pr, vr, str) = indexState(wr, "idx")
    assert(p == pr); assert(v == vr); assert(st == str)
    assert(!new java.io.File(s"$dir/idx_commits/delstate_5").exists)
    assert(!new java.io.File(s"$dir/idx_commits/struck_5").exists)
  }

  test("crash mid-strike with scrambled stats: redelivery converges") {
    val dir = java.nio.file.Files.createTempDirectory("cdcsync4").toString
    val w = new TableWriter(dir)
    Retrieval.appendBm25IndexBatch(docs, w, "idx", 0L)
    val victims = docs.filter(col("doc_id") % 11 === 5)
    val struck = w.read(spark, "idx_postings")
      .select("doc_id", "dl", "term", "tf", "term_bucket")
      .withColumn("term_bucket", col("term_bucket").cast("int"))
      .join(victims.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
    struck.write.parquet(s"$dir/idx_commits/struck_5")
    val st0 = w.read(spark, "idx_stats").collect()(0)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/idx_commits/delstate_5"),
      (s"${st0.getAs[Long]("n_docs")}\t${st0.getAs[Long]("sum_dl")}\n")
        .getBytes("UTF-8"))
    // partial strike: one hit bucket is already rewritten without its
    // victims (what a crash mid-dynamic-overwrite leaves)
    val oneBucket = struck.select("term_bucket").distinct()
      .collect().map(_.getInt(0)).min
    val bucketDir = s"$dir/idx_postings/term_bucket=$oneBucket"
    val remaining = spark.read.parquet(bucketDir)
      .join(victims.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .collect()
    val schema = spark.read.parquet(bucketDir).schema
    deleteDir(bucketDir)
    spark.createDataFrame(
      spark.sparkContext.parallelize(remaining.toIndexedSeq), schema)
      .coalesce(1).write.parquet(bucketDir)
    // and stats were scrambled by the crashed attempt
    Seq((123L, 456L)).toDF("n_docs", "sum_dl")
      .write.mode("overwrite").parquet(s"$dir/idx_stats")
    Retrieval.deleteFromBm25IndexBatch(victims, w, "idx", 5L)
    val refDir = java.nio.file.Files.createTempDirectory("cdcsync4r").toString
    val wr = new TableWriter(refDir)
    Retrieval.buildBm25Index(docs.filter(col("doc_id") % 11 =!= 5), wr, "idx")
    val (p, v, st) = indexState(w, "idx")
    val (pr, vr, str) = indexState(wr, "idx")
    assert(p == pr); assert(v == vr); assert(st == str)
  }

  private def deleteDir(d: String): Unit = {
    def walk(f: java.io.File): Unit = {
      Option(f.listFiles).toSeq.flatten.foreach(walk); f.delete()
    }
    walk(new java.io.File(d))
  }
}

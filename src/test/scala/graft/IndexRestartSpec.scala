package graft

import graft.operators.{IndexFamily, IndexProtocol, Retrieval, Similarity}
import graft.sources.TableWriter
import org.apache.spark.sql.functions._

/** Exactly-once batch appends into the BM25 serving index
  * ([[Retrieval.appendBm25IndexBatch]] — q89/q106's foreachBatch body):
  * redelivered batches are byte-level no-ops, and every crash point in
  * the write-ahead protocol (partial postings files, dirty vocab merge)
  * recovers to the same index a clean run produces.
  */
class IndexRestartSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def batch(c: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === c)

  private def buildClean(dir: String): TableWriter = {
    val w = new TableWriter(dir)
    (0 to 3).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), w, "docs", c))
    w
  }

  private def indexState(w: TableWriter): (Set[Seq[Any]], Set[Seq[Any]], Seq[Any]) = (
    w.read(spark, "docs_postings")
      .select("doc_id", "dl", "term", "tf").collect().map(_.toSeq).toSet,
    w.read(spark, "docs_vocab").select("term", "df")
      .collect().map(_.toSeq).toSet,
    w.read(spark, "docs_stats").collect()(0).toSeq)

  test("first batch bootstraps; batches accumulate to the full build") {
    val dir = java.nio.file.Files.createTempDirectory("idxr1").toString
    val w = buildClean(dir)
    val refDir = java.nio.file.Files.createTempDirectory("idxr1r").toString
    val wr = new TableWriter(refDir)
    Retrieval.buildBm25Index(docs, wr, "docs")
    val (p, v, st) = indexState(w)
    val (pr, vr, str) = indexState(wr)
    assert(p == pr); assert(v == vr); assert(st == str)
  }

  test("redelivered batch is a byte-level no-op") {
    val dir = java.nio.file.Files.createTempDirectory("idxr2").toString
    val w = buildClean(dir)
    val sigs = parquetFileSigs(dir)
    (0 to 3).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), w, "docs", c))
    assert(parquetFileSigs(dir) == sigs,
      "redelivery of committed batches must touch nothing")
  }

  test("crash after partial postings move recovers to the clean index") {
    val dir = java.nio.file.Files.createTempDirectory("idxr3").toString
    val w = new TableWriter(dir)
    (0 to 2).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), w, "docs", c))
    // simulate a batch-3 attempt that died mid-move, protocol-faithfully:
    // renames only happen AFTER the staged-file manifest is written, so
    // the crashed attempt left (a) its manifest and (b) a subset of the
    // listed files — here one stray file with garbage content
    val bucketDir = new java.io.File(s"$dir/docs_postings").listFiles
      .filter(_.isDirectory).head
    batch(0).limit(2).select(col("doc_id"), lit(99).as("dl"),
        lit("junk").as("term"), lit(1L).as("tf"))
      .coalesce(1).write.parquet(s"$dir/__junk")
    val junk = new java.io.File(s"$dir/__junk").listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val stray = new java.io.File(bucketDir, "b3-0.parquet")
    java.nio.file.Files.copy(junk.toPath, stray.toPath)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/docs_commits/staged_3"),
      (stray.getPath + "\n").getBytes("UTF-8"))
    // redelivery of batch 3 must redo (delete) the manifest's files and
    // converge — without listing any bucket directory
    Retrieval.appendBm25IndexBatch(batch(3), w, "docs", 3)
    val cleanDir = java.nio.file.Files.createTempDirectory("idxr3r").toString
    val (p, v, st) = indexState(w)
    val (pr, vr, str) = indexState(buildClean(cleanDir))
    assert(p == pr); assert(v == vr); assert(st == str)
  }

  test("crash inside the vocab merge (dirty flag) recovers bucket-scoped, exactly") {
    val dir = java.nio.file.Files.createTempDirectory("idxr4").toString
    val w = new TableWriter(dir)
    (0 to 2).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), w, "docs", c))
    // simulate batch 3 dying mid-merge, protocol-faithfully: the dirty
    // flag carries (batchId, pre-merge stats snapshot) — written before
    // any derived write — and the damage is confined to what mergeVocab
    // can touch: the batch's own vocab buckets, plus garbage stats
    val st0 = w.read(spark, "docs_stats").collect()(0)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/docs_vocab_dirty"),
      (s"3\n${st0.getAs[Long]("n_docs")}\t${st0.getAs[Long]("sum_dl")}\n")
        .getBytes("UTF-8"))
    val touched = batch(3)
      .select(explode(split(col("text"), " ")).as("term"))
      .select(pmod(xxhash64(col("term")), lit(16L)).cast("int").as("vb"))
      .distinct().collect().map(_.getInt(0)).toSet
    val vb = new java.io.File(s"$dir/docs_vocab").listFiles
      .filter(_.getName.startsWith("vocab_bucket="))
      .filter(d => touched.contains(
        d.getName.stripPrefix("vocab_bucket=").toInt))
    assert(vb.nonEmpty, "fixture batch must touch some vocab bucket")
    vb.take(math.max(1, vb.length / 2)).foreach { d =>
      d.listFiles.foreach(_.delete()); d.delete()
    }
    Seq((999L, 999L)).toDF("n_docs", "sum_dl")
      .write.mode("overwrite").parquet(s"$dir/docs_stats")
    // redelivery of batch 3 sees the dirty flag and repairs ONLY the
    // touched buckets + stats from the snapshot
    Retrieval.appendBm25IndexBatch(batch(3), w, "docs", 3)
    val cleanDir = java.nio.file.Files.createTempDirectory("idxr4r").toString
    val (p, v, st) = indexState(w)
    val (pr, vr, str) = indexState(buildClean(cleanDir))
    assert(p == pr); assert(v == vr); assert(st == str)
    assert(!new java.io.File(s"$dir/docs_vocab_dirty").exists,
      "recovery must clear the dirty flag")
  }

  test("bucket-scoped recovery leaves untouched vocab buckets byte-stable") {
    val dir = java.nio.file.Files.createTempDirectory("idxr4b").toString
    val w = new TableWriter(dir)
    (0 to 2).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), w, "docs", c))
    // a one-doc batch with a tiny vocabulary touches few vocab buckets;
    // recovery must rewrite only those — every other bucket's files stay
    // byte-identical (the cost-shape claim: recovery tracks the BATCH)
    val tiny = batch(3).limit(1)
      .withColumn("text", lit("zzqa zzqb zzqa"))
    val touched = Set("zzqa", "zzqb").map(t =>
      spark.range(1).select(pmod(xxhash64(lit(t)), lit(16L)).cast("int"))
        .collect()(0).getInt(0))
    val st0 = w.read(spark, "docs_stats").collect()(0)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/docs_vocab_dirty"),
      (s"3\n${st0.getAs[Long]("n_docs")}\t${st0.getAs[Long]("sum_dl")}\n")
        .getBytes("UTF-8"))
    val untouchedSigs = parquetFileSigs(s"$dir/docs_vocab").view
      .filterKeys(p => !touched.exists(b => p.contains(s"vocab_bucket=$b/")))
      .toMap
    Retrieval.appendBm25IndexBatch(tiny, w, "docs", 3)
    val afterSigs = parquetFileSigs(s"$dir/docs_vocab").view
      .filterKeys(p => !touched.exists(b => p.contains(s"vocab_bucket=$b/")))
      .toMap
    assert(afterSigs == untouchedSigs,
      "recovery must not rewrite vocab buckets outside the batch's vocabulary")
    // and the recovered index equals the clean one
    val cleanDir = java.nio.file.Files.createTempDirectory("idxr4br").toString
    val wr = new TableWriter(cleanDir)
    (0 to 2).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), wr, "docs", c))
    Retrieval.appendBm25IndexBatch(tiny, wr, "docs", 3)
    val (p, v, st) = indexState(w)
    val (pr, vr, str) = indexState(wr)
    assert(p == pr); assert(v == vr); assert(st == str)
  }

  test("bootstrap crash after vocab/stats materialize but before the marker") {
    // the r10 advisor's double-count window: stats exist, and WITHOUT a
    // dirty flag redelivery would take the incremental branch and re-add
    // the batch's dfs — the protocol must write the flag in the
    // bootstrap branch too, forcing an exact rebuild on redelivery
    val dir = java.nio.file.Files.createTempDirectory("idxr8").toString
    val w = new TableWriter(dir)
    Retrieval.appendBm25IndexBatch(batch(0), w, "docs", 0)
    // roll back to 'post-derive, pre-marker': the staged manifest (only
    // removed after the marker) still lists the moved-in b0- files, the
    // marker is gone, and the dirty flag is as the bootstrap branch
    // wrote it
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val moved = walk(new java.io.File(s"$dir/docs_postings"))
      .filter(_.getName.startsWith("b0-")).map(_.getPath)
    assert(moved.nonEmpty)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/docs_commits/staged_0"),
      moved.mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(new java.io.File(s"$dir/docs_commits/batch_0").delete())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/docs_vocab_dirty"),
      "0\nbootstrap\n".getBytes("UTF-8"))
    Retrieval.appendBm25IndexBatch(batch(0), w, "docs", 0)
    (1 to 3).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), w, "docs", c))
    val cleanDir = java.nio.file.Files.createTempDirectory("idxr8r").toString
    val (p, v, st) = indexState(w)
    val (pr, vr, str) = indexState(buildClean(cleanDir))
    assert(p == pr); assert(v == vr); assert(st == str)
  }

  test("stale dirty flag from a crash between marker and clear is swept") {
    val dir = java.nio.file.Files.createTempDirectory("idxr9").toString
    val w = new TableWriter(dir)
    (0 to 2).foreach(c => Retrieval.appendBm25IndexBatch(batch(c), w, "docs", c))
    // batch 2 committed (marker exists) but crashed before clearing its
    // flag: the flag is litter — the next batch must treat the index as
    // clean (batch 2's merge completed before its marker), not 'recover'
    // with batch 2's stale snapshot
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/docs_vocab_dirty"),
      "2\n1\t1\n".getBytes("UTF-8"))
    Retrieval.appendBm25IndexBatch(batch(3), w, "docs", 3)
    val cleanDir = java.nio.file.Files.createTempDirectory("idxr9r").toString
    val (p, v, st) = indexState(w)
    val (pr, vr, str) = indexState(buildClean(cleanDir))
    assert(p == pr); assert(v == vr); assert(st == str)
  }

  test("positional batch appends: redelivery no-op, stray-file redo converges") {
    val dir = java.nio.file.Files.createTempDirectory("idxr6").toString
    val w = new TableWriter(dir)
    (0 to 3).foreach(c =>
      Retrieval.appendPositionalIndexBatch(batch(c), w, "docs", c))
    val sigs = parquetFileSigs(dir)
    // redelivery: byte-level no-op
    (0 to 3).foreach(c =>
      Retrieval.appendPositionalIndexBatch(batch(c), w, "docs", c))
    assert(parquetFileSigs(dir) == sigs)
    // crashed attempt of a NEW batch left a stray file — listed, as the
    // protocol guarantees, in the attempt's staged manifest; redo
    // deletes exactly those paths
    val bucketDir = new java.io.File(s"$dir/docs_positions").listFiles
      .filter(_.isDirectory).head
    val stray = new java.io.File(bucketDir, "b9-0.parquet")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/docs_pos_commits/staged_9"),
      (stray.getPath + "\n").getBytes("UTF-8"))
    Retrieval.appendPositionalIndexBatch(
      batch(0).withColumn("doc_id", col("doc_id") + 1000000L), w, "docs", 9)
    // one-shot rebuild over the same corpus serves identically
    val refDir = java.nio.file.Files.createTempDirectory("idxr6r").toString
    val wr = new TableWriter(refDir)
    Retrieval.buildPositionalIndex(
      docs.unionByName(batch(0).withColumn("doc_id", col("doc_id") + 1000000L)),
      wr, "docs")
    val phrases = docs.filter(col("doc_id") % 11 === 0
        && size(split(col("text"), " ")) >= 3)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 3).as("terms"))
    def rows(wx: TableWriter) = Retrieval.phraseQuery(spark, wx, "docs",
        phrases, k = 7, excludeSelf = true)
      .collect().map(_.toSeq).toSet
    val got = rows(w)
    assert(got == rows(wr))
    assert(got.nonEmpty)
  }

  test("IVF batch appends: bootstrap on batch 0, redelivery no-op, == one-shot") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def ebatch(c: Int) = emb.filter(pmod(col("vec_id"), lit(4)) === c)
    val dir = java.nio.file.Files.createTempDirectory("idxr7").toString
    val w = new TableWriter(dir)
    (0 to 3).foreach(c =>
      Similarity.appendIvfIndexBatch(ebatch(c), w, "emb", c, trainIters = 2))
    val sigs = parquetFileSigs(dir)
    (0 to 3).foreach(c =>
      Similarity.appendIvfIndexBatch(ebatch(c), w, "emb", c, trainIters = 2))
    assert(parquetFileSigs(dir) == sigs,
      "redelivered IVF batches must touch nothing")
    // one-shot build under the SAME quantizer (trained on chunk 0)
    val refDir = java.nio.file.Files.createTempDirectory("idxr7r").toString
    val wr = new TableWriter(refDir)
    val cents = Similarity.trainIvfCentroids(ebatch(0), 97L, 2)
    Similarity.buildIvfIndex(emb, cents, wr, "emb")
    def rows(wx: TableWriter) = Similarity.queryIvfIndex(spark, wx, "emb",
        emb.filter(col("vec_id") < 6), k = 4, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val got = rows(w)
    assert(got == rows(wr))
    assert(got.nonEmpty)
  }

  test("IVF bootstrap crash after the build but before the marker replays clean") {
    // the r10 advisor's duplicate-rows window: centroids exist after the
    // crashed bootstrap, and centroid-based detection would send the
    // redelivered batch 0 down the append branch — renaming its vectors
    // in AGAIN next to the bootstrap's part- files. History-based
    // detection must re-bootstrap instead (Overwrite, convergent).
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def ebatch(c: Int) = emb.filter(pmod(col("vec_id"), lit(4)) === c)
    val dir = java.nio.file.Files.createTempDirectory("idxr10").toString
    val w = new TableWriter(dir)
    Similarity.appendIvfIndexBatch(ebatch(0), w, "emb", 0, trainIters = 2)
    // roll back to 'post-build, pre-marker': only the marker is gone
    assert(new java.io.File(s"$dir/emb_ivf_commits/batch_0").delete())
    Similarity.appendIvfIndexBatch(ebatch(0), w, "emb", 0, trainIters = 2)
    (1 to 3).foreach(c =>
      Similarity.appendIvfIndexBatch(ebatch(c), w, "emb", c, trainIters = 2))
    val refDir = java.nio.file.Files.createTempDirectory("idxr10r").toString
    val wr = new TableWriter(refDir)
    (0 to 3).foreach(c =>
      Similarity.appendIvfIndexBatch(ebatch(c), wr, "emb", c, trainIters = 2))
    def lists(wx: TableWriter) = wx.read(spark, "emb_lists")
      .select("nbr_id", "cent_id").collect().map(_.toSeq)
    assert(lists(w).length == lists(wr).length,
      "replayed bootstrap must not duplicate list rows")
    assert(lists(w).toSet == lists(wr).toSet)
  }

  test("a second writer with a different id is refused; same id re-acquires") {
    val dir = java.nio.file.Files.createTempDirectory("idxr11").toString
    val w = new TableWriter(dir)
    Retrieval.appendBm25IndexBatch(batch(0), w, "docs", 0,
      writerId = "stream-A")
    // the owning writer restarts freely
    Retrieval.appendBm25IndexBatch(batch(1), w, "docs", 1,
      writerId = "stream-A")
    // a misconfigured second stream fails LOUDLY, before touching state
    val sigs = parquetFileSigs(dir)
    val e = intercept[IllegalStateException] {
      Retrieval.appendBm25IndexBatch(batch(2), w, "docs", 2,
        writerId = "stream-B")
    }
    assert(e.getMessage.contains("stream-A"))
    assert(parquetFileSigs(dir) == sigs,
      "a refused writer must not have modified the index")
    // explicit handover lets the new writer in
    IndexFamily.Bm25.releaseWriterLease(spark, w, "docs")
    Retrieval.appendBm25IndexBatch(batch(2), w, "docs", 2,
      writerId = "stream-B")
    Retrieval.appendBm25IndexBatch(batch(3), w, "docs", 3,
      writerId = "stream-B")
    val cleanDir = java.nio.file.Files.createTempDirectory("idxr11r").toString
    val (p, v, st) = indexState(w)
    val (pr, vr, str) = indexState(buildClean(cleanDir))
    assert(p == pr); assert(v == vr); assert(st == str)
    // the positional and IVF legs: same refusal, same one release
    val vecs = spark.range(200).select(col("id").as("vec_id"),
      array((1 to 8).map(i => sin(col("id") * i + i)): _*).as("embedding"))
    def ebatch(c: Int) = vecs.filter(pmod(col("vec_id"), lit(4)) === c)
    val others: Seq[(IndexFamily, String, (Int, String) => Unit)] = Seq(
      (IndexFamily.Positional, "docs", (c, id) =>
        Retrieval.appendPositionalIndexBatch(batch(c), w, "docs", c,
          writerId = id)),
      (IndexFamily.Ivf, "emb", (c, id) =>
        Similarity.appendIvfIndexBatch(ebatch(c), w, "emb", c,
          trainIters = 2, writerId = id)))
    for ((family, name, append) <- others) {
      append(0, "stream-A")
      append(1, "stream-A")
      val before = parquetFileSigs(dir)
      val refused = intercept[IllegalStateException](append(2, "stream-B"))
      assert(refused.getMessage.contains("stream-A"), family.toString)
      assert(parquetFileSigs(dir) == before,
        s"$family: a refused writer must not have modified the index")
      family.releaseWriterLease(spark, w, name)
      append(2, "stream-B")
      assert(family.commits(spark, w, name).isMarked(IndexProtocol.Append, 2))
    }
  }

  test("served rankings from the batch build match the one-shot path") {
    val dir = java.nio.file.Files.createTempDirectory("idxr5").toString
    val w = buildClean(dir)
    val qs = Retrieval.queryTerms(docs, col("doc_id") % 11 === 0, 6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val got = rows(Retrieval.queryBm25Index(spark, w, "docs", qs,
      k = 7, excludeSelf = true))
    val want = rows(Retrieval.bm25TopK(docs, qs, k = 7, excludeSelf = true))
    assert(got == want)
    assert(got.nonEmpty)
  }
}

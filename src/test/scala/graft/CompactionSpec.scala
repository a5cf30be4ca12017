package graft

import graft.sources.TableWriter
import org.apache.spark.sql.functions._

/** Structural claims of TableWriter.compact that the q69 oracle entry
  * (content fidelity) cannot see: which files are touched, bin counts,
  * idempotence, partition isolation, and the _compaction_log crash
  * protocol.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def listing(dir: String): Map[String, Long] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .map(n => n -> java.nio.file.Files.size(
          java.nio.file.Paths.get(dir, n))).toMap
    } finally s.close()
  }

  private def sha(p: java.nio.file.Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(java.nio.file.Files.readAllBytes(p))
      .map("%02x".format(_)).mkString
  }

  test("compact: bin-packs smalls, leaves large files byte-identical, idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val w = new TableWriter(dir)
    // large generation: 5000 rows in one file (far above the 2 KB threshold)
    (0L until 5000L).toDF("k").withColumn("v", col("k") * 2)
      .coalesce(1).write.parquet(w.path("t"))
    // small generation: 10 single-row files
    (10000L until 10010L).toDF("k").withColumn("v", col("k") * 2)
      .repartition(10).write.mode("append").parquet(w.path("t"))
    val before = listing(w.path("t"))
    val large = before.maxBy(_._2)._1
    val largeHash = sha(java.nio.file.Paths.get(w.path("t"), large))
    // all generation-2 files are sub-threshold; the generation-1 file is not
    assert(before.size >= 6 && before.count(_._2 < (2L << 10)) == before.size - 1)

    val (b1, a1) = w.compact(spark, "t", targetBytes = 64L << 10,
      smallThresholdOpt = Some(2L << 10))
    assert(b1 == before.size && a1 == 2) // large + one packed file
    val after = listing(w.path("t"))
    assert(after.size == 2 && after.contains(large))
    assert(sha(java.nio.file.Paths.get(w.path("t"), large)) == largeHash)
    assert(w.read(spark, "t").as[(Long, Long)].collect().sorted.toSeq ==
      ((0L until 5000L) ++ (10000L until 10010L)).map(k => (k, k * 2)))

    // second pass: structural no-op (same names, same sizes)
    val (b2, a2) = w.compact(spark, "t", targetBytes = 64L << 10,
      smallThresholdOpt = Some(2L << 10))
    assert(b2 == 2 && a2 == 2 && listing(w.path("t")) == after)
  }

  test("compact: partitioned tables compact per leaf dir, never across") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-p").toString
    val w = new TableWriter(dir)
    (0L until 40L).toDF("k")
      .withColumn("p", (col("k") % 2).cast("int"))
      .repartition(8).write.partitionBy("p").parquet(w.path("pt"))
    val (b, a) = w.compact(spark, "pt", targetBytes = 64L << 10,
      smallThresholdOpt = Some(4L << 10))
    assert(b > a && a == 2) // one packed file per partition dir
    for (p <- Seq(0, 1)) {
      val got = spark.read.parquet(s"${w.path("pt")}/p=$p")
        .as[Long].collect().sorted.toSeq
      assert(got == (0L until 40L).filter(_ % 2 == p))
    }
    // partition-pruned read still prunes (layout preserved)
    assert(w.read(spark, "pt").filter(col("p") === 0)
      .as[(Long, Int)].collect().forall(_._1 % 2 == 0))
  }

  test("compact: _compaction_log recovery completes an interrupted delete") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-r").toString
    val w = new TableWriter(dir)
    (0L until 20L).toDF("k").repartition(4).write.parquet(w.path("rt"))
    val tdir = java.nio.file.Paths.get(w.path("rt"))
    val parts = listing(w.path("rt")).keys.toSeq.sorted
    // simulate the crash window: a compacted copy of parts(0) was
    // unveiled and the log (listing the doomed original) written, but
    // the delete never ran — the table momentarily holds duplicates
    val doomed = tdir.resolve(parts(0))
    java.nio.file.Files.copy(doomed, tdir.resolve("compact-recovered-0.parquet"))
    java.nio.file.Files.writeString(tdir.resolve("_compaction_log"),
      doomed.toString + "\n")
    // also a pre-log crash artifact: invisible stage leftovers
    java.nio.file.Files.copy(tdir.resolve(parts(1)),
      tdir.resolve(".compact-stale.parquet"))

    w.compact(spark, "rt", targetBytes = 64L << 10,
      smallThresholdOpt = Some(1L)) // threshold 1: nothing qualifies as small
    assert(!java.nio.file.Files.exists(doomed))
    assert(!java.nio.file.Files.exists(tdir.resolve("_compaction_log")))
    assert(!java.nio.file.Files.exists(tdir.resolve(".compact-stale.parquet")))
    assert(w.read(spark, "rt").as[Long].collect().sorted.toSeq ==
      (0L until 20L))
  }

  test("compact: recovery unveils the logged compacted files before deleting the smalls") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-u").toString
    val w = new TableWriter(dir)
    (0L until 20L).toDF("k").repartition(4).write.parquet(w.path("ut"))
    val tdir = java.nio.file.Paths.get(w.path("ut"))
    val parts = listing(w.path("ut")).keys.toSeq.sorted
    // the crash state: parts(0) and parts(1) compacted into one hidden
    // file, the log written, nothing unveiled or deleted yet
    val hidden = tdir.resolve(".compact-crash-0.parquet")
    spark.read.parquet(parts.take(2).map(p => tdir.resolve(p).toString): _*)
      .coalesce(1).write.parquet(w.path("ut_stage"))
    val staged = new java.io.File(w.path("ut_stage")).listFiles
      .filter(_.getName.endsWith(".parquet")).head.toPath
    java.nio.file.Files.move(staged, hidden)
    java.nio.file.Files.writeString(tdir.resolve("_compaction_log"),
      s"$hidden\t${tdir.resolve("compact-crash-0.parquet")}\n" +
        parts.take(2).map(p => tdir.resolve(p).toString + "\n").mkString)

    w.compact(spark, "ut", targetBytes = 64L << 10,
      smallThresholdOpt = Some(1L)) // threshold 1: nothing qualifies as small
    assert(w.read(spark, "ut").as[Long].collect().sorted.toSeq ==
      (0L until 20L))
    assert(java.nio.file.Files.exists(tdir.resolve("compact-crash-0.parquet")))
    assert(!java.nio.file.Files.exists(hidden))
    assert(!java.nio.file.Files.exists(tdir.resolve("_compaction_log")))
  }

  test("compact: positional and IVF list layouts shrink to one file per dir, serving bit-identical") {
    import graft.operators.{Retrieval, Similarity}
    def filesPerDir(path: String, prefix: String): Map[String, Int] = {
      val root = java.nio.file.Paths.get(path)
      val s = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith(prefix))
          .map(p => p.getFileName.toString -> listing(p.toString).size)
          .toMap
      } finally s.close()
    }
    // positional family
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pdir = java.nio.file.Files.createTempDirectory("graft-compact-pos").toString
    val wp = new TableWriter(pdir)
    (0 to 3).foreach { c =>
      Retrieval.appendPositionalIndexBatch(
        real.filter(pmod(col("doc_id"), lit(4)) === c), wp, "docs", c.toLong)
    }
    val phrases = real.filter(col("doc_id") % 11 === 0
        && size(split(col("text"), " ")) >= 3)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 3).as("terms"))
    def servePos() = Retrieval.phraseQuery(spark, wp, "docs", phrases,
        k = 7, excludeSelf = true)
      .collect().map(_.toSeq).toSet
    val posBefore = filesPerDir(wp.path("docs_positions"), "term_bucket=")
    assert(posBefore.values.exists(_ > 1),
      s"appends should have fragmented the positions layout: $posBefore")
    val posPre = servePos()
    wp.compact(spark, "docs_positions", targetBytes = 256L << 20)
    val posAfter = filesPerDir(wp.path("docs_positions"), "term_bucket=")
    assert(posAfter.values.forall(_ == 1), s"uncompacted: $posAfter")
    assert(servePos() == posPre)
    assert(posPre.nonEmpty)

    // IVF list family
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val cents = Similarity.trainIvfCentroids(base, initStride = 13L, iters = 2)
    val idir = java.nio.file.Files.createTempDirectory("graft-compact-ivf").toString
    val wi = new TableWriter(idir)
    Similarity.buildIvfIndex(base, cents, wi, "emb")
    Similarity.adoptIvfIndexForStreaming(spark, wi, "emb")
    (0 to 2).foreach { c =>
      Similarity.appendIvfIndexBatch(
        emb.filter(col("vec_id") % 10 === 0
          && pmod(col("vec_id") / 10, lit(3)) === c), wi, "emb", c.toLong)
    }
    def serveIvf() = Similarity.queryIvfIndex(spark, wi, "emb",
        emb.filter(col("vec_id") < 8), k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val ivfBefore = filesPerDir(wi.path("emb_lists"), "cent_id=")
    assert(ivfBefore.values.exists(_ > 1),
      s"appends should have fragmented the lists layout: $ivfBefore")
    val ivfPre = serveIvf()
    wi.compact(spark, "emb_lists", targetBytes = 256L << 20)
    val ivfAfter = filesPerDir(wi.path("emb_lists"), "cent_id=")
    assert(ivfAfter.values.forall(_ == 1), s"uncompacted: $ivfAfter")
    assert(serveIvf() == ivfPre)
    assert(ivfPre.nonEmpty)
  }

  test("compact: index bucket dirs shrink to one file, query bit-identical") {
    // the q92 composition: incremental appends fragment the BM25 postings
    // layout (one file per batch × touched bucket); compaction must
    // reduce each bucket dir to a single file and leave the served
    // ranking bit-identical
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-idx").toString
    val w = new TableWriter(dir)
    (0 to 3).foreach { c =>
      graft.operators.Retrieval.appendBm25IndexBatch(
        real.filter(pmod(col("doc_id"), lit(4)) === c), w, "docs", c.toLong)
    }
    def bucketFiles(): Map[String, Int] = {
      val root = java.nio.file.Paths.get(w.path("docs_postings"))
      val s = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("term_bucket="))
          .map(p => p.getFileName.toString -> listing(p.toString).size)
          .toMap
      } finally s.close()
    }
    val qs = graft.operators.Retrieval.queryTerms(
      real, col("doc_id") % 11 === 0, 6)
    def serve() = graft.operators.Retrieval.queryBm25Index(
        spark, w, "docs", qs, k = 7, excludeSelf = true)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("n_hit"))).toSet
    val before = bucketFiles()
    assert(before.values.exists(_ > 1),
      s"appends should have fragmented at least one bucket: $before")
    val pre = serve()
    w.compact(spark, "docs_postings", targetBytes = 256L << 20)
    val after = bucketFiles()
    assert(after.values.forall(_ == 1),
      s"every bucket dir must compact to one file: $after")
    assert(serve() == pre, "compaction changed the served ranking")
    assert(pre.nonEmpty)
  }
}

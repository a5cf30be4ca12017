package graft

import graft.operators.Retrieval
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantics of the lexical-retrieval family (v10/v11/d38/d39). The
  * oracles hash-check determinism against DuckDB; this spec pins the
  * retrieval PROPERTIES on hand-built corpora where the right answer is
  * computable by inspection.
  */
class RetrievalSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // -------------------------------------------------------------- BM25

  private val corpus = docs(
    0L -> "apple banana cherry date egg fig grape melon",   // the query doc
    1L -> "apple banana cherry date egg fig grape kiwi",    // 7 shared terms
    2L -> "apple banana cherry plum pear quince rye sage",  // 3 shared
    3L -> "apple walnut yam zucchini bean corn dill endive", // 1 shared
    4L -> "walnut yam zucchini bean corn dill endive fennel", // 0 shared
    5L -> "apple apple apple apple banana banana cherry date" // high tf
  )

  private lazy val q = Retrieval.queryTerms(corpus, col("doc_id") === 0L, 8)
  private lazy val ranked =
    Retrieval.bm25TopK(corpus, q, k = 10, excludeSelf = true)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_hit"))).toList

  test("bm25: query terms are the distinct first-n tokens") {
    val terms = q.select("term").as[String].collect().toSet
    assert(terms ==
      Set("apple", "banana", "cherry", "date", "egg", "fig", "grape", "melon"))
  }

  test("bm25: self is excluded, zero-overlap docs don't appear") {
    val ids = ranked.map(_._1).toSet
    assert(!ids.contains(0L), "query doc retrieved despite excludeSelf")
    assert(!ids.contains(4L), "doc with no query term was scored")
  }

  test("bm25: n_hit counts matched query terms") {
    val hits = ranked.map(t => t._1 -> t._3).toMap
    assert(hits(1L) == 7L)
    assert(hits(2L) == 3L)
    assert(hits(3L) == 1L)
  }

  test("bm25: more shared terms outrank fewer (idf/tf comparable here)") {
    val rank = ranked.map(t => t._1 -> t._2).toMap
    assert(rank(1L) < rank(2L), s"7-hit doc must beat 3-hit doc: $rank")
    assert(rank(2L) < rank(3L), s"3-hit doc must beat 1-hit doc: $rank")
  }

  test("bm25: duplicated docs tie exactly and break on doc_id") {
    val twin = docs(
      0L -> "apple banana cherry",
      7L -> "apple banana zz yy xx",
      8L -> "apple banana zz yy xx", // identical token multiset to 7
      9L -> "unrelated words only here")
    val r = Retrieval.bm25TopK(twin,
        Retrieval.queryTerms(twin, col("doc_id") === 0L, 3),
        k = 10, excludeSelf = true)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")))
    val pos7 = r.indexWhere(_._1 == 7L)
    val pos8 = r.indexWhere(_._1 == 8L)
    assert(pos7 >= 0 && pos8 == pos7 + 1,
      s"identical docs must be adjacent with the lower id first: ${r.toList}")
  }

  test("bm25: persisted index returns bit-identical rankings to one-shot") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val qs = Retrieval.queryTerms(real, col("doc_id") % 11 === 0, 6)
    val tmp = java.nio.file.Files.createTempDirectory("bm25idx").toString
    val w = new graft.sources.TableWriter(tmp)
    Retrieval.buildBm25Index(real, w, "docs")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("n_hit"))).toSet
    val oneShot = rows(Retrieval.bm25TopK(real, qs, k = 7, excludeSelf = true))
    val viaIndex = rows(
      Retrieval.queryBm25Index(spark, w, "docs", qs, k = 7, excludeSelf = true))
    assert(oneShot == viaIndex)
    assert(oneShot.nonEmpty)
  }

  test("bm25: incremental append == full rebuild, bit for bit") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val qs = Retrieval.queryTerms(real, col("doc_id") % 11 === 0, 6)
    val incDir = java.nio.file.Files.createTempDirectory("bm25inc").toString
    val allDir = java.nio.file.Files.createTempDirectory("bm25all").toString
    val wInc = new graft.sources.TableWriter(incDir)
    val wAll = new graft.sources.TableWriter(allDir)
    Retrieval.buildBm25Index(real.filter(col("doc_id") % 10 =!= 0), wInc, "docs")
    def files(sub: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$incDir/$sub")).map(f => f.getPath -> f.lastModified()).toMap
    }
    val postingsBefore = files("docs_postings")
    Retrieval.appendBm25IndexBatch(real.filter(col("doc_id") % 10 === 0), wInc,
      "docs", 0L)
    val postingsAfter = files("docs_postings")
    postingsBefore.foreach { case (p, ts) =>
      assert(postingsAfter.get(p).contains(ts), s"append disturbed $p")
    }
    Retrieval.buildBm25Index(real, wAll, "docs")
    def sorted(w: graft.sources.TableWriter, t: String, cols: String*) =
      w.read(spark, t).select(cols.map(col): _*).collect()
        .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(sorted(wInc, "docs_vocab", "term", "df")
      == sorted(wAll, "docs_vocab", "term", "df"))
    assert(sorted(wInc, "docs_stats", "n_docs", "sum_dl")
      == sorted(wAll, "docs_stats", "n_docs", "sum_dl"))
    def rows(w: graft.sources.TableWriter) =
      Retrieval.queryBm25Index(spark, w, "docs", qs, k = 7, excludeSelf = true)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
          r.getAs[Int]("rank"), r.getAs[Long]("n_hit"))).toSet
    val inc = rows(wInc)
    assert(inc == rows(wAll))
    assert(inc.nonEmpty)
  }

  test("vocab merges rewrite only the batch's buckets") {
    val tmp = java.nio.file.Files.createTempDirectory("bm25vb").toString
    val w = new graft.sources.TableWriter(tmp)
    val base = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta zeta",
      3L -> "gamma eta theta iota")
    Retrieval.buildBm25Index(base, w, "docs")
    val sigsBefore = parquetFileSigs(s"$tmp/docs_vocab")
    assert(sigsBefore.nonEmpty)
    def bucketOf(p: String): String =
      p.split('/').find(_.startsWith("vocab_bucket=")).get
    // append a single-term doc: only that term's vocab bucket may change
    val newTerm = "gamma" // existing term — pure df increment
    Retrieval.appendBm25IndexBatch(docs(9L -> s"$newTerm $newTerm"), w, "docs", 0L)
    val touched = {
      val b = spark.range(1).select(
        pmod(xxhash64(lit(newTerm)), lit(16L)).cast("int")).head().getInt(0)
      s"vocab_bucket=$b"
    }
    val sigsAfter = parquetFileSigs(s"$tmp/docs_vocab")
    sigsBefore.foreach { case (p, sig) =>
      if (bucketOf(p) != touched)
        assert(sigsAfter.get(p).contains(sig),
          s"append rewrote untouched vocab bucket file $p")
    }
    // df actually incremented, everything else identical
    def vocab(): Map[String, Long] = w.read(spark, "docs_vocab")
      .select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab()("gamma") == 3L)

    // delete the appended doc: same bucket discipline, df back down
    val sigsMid = parquetFileSigs(s"$tmp/docs_vocab")
    Retrieval.deleteFromBm25IndexBatch(docs(9L -> s"$newTerm $newTerm"), w,
      "docs", 0L)
    val sigsEnd = parquetFileSigs(s"$tmp/docs_vocab")
    sigsMid.foreach { case (p, sig) =>
      if (bucketOf(p) != touched)
        assert(sigsEnd.get(p).contains(sig),
          s"delete rewrote untouched vocab bucket file $p")
    }
    assert(vocab()("gamma") == 2L)
  }

  test("vocab bucket with no surviving terms disappears") {
    val tmp = java.nio.file.Files.createTempDirectory("bm25vb2").toString
    val w = new graft.sources.TableWriter(tmp)
    // one doc whose only term is unique to it
    Retrieval.buildBm25Index(
      docs(1L -> "solo", 2L -> "alpha beta"), w, "docs")
    val soloBucket = spark.range(1).select(
      pmod(xxhash64(lit("solo")), lit(16L)).cast("int")).head().getInt(0)
    Retrieval.deleteFromBm25IndexBatch(docs(1L -> "solo"), w, "docs", 0L)
    val vocabTerms = w.read(spark, "docs_vocab").select("term")
      .collect().map(_.getString(0)).toSet
    assert(!vocabTerms.contains("solo"))
    val soloAlone = !Seq("alpha", "beta").exists(t =>
      spark.range(1).select(pmod(xxhash64(lit(t)), lit(16L)).cast("int"))
        .head().getInt(0) == soloBucket)
    if (soloAlone)
      assert(!new java.io.File(s"$tmp/docs_vocab/vocab_bucket=$soloBucket")
        .exists, "emptied vocab bucket dir should be deleted")
  }

  // ---------------------------------------------------- max-score serving

  test("max-score: seed terms are rarest-first, minimal to promise k") {
    val dfs = Seq("the" -> 900L, "cat" -> 3L, "sat" -> 4L, "on" -> 800L)
    // k=5: cat(3) then sat(4) reaches 7 >= 5
    assert(Retrieval.seedTerms(dfs, 5) == Seq("cat", "sat"))
    // k=2: cat alone promises 3 >= 2
    assert(Retrieval.seedTerms(dfs, 2) == Seq("cat"))
    // sparse query: everything
    assert(Retrieval.seedTerms(Seq("x" -> 1L, "y" -> 1L), 9)
      == Seq("x", "y"))
    // df tie breaks on term
    assert(Retrieval.seedTerms(Seq("b" -> 2L, "a" -> 2L), 2) == Seq("a"))
  }

  test("max-score: essential partition drops only what cannot reach tau") {
    val imps = Seq("the" -> 0.1, "of" -> 0.2, "cat" -> 5.0, "sat" -> 4.0)
    // tau 1.0: the+of sum to 0.3 <= tau → non-essential; cat/sat stay
    assert(Retrieval.essentialTerms(imps, 1.0).toSet == Set("cat", "sat"))
    // tau 0.25: only 'the' (0.1) fits under; 0.1+0.2 > 0.25
    assert(Retrieval.essentialTerms(imps, 0.25).toSet
      == Set("of", "cat", "sat"))
    // tau -inf: no pruning
    assert(Retrieval.essentialTerms(imps, Double.NegativeInfinity).toSet
      == imps.map(_._1).toSet)
    // tau above everything: the guard keeps the highest-impact term
    assert(Retrieval.essentialTerms(imps, 100.0) == Seq("cat"))
  }

  test("max-score serving == naive serving, bit for bit, all k") {
    // Zipf-ish corpus: every doc carries the stop words, few carry the
    // content terms — the shape max-score prunes. Deterministic seed.
    val rnd = new scala.util.Random(42)
    val stop = Seq("the", "of", "and", "to", "in")
    val content = (0 until 40).map(i => s"w$i")
    val corpus = (0L until 300L).map { i =>
      val words = stop ++ rnd.shuffle(content).take(3) ++
        Seq.fill(rnd.nextInt(3))(content(rnd.nextInt(content.size)))
      (i, rnd.shuffle(words).mkString(" "))
    }.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bm25ms").toString
    val w = new graft.sources.TableWriter(tmp)
    Retrieval.buildBm25Index(corpus, w, "docs")
    // queries mix stop words with rare terms; some queries are all-stop
    // (the no-pruning degenerate must also match)
    val qs = Seq(
      (0L, "the"), (0L, "of"), (0L, "w1"), (0L, "w2"),
      (1L, "the"), (1L, "and"), (1L, "in"),
      (2L, "w3"), (2L, "w17"), (2L, "of"),
      (3L, "nosuchterm"), (3L, "w5"),
      (4L, "nosuchterm")).toDF("query_id", "term")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("n_hit"))).toSet
    for (k <- Seq(1, 5, 20); ex <- Seq(false, true)) {
      val naive = rows(Retrieval.queryBm25Index(
        spark, w, "docs", qs, k = k, excludeSelf = ex))
      val pruned = rows(Retrieval.queryBm25IndexMaxScore(
        spark, w, "docs", qs, k = k, excludeSelf = ex))
      assert(pruned == naive, s"max-score diverged at k=$k excludeSelf=$ex")
      assert(naive.nonEmpty)
    }
  }

  // --------------------------------------------------------------- RRF

  test("rrf: a doc ranked by both systems beats same-rank singletons") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 10L, 2), (1L, 12L, 1)).toDF("query_id", "doc_id", "rank")
    val fused = Retrieval.rrfFuse(a, b, k = 10)
      .orderBy("fused_rank")
      .collect().map(_.getAs[Long]("doc_id")).toList
    // 10: 1/61 + 1/62 ≈ .0325 beats 12: 1/61 ≈ .0164 beats 11: 1/62
    assert(fused == List(10L, 12L, 11L), s"got $fused")
  }

  test("rrf: equal scores break on id; missing side yields null rank") {
    val a = Seq((1L, 5L, 1), (1L, 3L, 1)).toDF("query_id", "doc_id", "rank")
      .filter(col("doc_id") === 5L) // single row, rank 1
    val b = Seq((1L, 3L, 1)).toDF("query_id", "doc_id", "rank")
    val rows = Retrieval.rrfFuse(a, b, k = 10).orderBy("fused_rank").collect()
    // both docs carry 1/61: tie broken by id → 3 before 5
    assert(rows.map(_.getAs[Long]("doc_id")).toList == List(3L, 5L))
    assert(rows(0).isNullAt(rows(0).fieldIndex("rank_a")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("rank_b")))
  }

  // ------------------------------------------------------------ Gopher

  test("d38 gopher rules discriminate on the real corpus") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val flagged = SparkEntry.queries("d38_gopher_rules")(
      spark, "/root/testdata/sf0.001")
    val n = real.count()
    val kept = flagged.filter(col("keep")).count()
    assert(kept > 0 && kept < n,
      s"rule set should split the corpus, kept $kept of $n")
    // every keep is the conjunction of its flags
    val bad = flagged.filter(col("keep") =!=
      (col("ok_word_count") && col("ok_mean_wlen") && col("ok_alpha")
        && col("ok_stops") && col("ok_symbols") && col("ok_top_tok"))).count()
    assert(bad == 0L)
  }

  // -------------------------------------------------- hashed TF-IDF

  test("d40 hashed tf-idf: dims match the JVM poly hash, weights exact") {
    val d = Seq(
      (1L, "aa aa bb"),
      (2L, "aa cc")).toDF("doc_id", "text")
    val out = Retrieval.hashedTfidf(d, dims = 64)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dim"))
        -> (r.getAs[Double]("weight"), r.getAs[Long]("n_terms"))).toMap
    def dim(t: String): Long = graft.functions.SimHashTokenHash.poly(t) % 64
    // N=2; idf(aa)=(2+1)/(2+1)=1, idf(bb)=idf(cc)=3/2
    assert(out((1L, dim("aa")))._1 == 2.0 * 1.0) // tf=2
    assert(out((1L, dim("bb")))._1 == 1.0 * 1.5)
    assert(out((2L, dim("cc")))._1 == 1.0 * 1.5)
    assert(out((1L, dim("aa")))._2 == 1L)
    // distinct terms land in distinct buckets here (no collision in this
    // fixture), so every (doc, dim) row carries exactly one term
    assert(out.values.forall(_._2 == 1L))
  }

  test("d40: colliding terms accumulate into one bucket row") {
    // force a collision by hashing into ONE dim
    val d = Seq((1L, "xx yy")).toDF("doc_id", "text")
    val out = Retrieval.hashedTfidf(d, dims = 1).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_terms") == 2L)
    // both terms: tf=1, df=1, N=1 → idf=(1+1)/(1+1)=1 → weight 1+1
    assert(out(0).getAs[Double]("weight") == 2.0)
  }

  // ------------------------------------------------------ phrase search

  private def phraseSetup(rows: (Long, String)*): graft.sources.TableWriter = {
    val tmp = java.nio.file.Files.createTempDirectory("posidx").toString
    val w = new graft.sources.TableWriter(tmp)
    Retrieval.buildPositionalIndex(docs(rows: _*), w, "docs")
    w
  }

  private def phrase(w: graft.sources.TableWriter, qid: Long,
      terms: String*): Set[(Long, Long)] =
    Retrieval.phraseQuery(spark, w, "docs",
        Seq((qid, terms)).toDF("query_id", "terms"), k = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_occ")))
      .toSet

  test("phrase: consecutive occurrences only, counted exactly") {
    val w = phraseSetup(
      1L -> "a b c a b c a b",     // "a b c" twice, "a b" three times
      2L -> "a c b a c b",         // has a,b,c but never "a b c"
      3L -> "x a b c y",           // once, mid-document
      4L -> "c b a")               // reversed — no match
    assert(phrase(w, 99L, "a", "b", "c") == Set((1L, 2L), (3L, 1L)))
    assert(phrase(w, 99L, "a", "b") == Set((1L, 3L), (3L, 1L)))
  }

  test("phrase: repeated terms in the phrase match only true repeats") {
    val w = phraseSetup(
      1L -> "go go go stop",  // "go go" occurs at positions 1 and 2
      2L -> "go stop go",     // never consecutively
      3L -> "go go")          // once
    assert(phrase(w, 99L, "go", "go") == Set((1L, 2L), (3L, 1L)))
  }

  test("phrase: excludeSelf drops the query document, rank orders by count") {
    val w = phraseSetup(
      0L -> "p q r",
      1L -> "p q r p q r p q r",
      2L -> "p q r z")
    val r = Retrieval.phraseQuery(spark, w, "docs",
        Seq((0L, Seq("p", "q", "r"))).toDF("query_id", "terms"),
        k = 10, excludeSelf = true)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_occ"),
        r.getAs[Int]("rank"))).toList
    assert(r == List((1L, 3L, 1), (2L, 1L, 2)))
  }

  test("phrase: postings read is pruned to the query terms' buckets") {
    val w = phraseSetup(
      1L -> ("one two three " + (1 to 60).map(i => s"filler$i").mkString(" ")))
    val plan = Retrieval.phraseQuery(spark, w, "docs",
        Seq((9L, Seq("one", "two"))).toDF("query_id", "terms"), k = 5)
      .queryExecution.executedPlan.toString
    // the scan must carry a partition filter on term_bucket (pruned read),
    // never a full-index scan
    assert(plan.contains("term_bucket"),
      s"no term_bucket pruning in plan:\n$plan")
    val scanned = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanned.nonEmpty && scanned.contains("term_bucket"),
      s"no partition filter on the positional read:\n$plan")
  }

  test("phrase: incremental append == full rebuild, existing files untouched") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val incDir = java.nio.file.Files.createTempDirectory("posinc").toString
    val allDir = java.nio.file.Files.createTempDirectory("posall").toString
    val wInc = new graft.sources.TableWriter(incDir)
    val wAll = new graft.sources.TableWriter(allDir)
    Retrieval.appendPositionalIndexBatch(
      real.filter(col("doc_id") % 10 =!= 0), wInc, "docs", 0L)
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$incDir/docs_positions"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files()
    Retrieval.appendPositionalIndexBatch(
      real.filter(col("doc_id") % 10 === 0), wInc, "docs", 1L)
    val after = files()
    before.foreach { case (p, ts) =>
      assert(after.get(p).contains(ts), s"append disturbed $p")
    }
    Retrieval.buildPositionalIndex(real, wAll, "docs")
    val phrases = real
      .filter(col("doc_id") % 11 === 0
        && size(split(col("text"), " ")) >= 3)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 3).as("terms"))
    def rows(w: graft.sources.TableWriter) =
      Retrieval.phraseQuery(spark, w, "docs", phrases, k = 7,
          excludeSelf = true)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("n_occ"),
          r.getAs[Int]("rank"))).toSet
    val inc = rows(wInc)
    assert(inc == rows(wAll) && inc.nonEmpty)
  }

  // ------------------------------------------------- vocab heavy hitters

  test("d39 top tokens: exact counts, rank by count desc then token") {
    val d = Seq(
      (1L, "a", "x x x y y z"),
      (2L, "a", "x y q"),
      (3L, "b", "only other source")).toDF("doc_id", "source", "text")
    val top = Retrieval.topTokensPerGroup(d, "source", k = 2)
      .filter(col("source") === "a")
      .orderBy("rank")
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt")))
    assert(top.toList == List(("x", 4L), ("y", 3L)))
  }
}

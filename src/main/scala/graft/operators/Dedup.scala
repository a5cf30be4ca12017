package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document deduplication family for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash. All variants follow the same scale
  * shape: per-row feature extraction (no shuffle) → one shuffle keyed by a
  * blocking value (hash / shingle / band / chunk) → pair generation only
  * within blocks. Nothing is ever O(N²) across the whole corpus.
  */
object Dedup {

  /** Exact dedup: group identical texts, keep the minimum id as canonical.
    * One hash-aggregate shuffle on the text (at very large scale, group on
    * xxhash64(text) instead to shrink shuffle payload — same result up to
    * hash collision).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Derives a corpus-adaptive `maxDocFreq` cap for [[ngramJaccardPairs]]
    * as a document-frequency quantile (one extra aggregate pass): a FIXED
    * cap goes degenerate when the corpus grows — the 10× replication
    * probe (SCALE.md round 4) pushed every shingle's df past the constant
    * and the pair stage emitted nothing — while the q-th df quantile
    * tracks the distribution and keeps dropping only the true
    * non-discriminative head. Floor of 2 (a cap below 2 would drop every
    * pairable shingle).
    */
  def adaptiveMaxDocFreq(df: DataFrame, idCol: String, textCol: String,
      n: Int, quantile: Double = 0.995): Long = {
    require(quantile > 0 && quantile < 1, "quantile in (0,1)")
    val dfq = df.select(col(idCol).as("id"),
        explode(TextFns.shingleSet(col(textCol), n)).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .select(percentile_approx(col("df").cast("double"), lit(quantile),
        lit(10000)))
      .head().getDouble(0)
    math.max(2L, dfq.toLong)
  }

  /** N-gram Jaccard near-dup pairs. Exact set-Jaccard over word n-gram
    * shingles, computed distributively: explode distinct shingles, self-join
    * on shingle (the blocking key), count intersections per pair, then
    * |A∪B| = |A|+|B|−|A∩B|. `maxDocFreq` drops shingles occurring in more
    * than that many docs — non-discriminative high-frequency shingles that
    * would otherwise create quadratic blocks (standard blocking hygiene; the
    * LSH variant below is the true 100 TB path). At unknown corpus scale
    * derive the cap with [[adaptiveMaxDocFreq]] instead of hard-coding it.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Long = 100L): DataFrame = {
    val docs = df.select(
      col(idCol).as("id"),
      TextFns.shingleSet(col(textCol), n).as("shingles"))
      .withColumn("set_size", size(col("shingles")))
      .filter(col("set_size") > 0)

    val exploded = docs
      .select(col("id"), col("set_size"), explode(col("shingles")).as("sh"))

    // One shuffle keyed by shingle: collect the (bounded) posting list per
    // shingle, drop non-discriminative shingles whose document frequency
    // exceeds maxDocFreq, and generate the id<id pairs *inside the row* with
    // higher-order functions — no self-join, no second pass over the corpus.
    val postings = exploded
      .groupBy(col("sh"))
      .agg(collect_list(struct(col("id"), col("set_size"))).as("lst"))
      .filter(size(col("lst")).between(2, maxDocFreq))
      .withColumn("lst", array_sort(col("lst")))

    val pairs = postings.select(explode(expr(
      """flatten(transform(sequence(0, size(lst) - 2),
        |  i -> transform(slice(lst, i + 2, size(lst) - i - 1),
        |    w -> struct(lst[i].id AS id_a, w.id AS id_b,
        |                lst[i].set_size AS size_a, w.set_size AS size_b))))
        |""".stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.size_a"), col("p.size_b"))

    pairs
      .groupBy(col("id_a"), col("id_b"), col("size_a"), col("size_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** Line-level boilerplate removal (the CCNet/RefinedWeb trick): a line
    * appearing in more than `maxLineDocFreq` distinct documents is
    * boilerplate (headers, footers, cookie banners, promo blocks) and is
    * struck from every document; remaining lines reassemble in their
    * original order. One shuffle keyed by line for the document-frequency
    * count, one keyed by doc for reassembly — the text crosses the wire
    * as lines, never as whole documents squared.
    */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      maxLineDocFreq: Long): DataFrame = {
    val lines = df.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val freq = lines.select(col("__id"), col("__line")).distinct()
      .groupBy(col("__line")).agg(count(lit(1)).as("__df"))
    // collect_list order is nondeterministic — sort by the carried
    // position before joining the lines back
    val rebuilt = lines.join(freq, Seq("__line"))
      .filter(col("__df") <= maxLineDocFreq)
      .groupBy(col("__id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s("__line")),
        "\n").as("__clean"))
    // a doc whose EVERY line was boilerplate must survive with empty
    // text (strike lines, don't drop documents — a later length filter
    // decides explicitly), so rebuild joins back onto the full doc list
    df.join(rebuilt.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .drop("__clean")
      .select(df.columns.map(col): _*)
  }

  /** Cross-document duplicate-SPAN removal — the exact-substring dedup of
    * Lee et al. (2022, "Deduplicating Training Data Makes Language Models
    * Better"), re-expressed for Spark instead of a suffix array: a token
    * k-gram occurring in ≥ 2 distinct documents marks every token position
    * it covers as duplicated, and covered positions are struck from the
    * text (boilerplate paragraphs, licence blocks, templated intros die
    * in-place; the document survives). Scale shape: gram construction is
    * per-row (transform over sequence — no explode before the shuffle);
    * ONE shuffle keyed by gram finds cross-doc grams (volume ≈ k× the
    * token stream, the known cost of exact span dedup — MinHash d3 is the
    * probabilistic cheap path); coverage and reassembly shuffle by doc.
    * Nothing is pairwise across the corpus: a gram shared by m documents
    * costs m rows, not m².
    *
    * Returns (id, n_tokens, n_dup_pos, cleaned) — one row per input doc,
    * zero-token docs included.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    val toks = df.select(col(idCol).as("__id"),
      TextFns.tokens(lower(col(textCol))).as("__toks"))
      .withColumn("__n", size(col("__toks")))
    // all k-gram (start, text) pairs, built inside the row
    val grams = toks
      .filter(col("__n") >= k)
      .select(col("__id"), explode(transform(
        sequence(lit(0), col("__n") - k),
        i => struct(i.as("start"),
          array_join(slice(col("__toks"), i + 1, lit(k)), " ").as("gram"))))
        .as("__g"))
      .select(col("__id"), col("__g.start").as("__start"),
        col("__g.gram").as("__gram"))
    // the one gram-keyed shuffle: grams seen in >= 2 distinct docs
    val dup = grams.groupBy(col("__gram"))
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("__gram"))
    // every position covered by a duplicated gram occurrence
    val covered = grams.join(dup, Seq("__gram"))
      .select(col("__id"),
        explode(sequence(col("__start"), col("__start") + (k - 1))).as("__pos"))
      .distinct()
    val covCounts = covered.groupBy(col("__id"))
      .agg(count(lit(1)).as("__ndup"))
    // reassemble surviving tokens in order
    val kept = toks
      .select(col("__id"), posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      .join(covered, Seq("__id", "__pos"), "left_anti")
    val rebuilt = kept.groupBy(col("__id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__tok")))),
        s => s("__tok")), " ").as("__clean"))
    toks.select(col("__id"), col("__n"))
      .join(covCounts, Seq("__id"), "left")
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        col("__n").cast("long").as("n_tokens"),
        coalesce(col("__ndup"), lit(0L)).as("n_dup_pos"),
        coalesce(col("__clean"), lit("")).as("cleaned"))
  }

  /** Benchmark decontamination — the test-set overlap scrub every
    * training corpus needs (the GPT-3/Pile method: a document sharing at
    * least `minOverlap` distinct token `n`-grams with ANY benchmark
    * document is contaminated). The benchmark side is small by nature
    * (eval sets), so its distinct shingles broadcast; the corpus streams
    * through one scan + one aggregation keyed by doc — no corpus-side
    * self-join, no shuffle of the text.
    *
    * Returns (doc_id, n_overlap) for contaminated docs; pair with
    * [[applyDedup]]-style anti-join (see [[decontaminate]]) to drop them.
    */
  def contaminatedDocs(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int,
      minOverlap: Long): DataFrame = {
    val benchShingles = benchmark
      .select(explode(TextFns.shingleSet(col(textCol), n)).as("sh"))
      .distinct()
    corpus
      .select(col(idCol).as("doc_id"),
        explode(TextFns.shingleSet(col(textCol), n)).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap")) // shingles are distinct per doc
      .filter(col("n_overlap") >= minOverlap)
  }

  /** The clean corpus: drop every contaminated document. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int,
      minOverlap: Long): DataFrame =
    corpus.join(
      contaminatedDocs(corpus, benchmark, idCol, textCol, n, minOverlap)
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** EXACT Jaccard pairs via symmetric prefix filtering — the AllPairs
    * family (Bayardo et al., WWW'07) in its parallel set-similarity-join
    * form (Vernica et al., SIGMOD'10). Guarantee: order every doc's
    * shingle set by one global total order (document frequency asc,
    * shingle asc — rarest first) and emit only each doc's first
    * `|s| - ceil(t*|s|) + 1` shingles; any pair with J >= t shares at
    * least one EMITTED shingle (the globally-smallest common shingle
    * must sit inside both prefixes — if it sat in x's suffix, all
    * >= ceil(t*|x|) common shingles would fit in the suffix's
    * ceil(t*|x|)-1 slots). Candidates from the prefix postings then
    * verify exactly, so the output is IDENTICAL to the uncapped direct
    * computation — unlike [[ngramJaccardPairs]], whose `maxDocFreq` cap
    * drops pairs held together only by hyper-common shingles.
    *
    * Scale shape: 3 keyed shuffles (freq, per-doc rank, candidate join)
    * + the verify joins, but the candidate volume — THE cost driver at
    * corpus scale — shrinks by the prefix ratio on rare-first ordering;
    * common shingles land in suffixes and never generate candidates.
    * Same-output twin of the d3 LSH path with a deterministic (not
    * probabilistic) completeness guarantee.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val (out, _) = prefixJoinInternal(df, idCol, textCol, n, threshold,
      positionalFilter = true, countCandidates = false)
    out
  }

  /** Candidate count of the prefix join with/without the positional
    * filter — measurement hook for specs/benchmarks (the filter cannot
    * change the verified OUTPUT, only the candidate volume).
    */
  private[graft] def prefixJoinCandidateCount(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      positionalFilter: Boolean): Long =
    prefixJoinInternal(df, idCol, textCol, n, threshold,
      positionalFilter, countCandidates = true)._2

  private def prefixJoinInternal(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, positionalFilter: Boolean,
      countCandidates: Boolean): (DataFrame, Long) = {
    require(threshold > 0 && threshold <= 1, "threshold in (0,1]")
    val docs = df.select(col(idCol).as("id"),
      TextFns.shingleSet(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    // exploded feeds the freq agg AND the rank join; ranked feeds both
    // sides of the candidate self-join — persist each so the corpus is
    // shingled once, not five times (minhashLshPairs' signature pattern)
    val exploded = docs.select(col("id"), size(col("sh")).as("set_size"),
      explode(col("sh")).as("s")).persist()
    val freq = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // prefix length |s| - ceil(t*|s|) + 1; the epsilon guards float ceil
    // upward on exact integers (a LONGER prefix is always safe)
    val ranked = exploded.join(freq, Seq("s"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("df"), col("s"))))
      .filter(col("rn") <= col("set_size") -
        ceil(col("set_size") * lit(threshold) - lit(1e-9)).cast("int") + 1)
      .select(col("s"), col("id"), col("rn"), col("set_size"))
      .persist()
    val joined = ranked.select(col("s"), col("id").as("id_a"),
        col("rn").as("rn_a"), col("set_size").as("sz_a"))
      .join(ranked.select(col("s"), col("id").as("id_b"),
        col("rn").as("rn_b"), col("set_size").as("sz_b")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      // length filter: J >= t forces min(|a|,|b|) >= t·max(|a|,|b|)
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        greatest(col("sz_a"), col("sz_b")).cast("double") * lit(threshold)
          - lit(1e-9))
    val candidates =
      if (!positionalFilter)
        joined.select("id_a", "id_b").distinct()
      else {
        // PPJoin positional filter (Xiao et al., WWW'08): evaluate the
        // overlap upper bound at the pair's FIRST common token in the
        // global (df asc, shingle asc) order — both docs rank shingles by
        // the same total order, so that token minimizes rn_a AND rn_b.
        // overlap(a,b) <= 1 + min(|a| - rn_a, |b| - rn_b) there, while
        // J >= t needs overlap >= ceil(t/(1+t)·(|a|+|b|)). Candidates
        // failing the bound cannot verify — dropping them can't change
        // the output, only the (cost-driving) candidate volume, which is
        // what it cuts on Zipfian corpora where prefixes stay long.
        joined
          .groupBy(col("id_a"), col("id_b"))
          .agg(min_by(
            struct(col("rn_a"), col("rn_b"), col("sz_a"), col("sz_b")),
            col("rn_a")).as("f"))
          .filter(
            (lit(1) + least(col("f.sz_a") - col("f.rn_a"),
              col("f.sz_b") - col("f.rn_b"))).cast("double") >=
            ceil((col("f.sz_a") + col("f.sz_b")).cast("double") *
              lit(threshold / (1.0 + threshold)) - lit(1e-9)))
          .select("id_a", "id_b")
      }
    if (countCandidates) {
      val cnt = candidates.count()
      ranked.unpersist(blocking = false)
      exploded.unpersist(blocking = false)
      (candidates.sparkSession.emptyDataFrame, cnt)
    } else {
      val out = verifyPairsExact(df, candidates, idCol, textCol, n, threshold)
        .transform(graft.core.Checkpoints.stable)
      ranked.unpersist(blocking = false)
      exploded.unpersist(blocking = false)
      (out, -1L)
    }
  }

  /** MinHash + LSH candidate pairs. Signature of `numHashes` min-hashes per
    * doc (computed per-row), banded into `bands` groups; docs sharing any
    * band hash become candidates (one shuffle on the band key). Estimated
    * Jaccard = fraction of agreeing signature slots.
    */
  /** MinHash signatures: one row per doc, `(id, sig)` with `numHashes`
    * min-hash slots. Shared by the one-shot pair scan and the persisted
    * incremental index.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64): DataFrame =
    // fan out before the shingle+hash pass: it is pure per-row CPU whose
    // parallelism is inherited from the scan, and a small corpus is one
    // input split — one core signs everything while the rest idle
    // (Parallelism.fanOutScan is a no-op once the scan has real splits)
    Parallelism.fanOutScan(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"), TextFns.shingleSet(col("__t"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", TextFns.minhashSignature(col("sh"), numHashes))
      .select("id", "sig")

  /** LSH band rows `(id, band, band_hash)` from a signature frame — the
    * row shape a persisted band index stores (docs sharing any
    * (band, band_hash) are candidates).
    */
  def minhashBandRows(signed: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    signed.select(
      col("id"),
      posexplode(array((0 until bands).map { bIdx =>
        xxhash64(lit(bIdx), slice(col("sig"), bIdx * rows + 1, rows))
      }: _*)).as(Seq("band", "band_hash")))
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minEstJaccard: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")

    // Signatures are reused three times (band hashing + both sides of the
    // est-Jaccard lookup); persist so the shingle+hash work runs once.
    val signed = minhashSignatures(df, idCol, textCol, n, numHashes).persist()

    // Band join carries only (band, band_hash, id) — signatures stay out of
    // the shuffle; candidate ids are deduped before signatures re-attach.
    val banded = minhashBandRows(signed, numHashes, bands)

    val l = banded.select(col("id").as("id_a"), col("band"), col("band_hash"))
    val r = banded.select(col("id").as("id_b"), col("band"), col("band_hash"))

    val candidates = l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // The pair output is tiny relative to the corpus: materialize it
    // (localCheckpoint truncates lineage) so the signature cache can be
    // released here instead of leaking into the caller's session.
    val out = candidates
      .join(signed.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(signed.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
      .transform(graft.core.Checkpoints.stable)
    signed.unpersist(blocking = false)
    out
  }

  /** Incremental dedup of a NEW batch against a PERSISTED band index: the
    * 100 TB crawl pattern — the corpus's (id, band, band_hash) rows live in
    * a table built once and appended per batch, so deduplicating today's
    * crawl never re-signatures yesterday's corpus. The new batch (small by
    * contract — one crawl increment vs the whole corpus) is signatured,
    * banded, and BROADCAST against the index: the join is one linear scan
    * of the index with zero shuffle of it, and no signature recompute for
    * indexed docs. Returns candidate `(id_old, id_new)` pairs; callers
    * verify exactly (same recall discipline as the one-shot LSH path) and
    * then append the new batch's band rows to the index.
    */
  def incrementalLshCandidates(index: DataFrame, newBands: DataFrame): DataFrame =
    index.select(col("id").as("id_old"), col("band"), col("band_hash"))
      .join(org.apache.spark.sql.functions.broadcast(
        newBands.select(col("id").as("id_new"), col("band"), col("band_hash"))),
        Seq("band", "band_hash"))
      .select("id_old", "id_new").distinct()

  /** Persist the MinHash band index PARTITIONED by `bh_bucket =
    * pmod(band_hash, buckets)` — the serving layout that keeps a batch
    * lookup from scanning the whole index (the r8 d37 probe's named
    * gap: batch cost was linear in INDEX size because the broadcast
    * probe read every band row). A batch's candidate matches can only
    * live in the buckets its own band hashes map to, so the probe
    * partition-prunes to those; with `buckets` sized to the index (the
    * mergeByKey/vocab sizing rule — bucket volume constant as the index
    * grows), batch cost tracks the BATCH's bands. Appends are the d37
    * crawl pattern: new bands land in their own buckets, nothing
    * indexed is re-read or re-written.
    */
  def buildLshBandIndex(bands: DataFrame, writer: graft.sources.TableWriter,
      name: String, buckets: Int = 64): Unit =
    writer.materialize(name,
      bands.withColumn("bh_bucket",
        pmod(col("band_hash"), lit(buckets.toLong)).cast("int"))
        .repartition(col("bh_bucket")), // one file per bucket dir
      partitionBy = Seq("bh_bucket"))

  def appendLshBandIndex(newBands: DataFrame,
      writer: graft.sources.TableWriter, name: String,
      buckets: Int = 64): Unit =
    writer.materialize(name,
      newBands.withColumn("bh_bucket",
        pmod(col("band_hash"), lit(buckets.toLong)).cast("int"))
        .repartition(col("bh_bucket")),
      partitionBy = Seq("bh_bucket"),
      mode = org.apache.spark.sql.SaveMode.Append)

  /** [[incrementalLshCandidates]] against a [[buildLshBandIndex]]
    * layout: the batch's distinct bucket ids (bounded collect ≤
    * `buckets`) prune the index read before the broadcast band join —
    * same candidate set, index-size-independent scan when buckets are
    * sized to the index (SCALE.md, "d37 bucketed band index", has the
    * measured read fraction; `d37_incremental_minhash` runs this path).
    */
  def incrementalLshCandidatesIndexed(
      spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, name: String,
      newBands: DataFrame, buckets: Int = 64): DataFrame = {
    val hit = newBands
      .select(pmod(col("band_hash"), lit(buckets.toLong)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
    val pruned = writer.read(spark, name)
      .withColumn("bh_bucket", col("bh_bucket").cast("int"))
      .filter(col("bh_bucket").isin(hit.toIndexedSeq: _*))
    incrementalLshCandidates(pruned, newBands)
  }

  /** Connected components over a near-dup pair list → dedup clusters: every
    * member maps to the minimum id reachable through any chain of pairs (the
    * canonical representative). Iterative min-label propagation — each round
    * is one aggregation + one join, labels only ever decrease, and the round
    * count is bounded by the component diameter (near-dup clusters are
    * shallow; switch to pointer-doubling if deep chains ever appear). The
    * standard large-graph CC shape: hash-partitioned by id, no driver-side
    * graph.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIterations: Int = 20, smallGraphThreshold: Int = 100000): DataFrame = {
    // Hybrid strategy (the broadcast-join pattern applied to graphs): when
    // the pair list fits comfortably on the driver, a local union-find is
    // exact and skips 3+ distributed rounds; past the threshold the
    // iterative min-label propagation below takes over.
    val persistedPairs = pairs.select(col(idA).cast("long").as("a"),
      col(idB).cast("long").as("b")).persist()
    val probe = persistedPairs.limit(smallGraphThreshold + 1).collect()
    if (probe.length <= smallGraphThreshold) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      probe.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
          parent(hi) = lo; parent.getOrElseUpdate(lo, lo) }
      }
      val members = probe.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      val out = members.map(m => (m, find(m)))
      val spark = pairs.sparkSession
      persistedPairs.unpersist(blocking = false)
      import spark.implicits._
      return out.toSeq.toDF("member_id", "cluster_id")
    }

    val edges = persistedPairs.select(col("a").as("src"), col("b").as("dst"))
      .union(persistedPairs.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .persist()

    // labels: node -> current cluster label (start: own id and min neighbor)
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("label"))
    // labels only ever decrease → the label sum strictly decreases until the
    // fixpoint; comparing sums is a cheap aggregation instead of a join.
    var prevSum = Long.MaxValue
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // propagate: my new label = min(my label, min over neighbors' labels)
      val nbr = edges
        .join(labels.withColumnRenamed("id", "dst_id"),
          col("dst") === col("dst_id"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      val propagated = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer-jump (label <- label's label): compresses chains so rounds
      // needed drop from O(diameter) to O(log diameter). localCheckpoint
      // truncates the logical plan each round — the self-referential loop
      // would otherwise double the lineage every iteration.
      val next = propagated.alias("p")
        .join(propagated.select(col("id").as("l_id"), col("label").as("l_label")).alias("l"),
          col("p.label") === col("l_id"), "left")
        .select(col("p.id").as("id"),
          least(col("p.label"), coalesce(col("l_label"), col("p.label"))).as("label"))
        .transform(graft.core.Checkpoints.stable)
      val sumNow = next.agg(sum(col("label"))).head().getLong(0)
      labels = next
      converged = sumNow == prevSum
      prevSum = sumNow
      i += 1
    }
    // `labels` is localCheckpoint-ed every round, so it no longer depends on
    // the cached edges/pairs — release both before returning.
    edges.unpersist(blocking = false)
    persistedPairs.unpersist(blocking = false)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIterations rounds " +
          "(component diameter too large) — raise maxIterations or switch " +
          "to pointer-doubling")
    labels.select(col("id").as("member_id"), col("label").as("cluster_id"))
  }

  /** End-to-end dedup application: given the corpus and a near-dup pair
    * list, keep exactly one document per connected near-dup cluster (the
    * minimum id) plus every unpaired document — the "give me the cleaned
    * corpus" API the pair/cluster primitives exist for.
    */
  def applyDedup(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val drop = clusters(pairs)
      .filter(col("member_id") =!= col("cluster_id"))
      .select(col("member_id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Exact-Jaccard verification of a candidate pair list — the second half
    * of the production near-dup shape (LSH/simhash proposes, exact verifies;
    * the composed operator's OUTPUT is hash-independent, which is what makes
    * the d3/d4 driver entries oracle-checkable in DuckDB). Candidates join
    * the shingle sets twice (hash joins on id), intersection computed
    * in-row; cost is O(candidates), never O(N²).
    */
  def verifyPairsExact(df: DataFrame, candidates: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): DataFrame = {
    // fan out before re-shingling (same rationale as minhashSignatures:
    // per-row CPU on a possibly-single-split doc frame)
    val docs = Parallelism.fanOutScan(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"), TextFns.shingleSet(col("__t"), n).as("sh"))
      .filter(size(col("sh")) > 0)
    candidates.select("id_a", "id_b")
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** SimHash near-dup pairs: 64-bit signature per doc (per-row), blocked by
    * (maxHamming+1) bit-chunks — any pair within Hamming distance
    * ≤ maxHamming must agree on at least one chunk (pigeonhole), so the
    * chunk join finds ALL such pairs with one shuffle; exact Hamming filter
    * afterwards. maxHamming ∈ {1, 3, 7, 15, 31} (chunk count must divide
    * 64); higher values trade chunk selectivity for radius.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val numChunks = maxHamming + 1
    require(numChunks >= 2 && 64 % numChunks == 0,
      "maxHamming+1 must divide 64 (1, 3, 7, 15, or 31)")
    val bits = 64 / numChunks
    val mask = (1L << bits) - 1
    // fanned out for the same single-split-scan reason as minhashSignatures
    val sigs = Parallelism.fanOutScan(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"), TextFns.simhash64(col("__t")).as("sig"))
      .persist()

    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until numChunks).map { i =>
        shiftrightunsigned(col("sig"), i * bits).bitwiseAND(lit(mask))
      }: _*)).as(Seq("chunk_idx", "chunk")))

    val l = chunked.select(col("id").as("id_a"), col("sig").as("sig_a"),
      col("chunk_idx"), col("chunk"))
    val r = chunked.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("chunk_idx"), col("chunk"))

    val out = l.join(r, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .transform(graft.core.Checkpoints.stable) // small pair output; lets the sig cache go now
    sigs.unpersist(blocking = false)
    out
  }

  /** PageRank over the (symmetric) near-dup pair graph — the
    * centrality-based canonical-document policy: where d13 keeps the
    * min-id member of a cluster and d34 the best-scored, this ranks
    * members by how CENTRAL they are in the duplication structure (the
    * most-linked variant is the best canonical form of a template
    * family). Standard damped PageRank, `iters` fixed iterations from a
    * uniform start; nodes are the pair-graph endpoints (singletons have
    * no centrality to rank).
    *
    * Determinism: each iteration's per-edge contribution r/deg is one
    * IEEE double divide; the in-edge sum goes through DECIMAL(38,18)
    * casts (order-independent); the combine back to a double is one
    * multiply-add. The only cross-engine slack is the double→decimal
    * cast rounding (~1e-15 relative, the d40 measurement), so the
    * contract output is the RANK (plus the exact integer degree) —
    * structurally tied nodes get bit-identical sums in each engine and
    * break on id, and genuinely distinct nodes differ by far more than
    * the cast slack.
    *
    * Scale shape: the edge list is shuffled ONCE onto src (the
    * join-with-ranks key) and each iteration is one broadcast-or-shuffle
    * join plus one dst-keyed combine-agg — iters × 2 shuffles of
    * edge-bounded data, no corpus-sized window, the node count arrives
    * as one driver long. Selection is TakeOrdered.
    */
  def pageRank(pairs: DataFrame, iters: Int = 5, damping: Double = 0.85,
      k: Int = 100, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesD = edges.join(deg, Seq("src")).persist()
    val n = deg.count() // one driver long: the node count
    val base = (1.0 - damping) / n
    var ranks = edgesD.select(col("src").as("id")).distinct()
      .withColumn("r", lit(1.0 / n))
    for (_ <- 1 to iters) {
      ranks = edgesD.join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"),
          (col("r") / col("deg").cast("double")).cast("decimal(38,18)")
            .as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"))
        .select(col("dst").as("id"),
          (lit(base) + lit(damping) * col("sc").cast("double")).as("r"))
    }
    val out = ranks.join(deg.withColumnRenamed("src", "id"), Seq("id"))
      .orderBy(col("r").desc, col("id")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("r").desc, col("id"))))
      .select(col("id").as("doc_id"), col("rank").cast("long").as("rank"),
        col("deg").cast("long").as("degree"))
      // k-row output materialized so the edge cache can be released now
      .transform(graft.core.Checkpoints.stable)
    edgesD.unpersist(blocking = false)
    out
  }

  /** Exact triangle counting + local clustering coefficient over the
    * near-dup pair graph — the third graph statistic next to connected
    * components (d11) and PageRank (d42); triangles measure how CLIQUEY
    * a duplicate neighborhood is (transitive near-dup families vs
    * hub-and-spoke template matches). Algorithm: degree-ordered edge
    * orientation (Suri & Vassilvitskii 2011 / Cohen 2009 — each edge
    * points from its (degree, id)-smaller endpoint), wedges built only
    * at each triangle's minimal vertex, closed against the canonical
    * undirected edge set. Orientation is the scale lever: wedge count is
    * Σ_v outdeg(v)², and out-degrees are bounded by ~√|E| under this
    * orientation regardless of hub sizes — the naive per-node wedge join
    * is Σ deg² and explodes on hubs. Two shuffles (wedge self-join,
    * closure join); per-node counts are one explode + hash-agg.
    * All arithmetic is integer except the final coefficient,
    * 2T / (deg·(deg−1)) — one double division, bit-exact cross-engine.
    */
  def triangleCounts(pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    // canonicalize FIRST: reversed pairs ((3,2) for 2-3) must land on the
    // same edge before distinct, or wedges probe a half-oriented edge set
    // (dropped triangles) and mixed-orientation duplicates double degrees
    val canon = pairs.select(
      least(col(aCol), col(bCol)).as("a"),
      greatest(col(aCol), col(bCol)).as("b")).distinct()
    val edges = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(canon.select(col("b").as("src"), col("a").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    // orient: src -> dst iff (deg, id) of src < (deg, id) of dst
    val withDegs = canon
      .join(deg.select(col("id").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("deg_b")), Seq("b"))
    val oriented = withDegs.select(
      when(col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("src"),
      when(col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("a") < col("b")),
        col("b")).otherwise(col("a")).as("dst"))
    // wedges at the minimal vertex, unordered pair canonicalized BY ID so
    // the closure probes the id-canonical edge set (the v-w edge's own
    // orientation is by degree and may point either way)
    val e1 = oriented.select(col("src").as("u"), col("dst").as("x"))
    val e2 = oriented.select(col("src").as("u"), col("dst").as("y"))
    val wedges = e1.join(e2, Seq("u")).filter(col("x") < col("y"))
    val triangles = wedges.join(canon,
      wedges("x") === canon("a") && wedges("y") === canon("b"))
      .select(col("u"), col("x"), col("y"))
    val perNode = triangles
      .select(explode(array(col("u"), col("x"), col("y"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        col("deg").cast("long").as("degree"),
        coalesce(col("n_tri"), lit(0L)).cast("long").as("n_tri"),
        when(col("deg") >= 2,
          (lit(2L) * coalesce(col("n_tri"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - lit(1L))).cast("double"))
          .as("clustering"))
  }
}

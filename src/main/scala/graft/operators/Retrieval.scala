package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lexical retrieval and rank fusion over the documents corpus — the
  * text half of a retrieval stack next to [[Similarity]]'s vector half.
  *
  * Scale shape (the part that matters at 100 TB):
  *   - [[bm25TopK]] is the classic inverted-index serving plan expressed
  *     relationally: ONE shuffle builds the (doc, term) postings with
  *     map-side combine, the (tiny) query term set is broadcast against
  *     it, and from that point every frame in the plan is
  *     candidate-bounded — docs sharing at least one query term. The
  *     corpus-wide frames (postings, document-length stats) never join
  *     each other; document frequencies are computed on the
  *     query-term-restricted postings only. No corpus-sized window, no
  *     driver collect.
  *   - [[rrfFuse]] joins two rank frames that are both top-k-bounded
  *     (|queries| × k rows), so fusion cost is independent of corpus
  *     size by construction.
  *
  * Determinism discipline (what makes these hash-matchable in DuckDB):
  * per-term BM25 partials are cast to DECIMAL(38,18) and summed exactly
  * — order-independent by construction, never a float SUM whose
  * addition order the engine chooses. The one non-portable operation is
  * ln() — Java's Math.log and DuckDB's libm disagree by 1 ulp on ~0.1%
  * of idf arguments (measured) — so the contract output is the RANKING,
  * not the score: rank flips would need two distinct docs within ~1e-13
  * relative score, and genuinely distinct docs differ by whole terms
  * while identical docs tie exactly in both engines and break on doc_id.
  */
object Retrieval {

  /** The schemas of the BM25 and positional index tables, declared next
    * to their writers. Every read of an index table passes one, so
    * building the read frame lists files and launches no footer-
    * inference Spark job. Partition columns (`term_bucket`,
    * `vocab_bucket`) come last, where Spark places them. `idType` is the
    * document-id type: the write legs pass their input's, so a rewritten
    * bucket keeps the type it was written with; serving passes bigint,
    * the type [[rankTopK]] ranks ids in (the parquet reader widens
    * narrower integer ids). The struck set of a delete leg has the
    * postings' columns, unpartitioned. IndexLayoutSpec checks each
    * against Spark's inference over a freshly written table.
    */
  private[graft] object Layout {
    def postings(idType: DataType): StructType = StructType(Seq(
      StructField("doc_id", idType), StructField("dl", IntegerType),
      StructField("term", StringType), StructField("tf", LongType),
      StructField("term_bucket", IntegerType)))
    val vocab: StructType = StructType(Seq(StructField("term", StringType),
      StructField("df", LongType), StructField("vocab_bucket", IntegerType)))
    val stats: StructType = StructType(Seq(StructField("n_docs", LongType),
      StructField("sum_dl", LongType)))
    def positions(idType: DataType): StructType = StructType(Seq(
      StructField("term", StringType), StructField("doc_id", idType),
      StructField("positions", ArrayType(IntegerType)),
      StructField("term_bucket", IntegerType)))
    /** The stats row as parquet-hadoop writes it ([[writeStatsDirect]]). */
    val statsFile: org.apache.parquet.schema.MessageType =
      org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message spark_schema { required int64 n_docs; required int64 sum_dl; }")
  }

  /** The document-id type of a postings-shaped frame. */
  private def idTypeOf(postings: DataFrame): DataType =
    postings.schema("doc_id").dataType

  /** Read the one-row `{name}_stats` table's two longs with a direct
    * driver-side parquet read — a protocol batch pays one file open for
    * them, not a full Spark job submission (plan + schedule + collect),
    * which was a fixed ~50-100 ms driver round trip per batch on every
    * append/delete leg. The table is always a one-row (n_docs, sum_dl)
    * materialization; anything else fails loudly.
    */
  private def readStatsDirect(writer: graft.sources.TableWriter,
      name: String): (Long, Long) = {
    val dir = new org.apache.hadoop.fs.Path(writer.path(s"${name}_stats"))
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = dir.getFileSystem(conf)
    val parts = fs.listStatus(dir).filter(st => st.isFile &&
      st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
    var out: Option[(Long, Long)] = None
    parts.foreach { st =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          st.getPath)
        .withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          require(out.isEmpty, s"stats table at $dir has more than one row")
          out = Some((g.getLong("n_docs", 0), g.getLong("sum_dl", 0)))
          g = reader.read()
        }
      } finally reader.close()
    }
    out.getOrElse(
      throw new IllegalStateException(s"stats table at $dir is empty"))
  }

  /** Write the one-row `{name}_stats` table from the driver — the twin
    * of [[readStatsDirect]], and every stats write's one path: no Spark
    * job. parquet-hadoop writes the `(n_docs, sum_dl)` row to a hidden
    * stage file, which one atomic OVERWRITE rename publishes as
    * `stats.parquet` (the way TableWriter publishes a clone manifest),
    * so a reader sees the old row or the new one, never neither. Data
    * files another writer left in the dir (an index whose stats Spark
    * wrote) are deleted after the rename; a crash between the two
    * leaves two rows, which [[readStatsDirect]] refuses and the leg's
    * replay rewrites, like a crash in a Spark overwrite of the dir.
    */
  private def writeStatsDirect(fs: org.apache.hadoop.fs.FileSystem,
      writer: graft.sources.TableWriter, name: String, nDocs: Long,
      sumDl: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(writer.path(s"${name}_stats"))
    val tmp = new Path(dir, ".stats.parquet.tmp")
    val dst = new Path(dir, "stats.parquet")
    val out = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(tmp, fs.getConf))
      .withType(Layout.statsFile).withConf(fs.getConf)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try out.write(new org.apache.parquet.example.data.simple.SimpleGroup(
        Layout.statsFile).append("n_docs", nDocs).append("sum_dl", sumDl))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(fs.makeQualified(tmp), fs.makeQualified(dst),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    fs.listStatus(dir).map(_.getPath)
      .filter(f => f.getName != dst.getName && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .foreach(fs.delete(_, false))
  }

  /** Document frequencies of a postings frame, with their vocab bucket:
    * the content of the vocab buckets the postings' terms hash into.
    */
  private def vocabOf(postings: DataFrame, vocabBuckets: Int): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("vocab_bucket",
        pmod(xxhash64(col("term")), lit(vocabBuckets.toLong)).cast("int"))

  /** The one publish path of the vocab: `dfs` (`vocabOf`-shaped, built
    * only after a crashed swap on the vocab root is recovered) is the
    * complete new content of the `touched` buckets. It is written once,
    * partitioned, into a stage dir and reaches the live bucket dirs only
    * as renames (TableWriter.swapStagedDirs); a touched bucket with no
    * terms left has no staged dir and is deleted. The merge, the delete
    * leg's recompute and the append leg's crash repair all publish here.
    */
  private def publishVocab(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, name: String,
      touched: Set[Int])(dfs: => DataFrame): Unit = {
    val root = new org.apache.hadoop.fs.Path(writer.path(s"${name}_vocab"))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.TableWriter.recoverSwap(fs, root, "vocab_bucket=")
    val stageP = new org.apache.hadoop.fs.Path(writer.path(s"__stage_vocab_$name"))
    try {
      dfs.repartition(col("vocab_bucket")) // one file per bucket dir
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("vocab_bucket")
        .parquet(stageP.toString)
      val swapped = graft.sources.TableWriter
        .swapStagedDirs(fs, stageP, root, "vocab_bucket=").toSet
      touched.filterNot(swapped).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"vocab_bucket=$b"), true)
      }
    } finally fs.delete(stageP, true)
  }

  /** Distinct (query_id, term) rows from the first `nTerms` tokens of
    * each predicate-selected document — the deterministic query workload
    * used by the v10/v11 entries. Query sets are assumed (and asserted
    * nowhere else) to be broadcast-sized: queries are a serving-side
    * input, not a corpus.
    */
  def queryTerms(docs: DataFrame, pred: Column, nTerms: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.filter(pred)
      .select(col(idCol).as("query_id"),
        explode(slice(split(col(textCol), " "), 1, nTerms)).as("term"))
      .distinct()

  /** Tokenized postings: one shuffle, map-side combined; dl rides the
    * key (it is functionally dependent on doc_id, so key cardinality is
    * unchanged). Columns: (doc_id, dl, term, tf).
    */
  private def postingsOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  /** Shared scoring tail: candidate postings already restricted to query
    * terms and carrying their df, joined to the (local, broadcast) query
    * frame, scored per term, folded per (query, doc) in term order, and
    * ranked per query. Corpus stats arrive as driver literals — two
    * scalars whose collection is exact (long counts), so score bits are
    * unchanged vs a frame-borne cross join, and no broadcast-build job
    * re-executes corpus lineage for a single row.
    */
  private def scoreAndRank(cand: DataFrame, qDf: DataFrame, k: Int,
      k1: Double, b: Double, nDocs: Long, avgdl: Double,
      excludeSelf: Boolean): DataFrame = {
    val scored0 = cand.join(broadcast(qDf), Seq("term"))
    val scored = (if (excludeSelf)
      scored0.filter(col("doc_id") =!= col("query_id")) else scored0)
      .withColumn("s",
        log((lit(nDocs.toDouble) - col("df").cast("double")
            + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
          * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0 - b)
              + lit(b) * col("dl").cast("double") / lit(avgdl))))

    // deterministic summation without an order-pinned fold: per-term
    // partials are cast to DECIMAL(38,18) and summed EXACTLY — addition
    // order can't matter, the aggregate stays codegen'd with map-side
    // partials (a collect_list+sorted-fold formulation measured 5×
    // slower: interpreted ObjectHashAggregate over per-group arrays).
    // 1e-18 resolution is far below any real score gap; the double→
    // decimal cast follows the repo's q1-era money convention.
    val perDoc = scored
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("long").as("n_hit"),
        sum(col("s").cast("decimal(38,18)")).as("score"))

    rankTopK(perDoc, k, col("score"), col("n_hit"))
      .select(col("query_id"), col("doc_id"), col("rank"),
        col("payload").as("n_hit"))
  }

  /** Distributed per-query top-k rank — the serving-side replacement for
    * `row_number() over (partitionBy(query_id) orderBy score desc,
    * doc_id asc)`, whose single-task-per-query sort is the one plan
    * shape that does not survive a 100× corpus (one mid-df query term =
    * one task sorting millions of candidates). The bounded-heap
    * [[graft.functions.TopKRankAggregator]] aggregates with map-side
    * partials, so each partition ships ≤k rows per query and the final
    * merge sees ≤ partitions×k rows; the emitted list is totally ordered
    * by (score desc, doc_id asc), so list position + 1 IS row_number —
    * rankings are bit-identical to the window formulation (RetrievalSpec
    * pins frame equality; the serving oracles hash unchanged).
    * Output: (query_id, doc_id, rank, payload, score); callers project.
    */
  private def rankTopK(cand: DataFrame, k: Int, score: Column,
      payload: Column): DataFrame = {
    val topk = udaf(new graft.functions.TopKRankAggregator(k),
      org.apache.spark.sql.Encoders.product[graft.functions.RankedDoc])
    cand
      .groupBy("query_id")
      .agg(topk(score.cast("decimal(38,18)"), col("doc_id"),
        payload.cast("long")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("query_id"), col("r.docId").as("doc_id"),
        (col("pos") + 1).as("rank"), col("r.payload").as("payload"),
        col("r.score").as("score"))
  }

  /** Driver-side replica of the layouts' bucketing expression
    * `pmod(xxhash64(term), buckets)` — the SAME XXH64 (seed 42) Spark's
    * `xxhash64` Column evaluates, called on the term's UTF-8 bytes
    * directly. Every serving call used to compute its handful of bucket
    * ids through a one-row Spark job ("local-data job"); at 1–3 such
    * jobs per serve the fixed job-submission round trips were the
    * protocol family's contention amplifier (r10 verdict: 5–17× under
    * box load while scan entries drifted 1.15×). Bit-equality with the
    * Column form is spec-pinned (BenchProfileSpec) — a drift here would
    * silently prune the WRONG buckets.
    */
  private[graft] def termBucket(term: String, buckets: Int): Int = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(term)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    val m = (h % buckets).toInt
    if (m < 0) m + buckets else m
  }

  private[graft] def termBuckets(terms: Seq[String], buckets: Int): Seq[Int] =
    terms.map(termBucket(_, buckets)).distinct.sorted

  /** Collect the (bounded, serving-side) query workload to the driver:
    * (query_id, term) pairs plus the sorted distinct term list. Queries
    * are requests, not a corpus — materializing them once keeps their
    * lineage from re-executing under every broadcast build.
    */
  private def localQueries(queries: DataFrame): (Seq[(Long, String)], Seq[String]) = {
    val rows = queries.select(col("query_id").cast("long"), col("term"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    (rows, rows.map(_._2).distinct.sorted)
  }

  /** BM25 top-k retrieval (Robertson–Spärck Jones idf, k1/b as given),
    * one-shot over a corpus frame. `queries` carries distinct
    * (query_id, term) rows and is collected (bounded serving input).
    * Output: (query_id, doc_id, rank, n_hit) — rank 1..k by score desc
    * with doc_id as the total tie-break, n_hit = matched query terms.
    * Set `excludeSelf` when query ids live in the doc id space and the
    * query document itself should not be retrieved.
    *
    * Plan shape: ONE corpus pass builds the postings and a second
    * computes the per-query-term document frequencies (both map-side
    * combined); stats and dfs are driver-side scalars bounded by the
    * query term count, so the main job is a single linear pipeline —
    * scan → explode → combine-agg → term filter → two local-broadcast
    * joins → fold → per-query top-k. For repeated query batches use
    * [[buildBm25Index]]/[[queryBm25Index]], which persist the corpus
    * passes.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75, excludeSelf: Boolean = false,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (qRows, qTerms) = localQueries(queries)
    val qDf = qRows.toDF("query_id", "term")

    val ws = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("toks"))
    val statsRow = ws.agg(count(lit(1)), sum(size(col("toks")))).collect()(0)
    val nDocs = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs.toDouble

    val candTf = postingsOf(docs, idCol, textCol)
      .filter(col("term").isin(qTerms: _*))
    // df per query term: bounded by |qTerms|, collected and joined as
    // local data (the alternative — a per-term window — repartitions
    // candidate postings BY TERM, which skews on common terms)
    val dfs = candTf.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val cand = candTf.join(broadcast(dfs.toDF("term", "df")), Seq("term"))
    scoreAndRank(cand, qDf, k, k1, b, nDocs, avgdl, excludeSelf)
  }

  /** Persist the BM25 serving index — the inverted-index layout that
    * amortizes the corpus passes across query batches, in the same
    * style as the IVF/PQ ANN index (v7/v9):
    *   - `{name}_postings`: (doc_id, dl, term, tf) partitioned by
    *     `term_bucket = pmod(xxhash64(term), buckets)` — a query batch
    *     prunes to the buckets its terms hash into, so the fraction of
    *     postings read scales with the query vocabulary, not the corpus
    *     (hash-bucketed, not term-partitioned: real vocabularies are
    *     100k+ terms, which would explode the directory count, and
    *     Zipf-heavy terms would skew single-term partitions);
    *   - `{name}_vocab`: (term, df) — document frequencies for ALL
    *     terms, computed once from the written postings (no second
    *     corpus tokenize), partitioned by `vocab_bucket =
    *     pmod(xxhash64(term), vocabBuckets)` so df merges (append /
    *     delete) rewrite only the buckets the batch's vocabulary hashes
    *     into, and query-term df lookups partition-prune — a web-scale
    *     vocabulary (10⁸ terms) no longer funnels through one write
    *     task. Size `vocabBuckets` by the vocabulary the way mergeByKey
    *     sizes `__bucket` by the table: bucket volume constant, so
    *     merge cost tracks the BATCH's vocabulary (SCALE.md, "high-df
    *     lexical serving + sharded vocab", has it at 10⁶ terms);
    *   - `{name}_stats`: one row (n_docs, sum_dl).
    */
  def buildBm25Index(docs: DataFrame, writer: graft.sources.TableWriter,
      name: String, buckets: Int = 64, vocabBuckets: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val tf = bm25BatchPostings(docs, buckets, idCol, textCol)
    // cluster by bucket before the partitioned write: without this every
    // shuffle partition spills a sliver into every bucket directory
    // (partitions × buckets small files — file-listing cost dwarfs the
    // data at query time); with it each bucket directory is one
    // contiguous file per writing task that owns it
    writer.materialize(s"${name}_postings",
      tf.repartition(col("term_bucket")),
      partitionBy = Seq("term_bucket"))
    val written = writer.read(spark, s"${name}_postings",
      Layout.postings(idTypeOf(tf)))
    writer.materialize(s"${name}_vocab",
      vocabOf(written, vocabBuckets)
        .repartition(col("vocab_bucket")), // one file per bucket dir
      partitionBy = Seq("vocab_bucket"))
    val st = docs.select(split(col(textCol), " ").as("toks"))
      .agg(count(lit(1)), coalesce(sum(size(col("toks"))).cast("long"), lit(0L)))
      .collect()(0)
    val fs = new org.apache.hadoop.fs.Path(writer.path(s"${name}_stats"))
      .getFileSystem(spark.sessionState.newHadoopConf())
    writeStatsDirect(fs, writer, name, st.getLong(0), st.getLong(1))
  }

  /** Read the vocab pruned to the buckets a term set hashes into (the
    * df-lookup twin of the postings' bucket pruning). `terms` empty →
    * the whole vocab (the merge paths prune separately).
    */
  private def vocabPruned(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, name: String,
      terms: Seq[String], vocabBuckets: Int): DataFrame = {
    import spark.implicits._
    val base = writer.read(spark, s"${name}_vocab", Layout.vocab)
    if (terms.isEmpty) base
    else {
      // bucket ids via the driver-side xxhash64 replica ([[termBucket]],
      // spec-pinned == the engine's) — cast-free partition pruning with
      // zero extra Spark jobs per serve
      val hit = termBuckets(terms, vocabBuckets)
      base.filter(col("vocab_bucket").isin(hit: _*)
        && col("term").isin(terms: _*))
    }
  }

  /** Add a batch's (term, df_delta) into the bucketed vocab — the df
    * merge of [[appendBm25IndexBatch]]: only the `touched` buckets (the
    * ones the delta's terms hash into; the leg collects them fused with
    * its batch stats) are read, merged and swapped in. Untouched buckets
    * stay byte-stable (spec-asserted). Deltas are positive, so every
    * touched bucket keeps at least the delta's own terms: no bucket
    * empties, and none needs deleting.
    */
  private def mergeVocab(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, name: String, delta: DataFrame,
      vocabBuckets: Int, touched: Seq[Int]): Unit = {
    if (touched.isEmpty) return
    // the merge plan reads the very files being replaced: publishVocab
    // stages the merged buckets before any live dir changes
    publishVocab(spark, writer, name, touched.toSet) {
      writer.read(spark, s"${name}_vocab", Layout.vocab)
        .filter(col("vocab_bucket").isin(touched.sorted: _*))
        .select(col("term"), col("df").as("df_old"))
        .join(delta, Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df_old"), lit(0L)) + coalesce(col("df_delta"), lit(0L)))
            .as("df"))
        .withColumn("vocab_bucket",
          pmod(xxhash64(col("term")), lit(vocabBuckets.toLong)).cast("int"))
    }
  }

  /** EXACTLY-ONCE batch append into a persisted BM25 index — the one
    * append path of the family (v13, q92, the streamed ingest of
    * q89/q106): the batch's postings are tokenized ONCE and moved into
    * the bucket-partitioned layout (existing postings files untouched),
    * the vocabulary's dfs are additively merged into ONLY the vocab
    * buckets the batch's terms hash into ([[mergeVocab]]), and the two
    * corpus scalars are updated from driver-side longs. Every update is
    * integer addition, so append == rebuild BIT-EXACTLY, query for query
    * (RetrievalSpec pins it). Batch docs must be NEW ids; the first
    * batch on an absent index bootstraps it. Spark's foreachBatch is
    * at-least-once (a batch whose append completed but whose checkpoint
    * commit didn't is REDELIVERED after a restart), so the leg is
    * idempotent per `batchId` under a write-ahead protocol:
    *
    *   0. WRITER FENCE: the protocol assumes ONE writer; a second
    *      concurrent stream's interleaved flag/marker writes would
    *      corrupt vocab silently. [[IndexProtocol.acquireLease]] pins
    *      the index to `writerId` (pass the stream's checkpoint
    *      location); a different id fails loudly, the same id
    *      re-acquires freely (the restart case).
    *   1. `{name}_commits/batch_<id>` marker present → the batch is
    *      fully applied; stale protocol litter (a crash between the
    *      marker and the flag clears) is swept, and return.
    *   2. POSTINGS REDO, O(batch): a crashed attempt's moved-in files
    *      are deleted by replaying the attempt's own staged-file
    *      manifest (`{name}_commits/staged_<id>`, written BEFORE any
    *      rename — so it covers every file a crash can have landed).
    *      No bucket directory is listed — redo cost tracks the batch's
    *      buckets, not buckets × batches namenode calls. Then the
    *      batch's postings are staged and moved in under deterministic
    *      `b<id>-…` names behind a fresh manifest.
    *   3. VOCAB/STATS under the `{name}_vocab_dirty` write-ahead flag,
    *      which records `(batchId, pre-merge n_docs, pre-merge
    *      sum_dl)` — or `bootstrap` — BEFORE any derived write in
    *      EITHER branch (bootstrap too: without the flag, a crash
    *      after the bootstrap's vocab/stats materialize but before the
    *      marker would leave stats present + dirty absent, and
    *      redelivery would take the incremental branch and double-add
    *      the batch — an unrepairable count). Recovery is
    *      BUCKET-SCOPED: a crashed incremental merge can only have
    *      damaged the vocab buckets the batch's vocabulary hashes into
    *      (mergeVocab overwrites nothing else) plus the stats row, so
    *      redelivery recomputes ONLY those buckets' dfs from the
    *      postings (the ground truth step 2 just made correct) and
    *      patches stats from the flag's snapshot plus the batch's own
    *      deterministic contribution — recovery cost tracks the
    *      BATCH's vocabulary, not the index (SCALE.md, "streamed-ingest
    *      crash paths at index scale"). A crashed bootstrap rebuilds
    *      vocab+stats from the postings, which at bootstrap are
    *      batch-sized.
    *   4. marker, then the flags clear. A crash between them leaves
    *      litter that the next call's fast path (step 1) or the stale-
    *      flag check sweeps — never incorrect state.
    *
    * Every recovery path lands on the same final index bytes as an
    * uninterrupted run (IndexRestartSpec kills mid-protocol and
    * diffs; q106 runs the real readStream kill/restart under v10's
    * oracle). Batch ids must be the streaming engine's epoch ids —
    * monotone, replayed verbatim on restart.
    */
  def appendBm25IndexBatch(newDocs: DataFrame,
      writer: graft.sources.TableWriter, name: String, batchId: Long,
      buckets: Int = 64, vocabBuckets: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      writerId: String = "default"): Unit = {
    val c = IndexFamily.Bm25.commits(newDocs.sparkSession, writer, name)
    IndexProtocol.runLeg(c, IndexProtocol.Append, batchId, writerId,
        s"appendBm25IndexBatch($name)",
        Seq(IndexFamily.Bm25.vocabDirty(writer, name), c.staged(batchId))) {
      applyBm25Batch(newDocs, writer, c, name, batchId, buckets,
        vocabBuckets, idCol, textCol)
    }
  }

  /** The batch's postings with their term bucket: what the BM25 append
    * leg stages.
    */
  private def bm25BatchPostings(newDocs: DataFrame, buckets: Int,
      idCol: String, textCol: String): DataFrame =
    postingsOf(newDocs, idCol, textCol)
      .withColumn("term_bucket",
        pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int"))

  /** BM25's staging step: the batch postings moved into the postings
    * layout behind the staged manifest.
    */
  private def stageBm25Batch(tfB: DataFrame,
      writer: graft.sources.TableWriter, c: IndexProtocol.Commits,
      name: String, batchId: Long,
      alongside: Option[() => Unit] = None): Unit =
    IndexProtocol.stageBatch(c, batchId, tfB, "term_bucket",
      new org.apache.hadoop.fs.Path(writer.path(s"__stage_b${batchId}_$name")),
      new org.apache.hadoop.fs.Path(writer.path(s"${name}_postings")),
      alongside)

  /** The body of [[appendBm25IndexBatch]] (steps 2–3); false when the
    * batch is a no-op on an unborn index.
    */
  private def applyBm25Batch(newDocs: DataFrame,
      writer: graft.sources.TableWriter, c: IndexProtocol.Commits,
      name: String, batchId: Long, buckets: Int, vocabBuckets: Int,
      idCol: String, textCol: String): Boolean = {
    val spark = newDocs.sparkSession
    def path(p: String) = new org.apache.hadoop.fs.Path(writer.path(p))
    val fs = c.fs
    val dirty = IndexFamily.Bm25.vocabDirty(writer, name)
    // an empty batch on an UNBORN index (a delete-only first feed batch
    // routed through the append leg): nothing to bootstrap from — commit
    // the marker and wait for a batch with rows. Checked only while
    // stats are absent, so the isEmpty job never runs in steady state.
    if (!fs.exists(path(s"${name}_stats")) && newDocs.isEmpty) return false

    // ---- step 2: postings redo (O(batch), manifest-driven) ----
    IndexProtocol.redoFromManifest(fs, c.staged(batchId))
    val tfB = bm25BatchPostings(newDocs, buckets, idCol, textCol).persist()
    try {
      // batch contribution to stats AND the batch's touched vocab
      // buckets in ONE collect (two tiny tagged frames unioned — both
      // derive from the pinned batch postings, and each former separate
      // collect was a fixed driver round trip per batch): tag 0 rows are
      // the distinct vocab-bucket ids, the tag 1 row is (n_docs, Σdl).
      // Used by both the incremental and recovery paths.
      lazy val (bStat: (Long, Long), touchedVb: Seq[Int]) = {
        val rows = tfB
          .select(lit(0).as("tag"),
            pmod(xxhash64(col("term")), lit(vocabBuckets.toLong)).as("a"),
            lit(0L).as("b"))
          .distinct()
          .unionAll(tfB.select(col("doc_id"), col("dl")).distinct()
            .agg(count(lit(1)).as("n"),
              coalesce(sum(col("dl")).cast("long"), lit(0L)).as("s"))
            .select(lit(1).as("tag"), col("n").as("a"), col("s").as("b")))
          .collect()
        val touched = rows.filter(_.getInt(0) == 0)
          .map(_.getLong(1).toInt).toSeq
        val st = rows.find(_.getInt(0) == 1)
          .map(r => (r.getLong(1), r.getLong(2))).getOrElse((0L, 0L))
        (st, touched)
      }
      // fused collect ∥ postings stage write (guide §2.6): both legs
      // materialize the SAME pinned batch postings (block-level cache
      // locking computes each partition once), and the collect's result
      // is not needed until step 3 — so its job back-fills the write's
      // task tail instead of running after it. Forced only on the
      // incremental/recovery paths that will consume it (the bootstrap
      // branch never runs the collect, keeping its job count unchanged).
      val statsExist = fs.exists(path(s"${name}_stats"))
      stageBm25Batch(tfB, writer, c, name, batchId, Some(() =>
        if (statsExist) { val _ = (bStat, touchedVb); () }))
      def writeStats(n: Long, s: Long): Unit =
        writeStatsDirect(fs, writer, name, n, s)
      val postingsLayout = Layout.postings(idTypeOf(tfB))
      // exact rebuild of vocab+stats from the postings (bootstrap /
      // bootstrap-crash recovery; batch-sized at bootstrap)
      def rebuildAllFromPostings(): Unit = {
        val written = writer.read(spark, s"${name}_postings", postingsLayout)
        writer.materialize(s"${name}_vocab_next",
          vocabOf(written, vocabBuckets).repartition(col("vocab_bucket")),
          partitionBy = Seq("vocab_bucket"))
        val vDst = path(s"${name}_vocab")
        fs.delete(vDst, true)
        graft.sources.TableWriter.renameOrThrow(fs,
          path(s"${name}_vocab_next"), vDst, s"appendBm25IndexBatch($name)")
        val st = written.select(col("doc_id"), col("dl")).distinct()
          .agg(count(lit(1)).as("n"), sum(col("dl")).cast("long").as("s"))
          .collect()(0)
        writeStats(st.getAs[Long]("n"), st.getAs[Long]("s"))
      }
      // bucket-scoped vocab repair: recompute dfs from the postings for
      // ONLY the vocab buckets the batch's vocabulary hashes into. When
      // buckets % vocabBuckets == 0, postings bucket b holds exactly the
      // terms whose vocab bucket is b % vocabBuckets, so the recompute
      // reads buckets/vocabBuckets of the postings per touched vocab
      // bucket and is complete for them by construction.
      def recoverTouchedVocabBuckets(): Boolean = {
        if (buckets % vocabBuckets != 0) return false
        // the batch's own buckets, from the fused collect
        val touched = touchedVb.toSet
        if (touched.isEmpty) return true
        val pb = (0 until buckets).filter(b => touched.contains(b % vocabBuckets))
        // every touched bucket keeps the batch's own terms, so none is
        // left empty for publishVocab to delete
        publishVocab(spark, writer, name, touched) {
          vocabOf(writer.read(spark, s"${name}_postings", postingsLayout)
            .filter(col("term_bucket").isin(pb: _*)), vocabBuckets)
        }
        true
      }

      // ---- step 3: vocab + stats under the write-ahead dirty flag ----
      val statsP = path(s"${name}_stats")
      val dirtyState: Option[Seq[String]] =
        if (fs.exists(dirty)) Some(IndexProtocol.readLines(fs, dirty))
        else None
      // stale flag from a crash between a PREVIOUS batch's marker and
      // its clear: that batch's merge completed (marker is written
      // after vocab/stats), so the flag is litter, not damage
      val live = dirtyState.filter { st =>
        val ok = st.headOption.exists(_.toLong == batchId)
        if (!ok) {
          val prev = st.headOption.map(_.toLong).getOrElse(-1L)
          require(c.isMarked(IndexProtocol.Append, prev),
            s"appendBm25IndexBatch($name): dirty flag names batch $prev " +
              s"with no commit marker while batch $batchId is applying — " +
              "two writers on one index?")
          fs.delete(dirty, false)
        }
        ok
      }
      live match {
        case None if !fs.exists(statsP) =>
          // BOOTSTRAP, first attempt: declare dirty BEFORE deriving
          IndexProtocol.writeLinesAtomic(fs, dirty,
            Seq(batchId.toString, "bootstrap"))
          rebuildAllFromPostings()
        case Some(st) if st.lift(1).contains("bootstrap") =>
          // crashed bootstrap: exact rebuild (batch-sized postings)
          rebuildAllFromPostings()
        case Some(st) =>
          // crashed incremental merge: bucket-scoped repair + stats
          // from the flag's pre-merge snapshot + the batch contribution
          val Array(n0, s0) = st(1).split("\t").map(_.toLong)
          if (recoverTouchedVocabBuckets()) writeStats(n0 + bStat._1, s0 + bStat._2)
          else rebuildAllFromPostings() // non-divisible bucket layout
        case None =>
          // incremental: snapshot pre-merge stats INTO the flag first
          val (n0, s0) = readStatsDirect(writer, name)
          IndexProtocol.writeLinesAtomic(fs, dirty,
            Seq(batchId.toString, s"$n0\t$s0"))
          // vocab merge ∥ stats write (guide §2.6): both live under the
          // SAME write-ahead dirty flag, and redelivery's bucket-scoped
          // recovery repairs vocab and stats together regardless of
          // which leg a crash interrupted — so their relative order
          // never mattered; only the marker (step 4, after both) does
          graft.operators.Parallelism.overlap(
            writeStats(n0 + bStat._1, s0 + bStat._2)) {
            mergeVocab(spark, writer, name,
              tfB.groupBy("term").agg(count(lit(1)).as("df_delta")),
              vocabBuckets, touchedVb)
          }
      }
      // step 4 (fenced marker, then the flags clear) is runLeg's
      true
    } finally tfB.unpersist(blocking = false)
  }

  /** Reproduce — deterministically and protocol-faithfully — a crash of
    * [[appendBm25IndexBatch]] INSIDE the vocab merge: the batch's
    * postings are moved in behind their staged manifest (step 2,
    * verbatim), the dirty flag records the pre-merge stats snapshot
    * (step 3's write-ahead), and then the merge "dies" having damaged
    * exactly what a real crash can damage — the batch's own vocab
    * buckets and the stats table. No commit marker is written. This is
    * the adversarial state [[bm25ServingView]] must serve THROUGH
    * (snapshot readers see the pre-batch index bit-exactly) and
    * redelivery's bucket-scoped recovery must repair; it exists so the
    * q112 oracle entry and SnapshotReadSpec can pin both against a real
    * mid-protocol state. Nothing in the write path calls it.
    */
  private[graft] def injectCrashedBm25Append(newDocs: DataFrame,
      writer: graft.sources.TableWriter, name: String, batchId: Long,
      buckets: Int = 64, vocabBuckets: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    def path(p: String) = new org.apache.hadoop.fs.Path(writer.path(p))
    val c = IndexFamily.Bm25.commits(spark, writer, name)
    val fs = c.fs
    val (n0, s0) = readStatsDirect(writer, name)
    // step 2: the leg's own staging step
    val tfB = bm25BatchPostings(newDocs, buckets, idCol, textCol).persist()
    try {
      stageBm25Batch(tfB, writer, c, name, batchId)
      // step 3's write-ahead, then the merge "crashes": every vocab
      // bucket the batch touches is damaged, stats are garbage
      IndexProtocol.writeLinesAtomic(fs, IndexFamily.Bm25.vocabDirty(writer, name),
        Seq(batchId.toString, s"$n0\t$s0"))
      val touched = tfB
        .select(pmod(xxhash64(col("term")), lit(vocabBuckets.toLong))
          .cast("int").as("vb"))
        .distinct().collect().map(_.getInt(0))
      val vroot = path(s"${name}_vocab")
      touched.foreach(b =>
        fs.delete(new org.apache.hadoop.fs.Path(vroot, s"vocab_bucket=$b"),
          true))
      writeStatsDirect(fs, writer, name, -1L, -1L)
    } finally tfB.unpersist(blocking = false)
  }

  /** [[injectCrashedBm25Append]] for the positional family: the
    * append leg's own staging step ([[stagePositionalBatch]]) and no
    * commit marker — the family has no derived tables, so this IS every
    * pre-marker crash state with data on disk. Fixture for q113 and
    * SnapshotReadSpec; nothing in the write path calls it.
    */
  private[graft] def injectCrashedPositionalAppend(newDocs: DataFrame,
      writer: graft.sources.TableWriter, name: String, batchId: Long,
      buckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    stagePositionalBatch(newDocs, writer,
      IndexFamily.Positional.commits(newDocs.sparkSession, writer, name),
      name, batchId, buckets, idCol, textCol)

  /** EXACTLY-ONCE batch delete from a persisted BM25 index — the one
    * delete path of the family (v18; with [[appendBm25IndexBatch]] it
    * lets a CDC feed drive the index, [[syncBm25IndexFromFeed]]) and the
    * lexical twin of the ANN deletion lifecycle (v17): postings struck,
    * dfs recomputed, zero-df terms dropped, stats reduced — delete ==
    * rebuild-without-victims BIT-exactly. Victims arrive WITH their
    * text, which keeps the strike pruned: a victim's postings live
    * exactly in the buckets its own terms hash into. Absent ids and
    * re-deletes are byte-level no-ops. The vocab/stats changes derive
    * from the STRUCK INDEX ROWS, never from re-tokenizing the passed
    * text, so a drifted text cannot make postings, vocab and stats
    * disagree (with drifted text, postings in unpredicted buckets can
    * survive — but the index stays internally consistent). The struck
    * rows are the one pre-state a replay cannot recompute after the
    * strike, so the leg write-aheads everything the replay needs:
    *
    *   1. `{name}_commits/del_<id>` marker present → done (fast path).
    *   2. STRUCK-SET WRITE-AHEAD: the victims' actual index rows are
    *      computed from the (pre-strike) postings and persisted to
    *      `{name}_commits/struck_<id>` via stage+dir-rename — the one
    *      computation that must see pre-state exactly once. Replays
    *      REUSE the persisted set, never recompute.
    *   3. STATS SNAPSHOT WRITE-AHEAD (`delstate_<id>`): pre-delete
    *      (n_docs, sum_dl), written before any mutation.
    *   4. strike postings — idempotent given the persisted struck set
    *      (anti-join converges from any partial state), after
    *      [[graft.sources.TableWriter.recoverSwap]] restores a bucket a
    *      crashed swap left in trash (run before the struck set is read);
    *   5. vocab: the struck terms' buckets are RECOMPUTED from the
    *      post-strike postings (exact and idempotent — no decrement
    *      arithmetic to double-apply; buckets % vocabBuckets == 0
    *      prunes the recompute to the ≡-mod postings buckets, else the
    *      whole vocab rebuilds), emptied buckets deleted;
    *   6. stats = snapshot − the struck set's own (n, Σdl);
    *   7. fence check, marker, then the write-ahead files clear
    *      ([[IndexProtocol.runLeg]]) — on the no-op paths (empty index,
    *      absent victims) too.
    *
    * Same single-writer lease and in-order-replay contract as the
    * append leg: a crashed delete is redelivered BEFORE any later
    * append touches the index (the streaming engine replays the failed
    * epoch first), so the append never merges into a half-deleted
    * vocab. IndexRestartSpec crashes each step and diffs.
    */
  def deleteFromBm25IndexBatch(victims: DataFrame,
      writer: graft.sources.TableWriter, name: String, batchId: Long,
      buckets: Int = 64, vocabBuckets: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      writerId: String = "default"): Unit = {
    val c = IndexFamily.Bm25.commits(victims.sparkSession, writer, name)
    IndexProtocol.runLeg(c, IndexProtocol.Delete, batchId, writerId,
        s"deleteFromBm25IndexBatch($name)",
        Seq(c.delState(batchId), c.struck(batchId))) {
      strikeBm25Batch(victims, writer, c, name, batchId, buckets,
        vocabBuckets, idCol, textCol)
    }
  }

  /** The body of [[deleteFromBm25IndexBatch]] (steps 2–6); false when
    * the index is empty and there is nothing to strike. Steps 4–6 read
    * the persisted struck set through one collect (its term buckets,
    * vocab buckets and (n_docs, Σdl)), taken before any mutation.
    */
  private def strikeBm25Batch(victims: DataFrame,
      writer: graft.sources.TableWriter, c: IndexProtocol.Commits,
      name: String, batchId: Long, buckets: Int, vocabBuckets: Int,
      idCol: String, textCol: String): Boolean = {
    val spark = victims.sparkSession
    def path(p: String) = new org.apache.hadoop.fs.Path(writer.path(p))
    val fs = c.fs
    val state = c.delState(batchId)
    val struckDir = c.struck(batchId)
    val postRoot = path(s"${name}_postings")
    // empty index: deleting nothing is done
    if (!fs.exists(postRoot)) return false
    graft.sources.TableWriter.recoverSwap(fs, postRoot, "term_bucket=")

    val tfV = bm25BatchPostings(victims, buckets, idCol, textCol)
    // the postings as the victims' id type reads them; the struck set
    // has the same columns
    val postingsLayout = Layout.postings(idTypeOf(tfV))
    def readPostings(bs: Seq[Int]): DataFrame =
      spark.read.schema(postingsLayout).parquet(postRoot.toString)
        .filter(col("term_bucket").isin(bs: _*))

    // ---- step 2: struck-set write-ahead (pre-strike truth, once) ----
    if (!fs.exists(struckDir)) {
      // bounded collect: ≤ buckets ids — the victims' own term buckets
      val affected = tfV.select("term_bucket").distinct()
        .collect().map(_.getInt(0))
      val stage = path(s"__stage_struck_b${batchId}_$name")
      readPostings(affected.toIndexedSeq)
        .join(victims.select(col(idCol).as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(stage.toString)
      graft.sources.TableWriter.renameOrThrow(fs, stage, struckDir,
        "deleteFromBm25IndexBatch")
    }
    val struck = spark.read.schema(postingsLayout).parquet(struckDir.toString)
    // everything steps 4–6 need from the struck set in ONE tagged collect
    // (the append leg's fused shape): the set is write-ahead and never
    // changes once renamed in, so reading it before any mutation is
    // exact. Tag 0 rows are the distinct term buckets (≤ buckets), tag 1
    // rows the distinct vocab buckets (≤ vocabBuckets), the tag 2 row is
    // (n_docs, Σdl).
    val tagged = struck
      .select(lit(0).as("tag"), col("term_bucket").cast("long").as("a"),
        lit(0L).as("b"))
      .unionAll(struck.select(lit(1).as("tag"),
        pmod(xxhash64(col("term")), lit(vocabBuckets.toLong)).as("a"),
        lit(0L).as("b")))
      .distinct()
      .unionAll(struck.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")).cast("long"), lit(0L)).as("s"))
        .select(lit(2).as("tag"), col("n").as("a"), col("s").as("b")))
      .collect()
    def ids(tag: Int) = tagged.filter(_.getInt(0) == tag).map(_.getLong(1).toInt)
    val hit = ids(0)
    // absent ids / re-deletes: byte-level no-op
    if (hit.isEmpty) return true
    val touchedVb = ids(1).toSet
    val (struckN, struckS) = tagged.find(_.getInt(0) == 2)
      .map(r => (r.getLong(1), r.getLong(2))).get

    // ---- step 3: stats snapshot write-ahead (pre-delete, once) ----
    if (!fs.exists(state)) {
      val (oldN, oldS) = readStatsDirect(writer, name)
      IndexProtocol.writeLinesAtomic(fs, state, Seq(s"$oldN\t$oldS"))
    }
    val Array(n0, s0) =
      IndexProtocol.readLines(fs, state).head.split("\t").map(_.toLong)

    // ---- step 4: strike postings (idempotent vs the persisted set) ----
    val survivors = readPostings(hit.toIndexedSeq)
      .join(struck.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    // stage-then-swap (TableWriter.swapStagedDirs): survivors written
    // ONCE, partitioned. Idempotent under replay: re-running the strike
    // from any partial state re-stages the same survivors and re-swaps.
    val stage = path(s"__stage_delb${batchId}_$name")
    val surviving: Set[Int] = try {
      survivors.repartition(col("term_bucket")) // one file per bucket
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("term_bucket")
        .parquet(stage.toString)
      graft.sources.TableWriter
        .swapStagedDirs(fs, stage, postRoot, "term_bucket=").toSet
    } finally fs.delete(stage, true)
    hit.filterNot(surviving).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(postRoot, s"term_bucket=$b"),
        true)
    }

    // ---- step 5: recompute the struck terms' vocab buckets (exact,
    // idempotent — replaces decrement arithmetic entirely); a bucket
    // left with no terms is deleted by publishVocab ----
    if (buckets % vocabBuckets == 0) {
      val pb = (0 until buckets).filter(b => touchedVb.contains(b % vocabBuckets))
      publishVocab(spark, writer, name, touchedVb) {
        vocabOf(readPostings(pb), vocabBuckets)
      }
    } else {
      // non-divisible layout: exact full rebuild from the postings
      writer.materialize(s"${name}_vocab_next",
        vocabOf(spark.read.schema(postingsLayout).parquet(postRoot.toString),
          vocabBuckets).repartition(col("vocab_bucket")),
        partitionBy = Seq("vocab_bucket"))
      val vDst = path(s"${name}_vocab")
      fs.delete(vDst, true)
      graft.sources.TableWriter.renameOrThrow(fs,
        path(s"${name}_vocab_next"), vDst, s"deleteFromBm25IndexBatch($name)")
    }

    // ---- step 6: stats from the snapshot + the struck set ----
    writeStatsDirect(fs, writer, name, n0 - struckN, s0 - struckS)
    // step 7 (fenced marker, then the write-aheads clear) is runLeg's
    true
  }

  /** Drive a BM25 serving index from a table's CDC change feed
    * ([[IndexProtocol.syncFromFeed]]): per feed batch, in batch_id
    * order, the pre-images are struck via [[deleteFromBm25IndexBatch]]
    * and the post-images appended via [[appendBm25IndexBatch]] — the
    * synced index serves bit-identically to one built from the final
    * table state (q109's oracle; CdcIndexSyncSpec diffs against a fresh
    * build). Both legs are bucket-pruned, so cost per batch tracks the
    * batch.
    */
  def syncBm25IndexFromFeed(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, tableName: String,
      indexName: String, buckets: Int = 64, vocabBuckets: Int = 16,
      keyCol: String = "doc_id", textCol: String = "text",
      writerId: String = "default"): Unit =
    IndexProtocol.syncFromFeed(spark, writer, tableName,
      bm25Legs(writer, indexName, buckets, vocabBuckets, keyCol, textCol,
        writerId), Seq(keyCol, textCol))

  /** BM25's two batch legs bound to one index. */
  private def bm25Legs(writer: graft.sources.TableWriter, name: String,
      buckets: Int, vocabBuckets: Int, keyCol: String, textCol: String,
      writerId: String): IndexProtocol.ChangeLegs =
    IndexProtocol.ChangeLegs(
      deleteFromBm25IndexBatch(_, writer, name, _, buckets, vocabBuckets,
        keyCol, textCol, writerId),
      appendBm25IndexBatch(_, writer, name, _, buckets, vocabBuckets,
        keyCol, textCol, writerId))

  /** The strike of [[deleteFromPositionalIndexBatch]] — the third and
    * SIMPLEST of the index deletions (v17 ANN, v18 BM25, this):
    * positional postings are pure per-(term, doc) state with no
    * cross-document statistics, so striking the victims' rows IS the
    * whole delete and delete == rebuild-without-victims bit-exactly with
    * nothing to merge. Same pruning discipline as
    * [[deleteFromBm25IndexBatch]]: a victim's rows live exactly in its
    * own terms' buckets, presence is disk-staged (severing lineage
    * through the path being overwritten), absent ids and re-deletes are
    * byte-level no-ops.
    */
  private def deleteFromPositionalIndex(victims: DataFrame,
      writer: graft.sources.TableWriter, name: String, buckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = victims.sparkSession
    val vb = victims
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(split(col(textCol), " "))).as("term"))
      .select(pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int")
        .as("term_bucket"))
    // bounded collect: ≤ buckets ids — the victims' own term buckets
    val affected = vb.distinct().collect().map(_.getInt(0))
    if (affected.isEmpty) return
    val posPath = writer.path(s"${name}_positions")
    val victimIds = victims.select(col(idCol).as("doc_id")).distinct()
    val pruned = spark.read
      .schema(Layout.positions(victimIds.schema.head.dataType)).parquet(posPath)
      .filter(col("term_bucket").isin(affected.toIndexedSeq: _*))
    val presentStage = writer.path(s"__stage_delids_$name")
    val presentIds = pruned.select("doc_id").distinct()
      .join(victimIds, Seq("doc_id"), "left_semi")
    presentIds.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(presentStage)
    // the stages are read back with the schema of the frame written
    val present = spark.read.schema(presentIds.schema).parquet(presentStage)
    try {
      if (present.count() == 0L) return
      // bounded collect: ≤ buckets ids actually holding victim rows
      val hit = pruned.join(present, Seq("doc_id"), "left_semi")
        .select("term_bucket").distinct().collect().map(_.getInt(0))
      val survivors = pruned
        .filter(col("term_bucket").isin(hit.toIndexedSeq: _*))
        .join(present, Seq("doc_id"), "left_anti")
      val stage = writer.path(s"__stage_del_$name")
      val surviving: Set[Int] = try {
        survivors.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(stage)
        val staged = spark.read.schema(survivors.schema).parquet(stage)
        staged.repartition(col("term_bucket"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("term_bucket")
          .parquet(posPath)
        staged.select("term_bucket").distinct().collect()
          .map(_.getInt(0)).toSet
      } finally {
        val sp = new org.apache.hadoop.fs.Path(stage)
        sp.getFileSystem(spark.sessionState.newHadoopConf()).delete(sp, true)
      }
      val root = new org.apache.hadoop.fs.Path(posPath)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      hit.filterNot(surviving).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"term_bucket=$b"), true)
      }
    } finally {
      val sp = new org.apache.hadoop.fs.Path(presentStage)
      sp.getFileSystem(spark.sessionState.newHadoopConf()).delete(sp, true)
    }
  }

  private def emptyServing(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Int, Long)].toDF("query_id", "doc_id", "rank", "n_hit")
  }

  private val StagedTermBucketRe = "/term_bucket=(\\d+)/".r.unanchored

  /** SNAPSHOT-RESOLVED serving view of a BM25 index — readers see
    * exactly the state of the last batch whose commit marker exists,
    * whatever the writer is doing or wherever it crashed. Without this,
    * a reader racing [[appendBm25IndexBatch]] (or serving between a
    * crash and its redelivery) would dirty-read the batch's already-
    * renamed `b<id>-` postings against pre-merge vocab/stats — scores
    * from a state no commit ever defined.
    *
    * Resolution rules, all driven by the protocol's own write-ahead
    * state (one commits-dir listing + one flag read; the quiescent path
    * adds NO per-row work and leaves the plan untouched):
    *   - postings: the scan is pinned under the
    *     [[IndexProtocol.pinnedSnapshot]] race-closing dance, and files
    *     of staged-but-unmarked batches are excluded by their `b<id>-`
    *     names (the staged manifest is written before any rename, so
    *     every file such a batch can have landed is excludable);
    *   - stats: a LIVE dirty flag (its batch unmarked) carries the
    *     pre-merge (n_docs, sum_dl) snapshot — the committed values —
    *     so the possibly-mid-overwrite stats table is not read at all;
    *   - dfs: a crashed merge can only have damaged the vocab buckets
    *     the batch's vocabulary hashes into (derived from the staged
    *     manifest's `term_bucket=` paths); query terms in those buckets
    *     get their dfs RECOMPUTED from the committed postings (the same
    *     pruned scan shape the query itself runs), terms elsewhere read
    *     the untouched vocab buckets normally;
    *   - a live BOOTSTRAP dirty flag means no batch has ever committed:
    *     the committed state is an empty index, and the reader serves
    *     exactly that (None → empty result);
    *   - in-flight DELETE legs refuse loudly (in-place rewrites have no
    *     pre-image) — the delete protocols' write-ahead files make them
    *     detectable; compaction is the one index write outside this
    *     guarantee — operator-scheduled maintenance.
    *
    * Returns (pruned-committed-postings-for-terms, nDocs, avgdl, dfs);
    * None when the committed state is an unborn index.
    */
  private def bm25ServingView(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, name: String, qTerms: Seq[String],
      buckets: Int, vocabBuckets: Int):
      Option[(Seq[String] => DataFrame, Long, Double, Map[String, Long])] = {
    import spark.implicits._
    val c = IndexFamily.Bm25.commits(spark, writer, name)
    val dirtyP = IndexFamily.Bm25.vocabDirty(writer, name)
    def dirtyLines(): Seq[String] =
      IndexProtocol.readLinesIfExists(c.fs, dirtyP).getOrElse(Nil)

    val (base, state, dirty) = IndexProtocol.pinnedSnapshot(c.fs, c.dir,
      () => dirtyLines(),
      () => writer.read(spark, s"${name}_postings", Layout.postings(LongType)),
      s"queryBm25Index($name)")

    // bucket list via the driver-side xxhash64 replica ([[termBucket]] —
    // no Spark job at all; the max-score path calls this closure three
    // times per serve, and each former "local-data job" was a fixed
    // driver round trip that amplified under box contention). The
    // pruning predicate stays in the partition column's written type
    // (int), so pruning stays cast-free; the uncommitted-file exclusion
    // wraps the PRUNED scan (input_file_name is nondeterministic —
    // below it, the prune would not push down)
    val posts: Seq[String] => DataFrame = terms =>
      if (terms.isEmpty) base.limit(0)
      else IndexProtocol.excludeUncommitted(
        base.filter(col("term_bucket").isin(termBuckets(terms, buckets): _*)
          && col("term").isin(terms: _*)),
        state.uncommittedAppends)

    val liveDirty = dirty.nonEmpty &&
      dirty.headOption.exists(h => !state.isCommitted(h.toLong))
    if (liveDirty && dirty.lift(1).contains("bootstrap"))
      return None // no batch ever committed: the snapshot is an empty index

    // clean path: stats (one row) and the query terms' dfs come back in
    // ONE collect — the two frames are tiny, and fusing them halves the
    // serve's driver round trips (fixed per-serve job submissions are
    // the contention amplifier, r10 verdict #1). The stats row rides
    // under a space-containing pseudo-term no real term can collide
    // with (terms come from splitting on space, so they never contain
    // one; an empty corpus has no terms at all).
    val (nDocs, avgdl, dfs): (Long, Double, Map[String, Long]) =
      if (!liveDirty) {
        val statsRow = writer.read(spark, s"${name}_stats", Layout.stats)
          .select(lit(" stats ").as("term"), col("n_docs").as("a"),
            col("sum_dl").as("b"))
        val vocabRows = vocabPruned(spark, writer, name, qTerms, vocabBuckets)
          .select(col("term"), col("df").as("a"), lit(0L).as("b"))
        val all = vocabRows.unionAll(statsRow).collect()
          .map(r => (r.getAs[String]("term"), r.getAs[Long]("a"),
            r.getAs[Long]("b")))
        val (statRows, dfRows) = all.partition(_._1 == " stats ")
        val (n, s) = statRows.headOption.map(t => (t._2, t._3))
          .getOrElse((0L, 0L))
        if (n <= 0L) return None
        (n, s.toDouble / n.toDouble,
          dfRows.map(t => t._1 -> t._2).toMap)
      } else {
        val Array(n0, s0) = dirty(1).split("\t").map(_.toLong)
        if (n0 <= 0L) return None
        (n0, s0.toDouble / n0.toDouble,
          dirtyDfs(spark, writer, name, qTerms, buckets, vocabBuckets,
            c, dirty, posts))
      }
    Some((posts, nDocs, avgdl, dfs))
  }

  /** The dirty-flag serving path's df resolution, factored out of
    * [[bm25ServingView]]: clean vocab buckets are read normally, the
    * crashed batch's touched buckets get their dfs recomputed from the
    * committed postings. Rare path (only live while a crashed append
    * awaits redelivery) — not job-count-optimized.
    */
  private def dirtyDfs(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, name: String, qTerms: Seq[String],
      buckets: Int, vocabBuckets: Int,
      c: IndexProtocol.Commits, dirty: Seq[String],
      posts: Seq[String] => DataFrame): Map[String, Long] = {
        // the crashed merge can only have touched the batch's own vocab
        // buckets — derivable from its staged manifest (postings bucket b
        // holds terms of vocab bucket b % vocabBuckets when the layouts
        // divide); conservative all-buckets fallback otherwise
        val touchedVb: Set[Int] = {
          val mf = c.staged(dirty.head.toLong)
          if (buckets % vocabBuckets == 0 && c.fs.exists(mf)) {
            IndexProtocol.readLines(c.fs, mf).filter(_.nonEmpty).flatMap { p =>
              StagedTermBucketRe.findFirstMatchIn(p)
                .map(_.group(1).toInt % vocabBuckets)
            }.toSet
          } else (0 until vocabBuckets).toSet
        }
        val (touchedTerms, cleanTerms) =
          qTerms.partition(t => touchedVb.contains(termBucket(t, vocabBuckets)))
        val cleanDfs: Map[String, Long] =
          if (cleanTerms.isEmpty) Map.empty
          else vocabPruned(spark, writer, name, cleanTerms, vocabBuckets)
            .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("df"))
            .toMap
        val touchedDfs: Map[String, Long] =
          if (touchedTerms.isEmpty) Map.empty
          else posts(touchedTerms).groupBy("term")
            .agg(count(lit(1)).as("df"))
            .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("df"))
            .toMap
        cleanDfs ++ touchedDfs
  }

  /** Query a persisted BM25 index: stats and the query terms' dfs are
    * tiny lookups; the one corpus-sized read is the postings scan,
    * partition-pruned to the term buckets the query vocabulary hashes
    * into and term-filtered inside them. Bit-identical ranking to
    * [[bm25TopK]] over the same corpus (postings are integers, parquet
    * round-trips them exactly, and the score arithmetic is shared).
    * Reads are SNAPSHOT-ISOLATED against the streamed-append protocol —
    * see [[bm25ServingView]].
    */
  def queryBm25Index(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, name: String, queries: DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false, buckets: Int = 64,
      vocabBuckets: Int = 16): DataFrame = {
    import spark.implicits._
    val (qRows, qTerms) = localQueries(queries)
    val qDf = qRows.toDF("query_id", "term")
    bm25ServingView(spark, writer, name, qTerms, buckets, vocabBuckets) match {
      case None => emptyServing(spark)
      case Some((posts, nDocs, avgdl, dfsMap)) =>
        val dfs = dfsMap.toSeq.sortBy(_._1)
        val cand = posts(qTerms)
          .join(broadcast(dfs.toDF("term", "df")), Seq("term"))
        scoreAndRank(cand, qDf, k, k1, b, nDocs, avgdl, excludeSelf)
    }
  }

  /** Rarest-first seed set for max-score serving: the minimal prefix of
    * terms, rarest first (df asc, term asc for determinism), whose
    * cumulative df reaches `k` — enough postings to yield k candidate
    * docs in the cheapest place possible. All terms if the query is too
    * sparse to promise k docs.
    */
  private[graft] def seedTerms(termDfs: Seq[(String, Long)],
      k: Int): Seq[String] = {
    val sorted = termDfs.sortBy { case (t, df) => (df, t) }
    val cum = sorted.scanLeft(0L)(_ + _._2).tail
    val idx = cum.indexWhere(_ >= k)
    if (idx < 0) sorted.map(_._1) else sorted.take(idx + 1).map(_._1)
  }

  /** Max-score essential-term partition (Turtle & Flood 1995): order the
    * query's terms by ascending score upper bound and drop the longest
    * prefix whose bounds sum to ≤ τ − slack; a doc containing ONLY
    * dropped (non-essential) terms scores strictly below every bound in
    * play — per-term BM25 partials are < maxImpact strictly (the tf
    * saturation never reaches 1) — so it scores < τ ≤ the true k-th
    * best and can never enter the top-k, tie-breaks included. The slack
    * (1e-9 relative) absorbs double-rounding of the bound arithmetic:
    * over-conservative pruning only costs speed, never exactness. τ =
    * −∞ (no reliable threshold) keeps every term essential — the plan
    * degrades to the unpruned one, bit-identically.
    */
  private[graft] def essentialTerms(impacts: Seq[(String, Double)],
      tau: Double): Seq[String] = {
    if (tau.isNegInfinity || impacts.isEmpty) impacts.map(_._1)
    else {
      val sorted = impacts.sortBy { case (t, i) => (i, t) }
      val slack = 1e-9 * (1.0 + math.abs(tau))
      var cum = 0.0
      val ess = Seq.newBuilder[String]
      var dropping = true
      for ((t, imp) <- sorted) {
        if (dropping && cum + imp <= tau - slack) cum += imp
        else { dropping = false; ess += t }
      }
      val out = ess.result()
      // the top-k docs themselves prove Σ impacts ≥ τ, so an all-pruned
      // partition can only be a borderline-rounding artifact — keep the
      // highest-impact term rather than reason about it
      if (out.isEmpty) Seq(sorted.last._1) else out
    }
  }

  /** Max-score BM25 serving over a [[buildBm25Index]] layout — EXACT
    * top-k, bit-identical ranking to [[queryBm25Index]], with the
    * candidate mass bounded by the DISCRIMINATIVE terms of each query
    * instead of the whole matching set. This is the high-df (stop-word)
    * serving fix: on the naive plan a query containing one stop word
    * drags every document holding it through the fold-and-rank shuffle;
    * here stop words are provably non-essential and only docs holding a
    * rarer, higher-impact term survive into the shuffle.
    *
    * Three candidate-bounded phases on top of the same index tables:
    *   1. SEED: per query, the rarest terms whose dfs promise k docs
    *      are scored alone (partial scores are a LOWER bound of full
    *      scores, and the k-th best over a subset lower-bounds the k-th
    *      best overall) → τ per query, a driver-side |queries|-row
    *      collect. Queries whose seeds yield fewer than k docs get
    *      τ = −∞ (no pruning — the safe degenerate).
    *   2. PARTITION: per-term upper bounds maxImpact = idf·(k1+1) from
    *      the vocab dfs (driver arithmetic); [[essentialTerms]] drops
    *      the stop-word prefix whose bounds cannot reach τ.
    *   3. SERVE: candidates = docs holding ≥1 essential term (a
    *      partition-pruned scan of the essential terms' buckets — the
    *      stop-word postings are never shuffled for candidacy); full
    *      scoring joins ALL query-term postings but semi-joins the
    *      candidate set BEFORE the fold shuffle, so the shuffle and
    *      window are candidate-bounded. Scoring arithmetic, decimal
    *      fold, and tie-breaks are shared with [[queryBm25Index]] —
    *      RetrievalSpec pins frame equality on randomized workloads and
    *      v21 pins it under the DuckDB oracle.
    *
    * The worst case is honest: a query of ONLY max-df terms on a flat
    * (non-Zipf) vocabulary has no non-essential prefix and degrades to
    * the naive plan — exact top-k genuinely requires scoring everything
    * when every term is a stop word and the corpus has no rarer signal.
    */
  def queryBm25IndexMaxScore(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, name: String, queries: DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false, buckets: Int = 64,
      vocabBuckets: Int = 16): DataFrame = {
    import spark.implicits._
    val (qRows, qTermsAll) = localQueries(queries)
    // snapshot-resolved index state — same contract as [[queryBm25Index]]
    val view = bm25ServingView(spark, writer, name, qTermsAll,
      buckets, vocabBuckets)
    if (view.isEmpty) return emptyServing(spark)
    val (prunedPosts, nDocs, avgdl, dfs) = view.get
    // vocabulary-absent terms match nothing — they carry no postings and
    // no df, so dropping them changes no score and no n_hit
    val qRowsIn = qRows.filter { case (_, t) => dfs.contains(t) }
    val byQ: Map[Long, Seq[String]] =
      qRowsIn.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    if (qRowsIn.isEmpty) return emptyServing(spark)

    def impact(t: String): Double =
      math.log((nDocs.toDouble - dfs(t).toDouble + 0.5)
        / (dfs(t).toDouble + 0.5) + 1.0) * (k1 + 1.0)

    // pruned postings scans come from the snapshot view (bucket-pruned,
    // term-filtered, uncommitted-batch files excluded)
    val dfDf = broadcast(dfs.toSeq.sortBy(_._1).toDF("term", "df"))
    def partials(workload: DataFrame, posts: DataFrame): DataFrame = {
      val scored0 = posts.join(dfDf, Seq("term"))
        .join(broadcast(workload), Seq("term"))
      (if (excludeSelf) scored0.filter(col("doc_id") =!= col("query_id"))
       else scored0)
        .withColumn("s",
          log((lit(nDocs.toDouble) - col("df").cast("double")
              + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
            * (col("tf").cast("double") * lit(k1 + 1.0))
            / (col("tf").cast("double")
              + lit(k1) * (lit(1.0 - b)
                + lit(b) * col("dl").cast("double") / lit(avgdl))))
    }

    // phase 1: τ per query from seed-term partial scores
    val seeds: Seq[(Long, String)] = byQ.toSeq.flatMap { case (q, ts) =>
      seedTerms(ts.map(t => (t, dfs(t))), k).map(q -> _)
    }
    // bounded collect: one (n, kth) row per query; the seed candidates
    // rank through the bounded-heap aggregate (rankTopK), not a
    // per-query window — seed terms are the rarest but their dfs can
    // still be corpus-scaled
    val tauRows = rankTopK(
        partials(seeds.toDF("query_id", "term"),
            prunedPosts(seeds.map(_._2).distinct))
          .groupBy("query_id", "doc_id")
          .agg(sum(col("s").cast("decimal(38,18)")).as("score")),
        k, col("score"), lit(0L))
      .groupBy("query_id")
      .agg(max(col("rank")).as("n"), min(col("score")).cast("double").as("kth"))
      .collect()
      .map(r => r.getAs[Long]("query_id")
        -> (if (r.getAs[Int]("n") >= k) r.getAs[Double]("kth")
            else Double.NegativeInfinity)).toMap

    // phase 2: essential terms per query (driver arithmetic on ≤|q·terms|)
    val ess: Seq[(Long, String)] = byQ.toSeq.flatMap { case (q, ts) =>
      essentialTerms(ts.map(t => (t, impact(t))),
        tauRows.getOrElse(q, Double.NegativeInfinity)).map(q -> _)
    }

    // phase 3: candidate docs hold ≥1 essential term; full scoring is
    // semi-joined to them BEFORE the fold shuffle
    val essPosts = prunedPosts(ess.map(_._2).distinct)
      .join(broadcast(ess.toDF("query_id", "term")), Seq("term"))
    val cand = (if (excludeSelf)
        essPosts.filter(col("doc_id") =!= col("query_id")) else essPosts)
      .select("query_id", "doc_id").distinct()
    val full = partials(qRowsIn.toDF("query_id", "term"),
        prunedPosts(qRowsIn.map(_._2).distinct))
      .join(cand, Seq("query_id", "doc_id"), "left_semi")
    rankTopK(
        full.groupBy("query_id", "doc_id")
          .agg(count(lit(1)).cast("long").as("n_hit"),
            sum(col("s").cast("decimal(38,18)")).as("score")),
        k, col("score"), col("n_hit"))
      .select(col("query_id"), col("doc_id"), col("rank"),
        col("payload").as("n_hit"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two rank frames,
    * each (query_id, <idCol>, rank): rrf = Σ 1/(rrfK + rank) over the
    * systems that returned the id, re-ranked to top-k. The two addends
    * are combined in a FIXED order (a then b), so the fused score is
    * bit-deterministic given integer input ranks.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, rrfK: Double = 60.0,
      idCol: String = "doc_id"): DataFrame = {
    def side(df: DataFrame, as: String): DataFrame =
      df.select(col("query_id"), col(idCol).as("id"), col("rank").as(as))
    val fused = side(a, "rank_a")
      .join(side(b, "rank_b"), Seq("query_id", "id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_a").cast("double")),
          lit(0.0))
          + coalesce(lit(1.0) / (lit(rrfK) + col("rank_b").cast("double")),
            lit(0.0)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("id").asc)
    fused.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= k)
      .select(col("query_id"), col("id").as(idCol), col("fused_rank"),
        col("rrf"), col("rank_a"), col("rank_b"))
  }

  /** Hashed TF-IDF document vectors (feature hashing, Weinberger et al.
    * 2009) — the text→vector bridge: each term is mapped to one of
    * `dims` buckets by the SHARED polynomial token hash (the d4/simhash
    * arithmetic, replayable in any 64-bit-integer SQL engine) and its
    * tf·idf weight accumulates there. Output is the SPARSE form —
    * (doc_id, dim, weight, n_terms) rows for occupied buckets only —
    * which is also what keeps the result hash-comparable (dense array
    * columns don't survive the cross-engine compare).
    *
    * Determinism: idf is the RATIONAL Laplace form (N+1)/(df+1) — no
    * transcendental, so the weights themselves are bit-exact across
    * engines (unlike BM25's ln-based scores); per-bucket accumulation is
    * an order-PINNED double fold (sorted by term) — NOT a decimal-cast
    * sum: a double's exact value can need ~50 fractional digits, so
    * DECIMAL(38,18) conversion rounds, and the two engines round that
    * conversion differently (~1e-15 relative, measured). That is
    * invisible behind BM25's rank-only contract but not here, where the
    * weight IS the output. Buckets hold 1–3 terms, so the fold costs
    * nothing.
    * Scale shape: one (doc, term) count shuffle with map-side combine, a
    * vocabulary-bounded df aggregate broadcast back, then one narrow
    * (doc, dim) combine-agg — nothing corpus-sized crosses the driver
    * (N arrives as one collected long).
    */
  def hashedTfidf(docs: DataFrame, dims: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val nDocs = docs.count()
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .withColumn("dim",
        graft.functions.TextFns.polyTokenHash(col("term")) % lit(dims.toLong))
      .withColumn("wt",
        col("tf").cast("double")
          * ((lit(nDocs.toDouble) + lit(1.0))
            / (col("df").cast("double") + lit(1.0))))
      .groupBy("doc_id", "dim")
      .agg(sort_array(collect_list(struct(col("term"), col("wt")))).as("arr"))
      .select(col("doc_id"), col("dim"),
        aggregate(col("arr"), lit(0.0),
          (acc, x) => acc + x.getField("wt")).as("weight"),
        size(col("arr")).cast("long").as("n_terms"))
  }

  /** Positional inverted index — the phrase-search extension of the BM25
    * serving layout: one postings row per (term, doc) carrying the
    * term's ORDERED 1-based position list, partitioned by
    * `term_bucket = pmod(xxhash64(term), buckets)` exactly like
    * [[buildBm25Index]] so a phrase query prunes to the buckets its
    * terms hash into. Build cost: ONE tokenize shuffle (map-side
    * position collect is not possible for collect_list, but the
    * (term, doc) key keeps every group within one document's token
    * count, so no group is corpus-sized). Positions are ints (2^31
    * tokens per document is beyond any real document).
    */
  private def positionalPostings(docs: DataFrame, buckets: Int,
      idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("p0", "term")))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list((col("p0") + 1).cast("int")))
        .as("positions"))
      .withColumn("term_bucket",
        pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int"))

  def buildPositionalIndex(docs: DataFrame, writer: graft.sources.TableWriter,
      name: String, buckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    // same bucket-clustered write as the BM25 postings: one contiguous
    // file per bucket dir instead of tasks × buckets slivers
    writer.materialize(s"${name}_positions",
      positionalPostings(docs, buckets, idCol, textCol)
        .repartition(col("term_bucket")),
      partitionBy = Seq("term_bucket"))

  /** EXACTLY-ONCE batch append into a positional index — the one append
    * path of the family (v16, q103, the streamed ingest of q107): a
    * batch of NEW documents is tokenized once and its postings moved
    * into the bucket-partitioned layout; the first batch on an absent
    * index creates it. The SIMPLEST of the three batch-commit protocols:
    * positional postings are pure per-(term, doc) state with nothing
    * derived (no vocab, no stats), so append == rebuild BIT-exactly and
    * the leg's body ([[IndexProtocol.runLeg]] supplies the writer
    * fence and the commit marker) is the manifest-driven `b<id>-…`
    * postings redo and the staging step — any crash point replays to
    * identical bytes, a redelivered batch is a marker check.
    * Redo is O(batch): the staged-file manifest (written before any
    * rename) lists exactly the files a crashed attempt can have moved
    * in, so no bucket directory is ever listed.
    */
  def appendPositionalIndexBatch(newDocs: DataFrame,
      writer: graft.sources.TableWriter, name: String, batchId: Long,
      buckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      writerId: String = "default"): Unit = {
    val c = IndexFamily.Positional.commits(newDocs.sparkSession, writer, name)
    IndexProtocol.runLeg(c, IndexProtocol.Append, batchId, writerId,
        s"appendPositionalIndexBatch($name)", Seq(c.staged(batchId))) {
      IndexProtocol.redoFromManifest(c.fs, c.staged(batchId))
      stagePositionalBatch(newDocs, writer, c, name, batchId, buckets,
        idCol, textCol)
      true
    }
  }

  /** The positional staging step: the batch's position postings moved
    * into the positions layout behind the staged manifest.
    */
  private def stagePositionalBatch(newDocs: DataFrame,
      writer: graft.sources.TableWriter, c: IndexProtocol.Commits,
      name: String, batchId: Long, buckets: Int,
      idCol: String, textCol: String): Unit =
    IndexProtocol.stageBatch(c, batchId,
      positionalPostings(newDocs, buckets, idCol, textCol), "term_bucket",
      new org.apache.hadoop.fs.Path(writer.path(s"__stage_pb${batchId}_$name")),
      new org.apache.hadoop.fs.Path(writer.path(s"${name}_positions")))

  /** EXACTLY-ONCE batch delete from a positional index — the delete leg
    * of the streamed phrase-index maintenance ([[appendPositionalIndexBatch]]
    * is the append leg; [[syncPositionalIndexFromFeed]] drives both from
    * a CDC feed). Positional postings are pure per-(term, doc) state, so
    * unlike the BM25 leg there is NOTHING derived to write-ahead: the
    * underlying [[deleteFromPositionalIndex]] converges from any partial
    * state (each run strikes whatever victim rows remain), and the leg
    * is [[IndexProtocol.flaggedDeleteLeg]] — the marker that makes a
    * redelivered batch a no-op plus the reader fence.
    */
  def deleteFromPositionalIndexBatch(victims: DataFrame,
      writer: graft.sources.TableWriter, name: String, batchId: Long,
      buckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      writerId: String = "default"): Unit =
    IndexProtocol.flaggedDeleteLeg(
      IndexFamily.Positional.commits(victims.sparkSession, writer, name),
      batchId, writerId, s"deleteFromPositionalIndexBatch($name)",
      new org.apache.hadoop.fs.Path(writer.path(s"${name}_positions"))) {
      deleteFromPositionalIndex(victims, writer, name, buckets, idCol, textCol)
    }

  /** Drive a positional (phrase-search) index from a table's CDC change
    * feed ([[IndexProtocol.syncFromFeed]]): per feed batch in batch_id
    * order, pre-images struck, post-images appended, each leg
    * exactly-once under its marker; re-runs fast-path and the synced
    * index matches a fresh build over the final table state (q110's
    * oracle).
    */
  def syncPositionalIndexFromFeed(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, tableName: String,
      indexName: String, buckets: Int = 64,
      keyCol: String = "doc_id", textCol: String = "text",
      writerId: String = "default"): Unit =
    IndexProtocol.syncFromFeed(spark, writer, tableName,
      IndexProtocol.ChangeLegs(
        deleteFromPositionalIndexBatch(_, writer, indexName, _, buckets,
          keyCol, textCol, writerId),
        appendPositionalIndexBatch(_, writer, indexName, _, buckets,
          keyCol, textCol, writerId)),
      Seq(keyCol, textCol))

  /** Exact phrase query against a [[buildPositionalIndex]] layout.
    * `phrases`: (query_id LONG, terms ARRAY<STRING>) — a bounded
    * serving-side workload, collected like [[localQueries]]. A document
    * matches when the phrase occurs CONSECUTIVELY: the occurrence-start
    * set is the intersection over phrase offsets i of
    * {p - i : p ∈ positions(term_i)}, computed entirely in Column
    * algebra (transform + array_intersect fold) — integers end-to-end,
    * so unlike BM25 the output is fully hash-exact cross-engine, not
    * rank-only. Output: (query_id, doc_id, n_occ, rank), rank 1..k by
    * occurrence count desc / doc_id asc.
    *
    * Plan shape: the postings read is partition-pruned to the query
    * terms' buckets and term-filtered inside them; the broadcast
    * (term, off) join fans each surviving posting to the offsets that
    * term occupies in some phrase; one (query, doc)-keyed shuffle
    * aggregates the offset sets; everything after is
    * candidate-bounded. Phrases with repeated terms work: each offset
    * is a distinct broadcast row, and the doc must satisfy ALL of them
    * (countDistinct(off) = phrase length).
    *
    * Rarest-term-first candidacy (the stop-word fix, twin of
    * [[queryBm25IndexMaxScore]]): a doc can only match a phrase if it
    * holds the phrase's RAREST term, so the (query, doc) shuffle is
    * semi-joined down to those docs before the offset sets aggregate —
    * candidate mass is bounded by the rarest term's df, not the
    * commonest's. Per-term dfs come from a count-only aggregate over
    * the pruned postings scan (map-side combined to ≤|query vocabulary|
    * rows — the scan of stop-word buckets still happens, but their
    * postings never enter the intersection shuffle). Exact by
    * construction (a match needs ALL phrase terms), so v14/v16/v20
    * hash-match the unpruned plan.
    */
  def phraseQuery(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, name: String, phrases: DataFrame,
      k: Int, excludeSelf: Boolean = false, buckets: Int = 64): DataFrame = {
    import spark.implicits._
    val pRows = phrases
      .select(col("query_id").cast("long"), col("terms"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    val qOff = pRows.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (t, i) => (q, t, i, ts.length) } }
    val qDf = qOff.toDF("query_id", "term", "off", "plen")
    val qTerms = qOff.map(_._2).distinct.sorted
    // bucket ids via the driver-side xxhash64 replica (zero extra jobs
    // per serve), pruning predicate stays in the written int type —
    // same as queryBm25Index
    val hit = termBuckets(qTerms, buckets)
    // snapshot-resolved positions scan — the positional family has no
    // derived vocab/stats, so the whole guarantee is the pinned scan +
    // uncommitted-batch file exclusion + delete-leg refusal (see
    // [[bm25ServingView]] for the full rules on the BM25 family); the
    // per-term dfs below derive from this same committed view
    val posCommits = IndexFamily.Positional.commits(spark, writer, name)
    val (posBase, posState, _) = IndexProtocol.pinnedSnapshot(posCommits.fs,
      posCommits.dir, () => Nil,
      () => writer.read(spark, s"${name}_positions", Layout.positions(LongType)),
      s"phraseQuery($name)")
    val posts = IndexProtocol.excludeUncommitted(
        posBase.filter(col("term_bucket").isin(hit: _*)
          && col("term").isin(qTerms: _*)),
        posState.uncommittedAppends)
      .select(col("term"), col("doc_id"), col("positions"))
    // per-term document frequencies: bounded collect (≤ |qTerms| rows),
    // map-side combined — no positions shuffled, just counts
    val dfByTerm: Map[String, Long] = posts.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // rarest term per phrase (df asc, term asc for determinism); a term
    // absent from the index has df 0 — the phrase matches nothing and
    // its rarest-term candidate set is empty, which serves exactly that
    val rarest: Seq[(Long, String)] = pRows.map { case (q, ts) =>
      q -> ts.minBy(t => (dfByTerm.getOrElse(t, 0L), t))
    }
    val cand = posts.join(broadcast(rarest.toDF("query_id", "term")),
        Seq("term"))
      .select("query_id", "doc_id").distinct()
    val shifted = posts.join(broadcast(qDf), Seq("term"))
      .join(cand, Seq("query_id", "doc_id"), "left_semi")
      .select(col("query_id"), col("doc_id"), col("plen"), col("off"),
        transform(col("positions"), p => p - col("off")).as("starts"))
    val folded = shifted.groupBy("query_id", "doc_id", "plen")
      .agg(countDistinct(col("off")).as("n_hit"),
        collect_list(col("starts")).as("sets"))
      .filter(col("n_hit") === col("plen"))
      .withColumn("occ",
        aggregate(slice(col("sets"), lit(2), size(col("sets")) - 1),
          element_at(col("sets"), 1),
          (acc, x) => array_intersect(acc, x)))
      .withColumn("n_occ", size(col("occ")).cast("long"))
      .filter(col("n_occ") > 0)
    val scoped =
      if (excludeSelf) folded.filter(col("doc_id") =!= col("query_id"))
      else folded
    rankTopK(scoped, k, col("n_occ").cast("decimal(38,18)"), col("n_occ"))
      .select(col("query_id"), col("doc_id"),
        col("payload").as("n_occ"), col("rank"))
  }

  /** Drive a BM25 serving index from a [[graft.sources.VersionedTable]]'s
    * commit history — the CDC → index sync (q109) with NO change feed
    * maintained at write time: each committed version's net row changes
    * are derived from the MANIFEST DIFF
    * ([[graft.sources.VersionedTable.changesBetween]], bucket-pruned by
    * file-list identity), pre-images struck via
    * [[deleteFromBm25IndexBatch]] and post-images appended via
    * [[appendBm25IndexBatch]] — version ids are the batch ids, so the
    * exactly-once markers make re-runs (and crash redeliveries inside
    * any version) fast-path convergently, and the synced index serves
    * exactly what a fresh build over the latest version would.
    *
    * Version 0 (or the oldest retained version on first sync) replays
    * as pure inserts of its full state — and that full replay is legal
    * ONLY onto a VIRGIN index: if vacuum has dropped manifests past
    * versions this index already synced, the new oldest retained
    * version would re-insert every live doc as a duplicate (doubled
    * postings and dfs, silently). So when the head version is unmarked
    * but the index carries ANY prior sync state (a batch/del marker, a
    * folded frontier, or the stats file), the sync REFUSES loudly
    * instead of replaying (r11 advisor). Versions already marked are
    * skipped without reading any manifest diff. Retention contract:
    * every UNSYNCED version and its predecessor must still be retained
    * (vacuum keeps `retainLast`; sync before vacuuming past unsynced
    * history).
    */
  def syncBm25IndexFromVersionedTable(spark: org.apache.spark.sql.SparkSession,
      tableRoot: String, writer: graft.sources.TableWriter, name: String,
      buckets: Int = 64, vocabBuckets: Int = 16,
      keyCol: String = "doc_id", textCol: String = "text",
      writerId: String = "default"): Unit = {
    import graft.sources.VersionedTable
    val c = IndexFamily.Bm25.commits(spark, writer, name)
    val legs = bm25Legs(writer, name, buckets, vocabBuckets, keyCol,
      textCol, writerId)
    val vs = VersionedTable.versions(spark, tableRoot)
    for (v <- vs) {
      val applied = c.isMarked(IndexProtocol.Append, v) &&
        c.isMarked(IndexProtocol.Delete, v)
      if (!applied) {
        val changes =
          if (v == vs.head) {
            // full-state replay is only legal onto a virgin index: sync
            // state from any OTHER version id means vacuum dropped
            // manifests past already-synced versions, and replaying the
            // head as pure inserts would double every live doc's
            // postings and dfs. State attributable to v ITSELF (del_v
            // marker, staged_v manifest, write-ahead litter for v, or
            // the stats file while v's legs are in flight) is legitimate
            // crash-redelivery of this very replay and must NOT refuse —
            // the exactly-once legs converge it.
            val st = c.state
            val inflightForV = st.stagedAppends.contains(v) ||
              st.writeAheadDeletes.contains(v) || st.delMarkers.contains(v)
            val priorSync =
              (st.committedAppends ++ st.delMarkers ++ st.stagedAppends ++
                st.writeAheadDeletes).exists(_ != v) ||
              st.frontierBatch > Long.MinValue ||
              st.frontierDel > Long.MinValue ||
              (!inflightForV && c.fs.exists(new org.apache.hadoop.fs.Path(
                writer.path(s"${name}_stats"))))
            require(!priorSync,
              s"syncBm25IndexFromVersionedTable: oldest retained version " +
                s"$v of $tableRoot is unsynced but index '$name' already " +
                "carries sync state — vacuum dropped manifests past synced " +
                "history; full replay would duplicate postings. Rebuild " +
                "the index or restore retention before syncing.")
            // the head's full state, as pure inserts
            VersionedTable.read(spark, tableRoot, Some(v))
              .withColumn("change_op", lit("insert"))
          } else VersionedTable.changesBetween(spark, tableRoot, keyCol,
            v - 1, v)
        IndexProtocol.applyChangeBatch(legs, changes, v, Seq(keyCol, textCol))
      }
    }
  }

  /** The STREAMING variant of [[syncBm25IndexFromVersionedTable]]
    * (closing the r11 loop "the index sync replays changesBetween in a
    * batch loop"): a `readStream` over the table's commit history
    * ([[graft.streaming.VtCdfStream]] — offsets ARE version ids) drives
    * the same exactly-once legs through `foreachBatch`. A micro-batch
    * may span several versions (backlog catch-up); rows carry
    * `_commit_version`, so the batch is applied PER VERSION ascending
    * (filtered by version only when it spans several; a one-version
    * batch is applied as is, so a steady sync plans the same every step) —
    * the strike-before-append discipline holds within and across
    * versions, and version ids double as the protocol batch ids, so a
    * crash anywhere (including a redelivered micro-batch after a
    * checkpoint rollback) fast-paths convergently off the markers, and
    * the streamed index serves bit-identically to a batch rebuild. The
    * stream's own retention rule applies: vacuum must keep every
    * unstreamed version (the source refuses loudly otherwise).
    *
    * `processAll = true` drains the currently-committed history and
    * stops (the finite-source oracle shape); a deployment passes
    * `false` and owns the returned query's lifecycle.
    */
  def syncBm25IndexFromVtStream(spark: org.apache.spark.sql.SparkSession,
      tableRoot: String, writer: graft.sources.TableWriter, name: String,
      checkpoint: String, buckets: Int = 64, vocabBuckets: Int = 16,
      keyCol: String = "doc_id", textCol: String = "text",
      writerId: String = "default", processAll: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream
      .format(graft.streaming.VtCdfStream.format)
      .option("root", tableRoot).option("key", keyCol).load()
    val legs = bm25Legs(writer, name, buckets, vocabBuckets, keyCol,
      textCol, writerId)
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val batch = df.persist()
        try {
          // bounded collect: one id per version in the micro-batch
          val versions = batch.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted
          // a one-version batch (the steady case) goes in unfiltered: a
          // per-version literal in the filter and in the cached scan's
          // stats predicate would make every step compile new classes
          for (v <- versions)
            IndexProtocol.applyChangeBatch(legs,
              if (versions.length == 1) batch
              else batch.filter(col("_commit_version") === v), v,
              Seq(keyCol, textCol))
        } finally batch.unpersist()
        ()
      }.start()
    if (processAll) {
      try q.processAllAvailable() finally q.stop()
    }
    q
  }

  /** Exact top-k tokens per group by frequency (count desc, token asc).
    * The corpus-sized work is the single (group, token) count shuffle
    * with map-side combine; the window that ranks it runs on the
    * aggregated frame, whose size is vocabulary-bounded (Zipf: far
    * smaller than the corpus) — same post-agg-window justification as
    * the rollup entries. Output: (<groupCol>, token, cnt, rank).
    */
  def topTokensPerGroup(docs: DataFrame, groupCol: String, k: Int,
      textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(col(groupCol), explode(split(col(textCol), " ")).as("token"))
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("cnt").desc, col("token").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}

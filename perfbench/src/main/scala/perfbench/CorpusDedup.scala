package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFns
import graft.operators.{Dedup, Percentiles}
import graft.pipeline.CorpusPipeline

/** `corpus_dedup`: `CorpusPipeline.clean` on its at-scale path (MinHash
  * pairs, approximate percentiles) with a decontamination set, over
  * seeded near-duplicate document families.
  */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import ctx.spark

  val name = "corpus_dedup"
  /** Set-up is cheap after its first repetition. */
  override val setupReps = 2
  private val cfg = CorpusPipeline.Config(minhashPairs = true,
    exactPercentiles = false)
  private var docs: DataFrame = _
  private var bench: DataFrame = _
  private var inputIds: Set[Long] = Set.empty
  private var lastKept: Set[Long] = Set.empty
  private val stage = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var stageCounts: Map[String, Long] = Map.empty

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def setup(rep: Int): Gen.Sizes = {
    val in = ctx.freshDir(s"corpus_in_$rep")
    val sizes = Gen.corpus(ctx.seed, in)
    val pq = ctx.freshDir(s"corpus_src_$rep").toString
    Main.readTsv(spark, in.resolve("documents.tsv"), docSchema)
      .write.mode("overwrite").parquet(pq)
    docs = spark.read.parquet(pq)
    bench = Main.readTsv(spark, in.resolve("benchmark.tsv"), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
      .persist()
    bench.count()
    inputIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    sizes
  }

  def step(i: Int): Long = {
    val kept = ctx.call("pipeline", "pipeline.CorpusPipeline.clean") {
      CorpusPipeline.clean(docs, cfg = cfg, benchmark = Some(bench))
        .select("doc_id").collect().map(_.getLong(0))
    }
    lastKept = kept.toSet
    Gen.Docs.toLong
  }

  /** Materialize `df` inside a span, returning the persisted frame. */
  private def stageOf(key: String, span: String)(df: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val out = ctx.tracer.span("operators", span) {
      val d = df.persist()
      stageCounts += key -> d.count()
      d
    }
    stage(key) = (System.nanoTime() - t0) / 1e9
    out
  }

  /** The clean stages one public call at a time, each materialized, in
    * the order `CorpusPipeline.clean` composes them.
    */
  private def stageDrive(): Unit = {
    val decon = stageOf("dedup.decontam", "operators.Dedup.decontaminate") {
      Dedup.decontaminate(docs, bench, "doc_id", "text", cfg.decontamN,
        cfg.decontamMinOverlap)
    }
    val toks = TextFns.tokens(col("text"))
    val stops = array(cfg.stopWords.map(lit): _*)
    val annotated = decon
      .withColumn("__n_toks", size(toks).cast("long"))
      .withColumn("__n_stops",
        size(filter(toks, t => array_contains(stops, t))).cast("double"))
      .withColumn("__chars_ns",
        length(regexp_replace(col("text"), " ", "")).cast("double"))
    val banded = stageOf("percentiles.band", "operators.Percentiles.bandFilter") {
      Percentiles.bandFilter(annotated, col("__n_toks"), cfg.lengthLoQ,
        cfg.lengthHiQ, exact = cfg.exactPercentiles,
        accuracy = cfg.percentileAccuracy)
    }
    val quality = banded.filter(
      lit(0.4) * least(col("__n_toks").cast("double") / lit(100.0), lit(1.0))
        + lit(0.3) * (col("__n_stops") / col("__n_toks").cast("double"))
        + lit(0.3) * least((col("__chars_ns") / col("__n_toks").cast("double")) /
          lit(8.0), lit(1.0)) >= cfg.minQuality)
      .select(docs.columns.map(col): _*).persist()
    val cands = stageOf("dedup.minhash", "operators.Dedup.minhashLshPairs") {
      Dedup.minhashLshPairs(quality, "doc_id", "text", n = cfg.shingleN,
        numHashes = cfg.minhashNumHashes, bands = cfg.minhashBands,
        minEstJaccard = 0.0)
    }
    val pairs = stageOf("dedup.verify", "operators.Dedup.verifyPairsExact") {
      Dedup.verifyPairsExact(quality, cands, "doc_id", "text",
        n = cfg.shingleN, threshold = cfg.jaccardThreshold)
    }
    val kept = stageOf("dedup.apply", "operators.Dedup.applyDedup") {
      Dedup.applyDedup(quality, pairs, "doc_id")
    }
    Seq(decon, banded, quality, cands, pairs, kept).foreach(_.unpersist())
  }

  override def traceExtras(): Unit = stageDrive()

  override def layerMetrics(): Map[String, Double] = {
    val c = stageCounts.getOrElse("dedup.minhash", 0L).toDouble
    val v = stageCounts.getOrElse("dedup.verify", 0L).toDouble
    stage.map { case (k, s) => s"$k.s" -> s }.toMap ++ Map(
      "dedup.candidate_pairs" -> c,
      "dedup.verified_pairs" -> v,
      "dedup.kept_docs" -> stageCounts.getOrElse("dedup.apply", 0L).toDouble,
      "dedup.verify_yield" -> (if (c == 0) 0.0 else v / c))
  }

  /** MinHash-verified pairs of `in`, as `clean` finds them. */
  private def minhashPairs(in: DataFrame): DataFrame =
    Dedup.verifyPairsExact(in,
      Dedup.minhashLshPairs(in, "doc_id", "text", n = cfg.shingleN,
        numHashes = cfg.minhashNumHashes, bands = cfg.minhashBands,
        minEstJaccard = 0.0),
      "doc_id", "text", n = cfg.shingleN, threshold = cfg.jaccardThreshold)

  def checks(): Seq[(String, () => Option[String])] =
    Seq[(String, () => Option[String])](
      "kept_subset_of_input" -> (() => Option(lastKept.filterNot(inputIds))
        .filter(_.nonEmpty).map(x => s"${x.size} kept ids not in the input")),
      "kept_nonempty" -> (() =>
        if (lastKept.nonEmpty && lastKept.size < inputIds.size) None
        else Some(s"kept ${lastKept.size} of ${inputIds.size}")),
      "no_verified_pair_kept_twice" -> { () =>
        val both = minhashPairs(docs)
          .select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .filter { case (a, b) => lastKept(a) && lastKept(b) }
        both.headOption.map(b => s"${both.length} verified pairs keep both ends, e.g. $b")
      },
      // the exact path on a seeded eighth of the input: the MinHash pairs
      // must dedup to the same kept set as the exact prefix-filter join
      "slice_minhash_equals_exact" -> { () =>
        val slice = docs.filter(pmod(xxhash64(col("doc_id"), lit(ctx.seed)), lit(8)) === 0)
          .persist()
        def keptWith(pairs: DataFrame): Set[Long] =
          Dedup.applyDedup(slice, pairs, "doc_id").select("doc_id").collect()
            .map(_.getLong(0)).toSet
        val exact = keptWith(Dedup.ngramJaccardPairsPrefix(slice, "doc_id", "text",
          n = cfg.shingleN, threshold = cfg.jaccardThreshold))
        val mh = keptWith(minhashPairs(slice))
        slice.unpersist()
        if (exact == mh) None
        else Some(s"kept sets differ: exact=${exact.size} minhash=${mh.size} " +
          s"only-exact=${(exact -- mh).size} only-minhash=${(mh -- exact).size}")
      })
}

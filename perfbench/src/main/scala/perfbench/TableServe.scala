package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Retrieval
import graft.plans.{MvRegistry, MvRewrite}
import graft.sources.{MvMaintain, TableWriter, VersionedTable}

/** `table_serve`: a versioned documents table that changes while it is
  * read. Each step commits one seeded change, refreshes the maintained
  * view, syncs the BM25 index from the table's change stream, then runs
  * a fixed read mix, and vacuums versions older than the last two.
  */
final class TableServe(ctx: Ctx) extends Workload {
  import ctx.spark

  val name = "table_serve"
  /** The bootstrap (table, view and streamed index) takes most of a
    * run's set-up; one repetition keeps a run inside its time budget.
    */
  override val setupReps = 1
  val Buckets = 16
  /** Keys one commit touches: 0.5 % of the table. */
  val KeysPerCommit: Int = Gen.ServeDocs / 200
  val AggReads = 2
  val Lookups = 2
  val Searches = 1
  /** BM25 index term and vocabulary buckets, sized to this table's
    * 4,000-term vocabulary as `Retrieval` says to size them; its
    * defaults, 64 and 16, suit 100k+-term vocabularies.
    */
  val IndexBuckets = 16
  val VocabBuckets = 4

  private var root: String = _
  private var mvPath: String = _
  private var index: TableWriter = _
  private var checkpoint: String = _
  private val vdef = MvMaintain.ViewDef(Seq("source", "lang"),
    Map("n_chars" -> "sum_chars"), "n")

  /** The client's own record of every live row. */
  private val shadow = mutable.HashMap.empty[Long, Gen.Doc]
  private val bucketOf = mutable.HashMap.empty[Long, Int]
  private var recent: IndexedSeq[Long] = IndexedSeq.empty
  private var nextId = 0L
  private val queries = mutable.ArrayBuffer.empty[Seq[String]]
  private var aggHits = 0
  private var aggReads = 0

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Spark's `pmod(xxhash64(doc_id), buckets)`, computed client-side. */
  private def bucket(k: Long): Int =
    bucketOf.getOrElseUpdate(k, java.lang.Math.floorMod(XXH64.hashLong(k, 42L), Buckets.toLong).toInt)

  private def frame(docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text, d.lang, d.source, d.nChars.toLong)), 1), schema)

  def setup(rep: Int): Gen.Sizes = {
    val in = ctx.freshDir(s"serve_in_$rep")
    val (sizes, docs) = Gen.serve(ctx.seed, in)
    val base = ctx.freshDir(s"serve_$rep")
    root = base.resolve("docs").toString
    mvPath = base.resolve("docs_mv").toString
    index = new TableWriter(base.resolve("index").toString)
    checkpoint = base.resolve("index_ck").toString
    shadow.clear()
    docs.foreach(d => shadow(d.id) = d)
    nextId = docs.map(_.id).max + 1
    MvRegistry.deregister(spark, root)
    VersionedTable.commitMerge(spark, root,
      Main.readTsv(spark, in.resolve("documents.tsv"), schema), "doc_id",
      numBuckets = Buckets)
    MvMaintain.refreshFromVersionedTable(spark, root, "doc_id", mvPath, vdef)
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[MvRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite(spark)
    MvRegistry.register(spark, root, MvRegistry.MvDef(mvPath,
      Set("source", "lang"), Map("n_chars" -> "sum_chars"), "n",
      comp = Some(MvRegistry.CompDef.versionedDynamic(root, "doc_id"))))
    sync()
    sizes
  }

  /** Change kinds, 7 merges and 3 deletes in 10, alternately confined
    * to one bucket and spread. Step 0 takes the first; after it each
    * kind serves two steps in a row (so a traced run's untraced and
    * traced steps match). The kind of a step is the same for every
    * seed, so runs of different seeds compare.
    */
  private val Kinds: IndexedSeq[(Boolean, Boolean)] = IndexedSeq(
    (true, true), (true, false), (false, true), (true, true), (true, false),
    (false, false), (true, true), (true, false), (false, true), (true, false))

  /** One seeded change (merge = half updates, half inserts), touching
    * [[KeysPerCommit]] keys.
    */
  private def plan(i: Int): (Seq[Gen.Doc], Seq[Long]) = {
    val r = Gen.rng(ctx.seed, 1000L + i)
    val (merge, confined) = Kinds(((i + 1) / 2) % Kinds.size)
    val b = r.nextInt(Buckets)
    val live = shadow.keys.toArray.sorted
    val pool = if (confined) live.filter(k => bucket(k) == b) else live
    def pick(n: Int): Seq[Long] = {
      val chosen = mutable.LinkedHashSet.empty[Long]
      while (chosen.size < math.min(n, pool.length)) chosen += pool(r.nextInt(pool.length))
      chosen.toSeq
    }
    if (!merge) (Nil, pick(KeysPerCommit))
    else {
      val updates = pick(KeysPerCommit / 2).map { k =>
        val d = shadow(k)
        val toks = d.text.split(' ')
        toks(r.nextInt(toks.length)) = Gen.vocab(r.nextInt(Gen.vocab.size))
        d.copy(text = toks.mkString(" "), source = s"src${r.nextInt(10)}")
      }
      val inserts = mutable.ArrayBuffer.empty[Gen.Doc]
      while (inserts.size < KeysPerCommit / 2) {
        val k = nextId
        nextId += 1
        if (!confined || bucket(k) == b) {
          val len = 20 + r.nextInt(60)
          inserts += Gen.Doc(k,
            Seq.fill(len)(Gen.vocab(r.nextInt(Gen.vocab.size))).mkString(" "),
            "en", s"src${r.nextInt(10)}")
        }
      }
      (updates ++ inserts, Nil)
    }
  }

  private def sync() =
    Retrieval.syncBm25IndexFromVtStream(spark, root, index, "bm25", checkpoint,
      buckets = IndexBuckets, vocabBuckets = VocabBuckets)

  def step(i: Int): Long = {
    val (upserts, deletes) = plan(i)
    val t0 = System.nanoTime()
    ctx.timed("commit_ms") {
      ctx.call("sources", "sources.VersionedTable.commit", Seq(
          "vt.commit.ms" -> Ctx.Wall, "vt.fs_meta_per_commit" -> "fs.meta",
          "vt.fs_rename_per_commit" -> "fs.rename",
          "vt.jobs_per_commit" -> "spark.jobs")) {
        if (deletes.nonEmpty)
          VersionedTable.commitDelete(spark, root,
            spark.createDataFrame(spark.sparkContext.parallelize(deletes.map(Row(_)), 1),
              StructType(Seq(StructField("doc_id", LongType)))),
            "doc_id", numBuckets = Buckets)
        else VersionedTable.commitMerge(spark, root, frame(upserts), "doc_id",
          numBuckets = Buckets)
      }
    }
    deletes.foreach(shadow.remove)
    upserts.foreach(d => shadow(d.id) = d)
    recent = (deletes ++ upserts.map(_.id)).toIndexedSeq
    if (ctx.traced) {
      val v = VersionedTable.latestVersion(spark, root).get
      val m = new java.io.File(s"$root/_commits/v_$v")
      ctx.recordLayer("vt.manifest_bytes", m.length().toDouble)
    }
    ctx.call("sources", "sources.MvMaintain.refreshFromVersionedTable",
        Seq("mv.refresh.ms" -> Ctx.Wall)) {
      MvMaintain.refreshFromVersionedTable(spark, root, "doc_id", mvPath, vdef)
    }
    val q = ctx.call("operators", "operators.Retrieval.syncBm25IndexFromVtStream",
        Seq("index.sync.ms" -> Ctx.Wall, "index.fs_meta_per_sync" -> "fs.meta",
          "index.fs_rename_per_sync" -> "fs.rename")) {
      sync()
    }
    ctx.record("fresh_ms", (System.nanoTime() - t0) / 1e6)
    if (ctx.traced) {
      val phases = Seq("addBatch", "latestOffset", "queryPlanning", "walCommit",
        "commitOffsets")
      val sums = phases.map(p => p -> q.recentProgress.map(pr =>
        Option(pr.durationMs.get(p)).map(_.longValue).getOrElse(0L)).sum)
      sums.foreach { case (p, v) => ctx.recordLayer(s"stream.${p}_ms", v.toDouble) }
    }
    reads(i)
    ctx.call("sources", "sources.VersionedTable.vacuum", Seq("vt.vacuum.ms" -> Ctx.Wall)) {
      VersionedTable.vacuum(spark, root, retainLast = 2)
    }
    (deletes.size + upserts.size).toLong
  }

  private def aggFrame(byLang: Boolean): DataFrame = {
    val keys = if (byLang) Seq("source", "lang") else Seq("source")
    VersionedTable.read(spark, root).groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
  }

  /** True when the optimized plan reads the maintained view. */
  private def scansView(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten.exists(_.contains("docs_mv"))

  private def shadowAgg(byLang: Boolean): Map[Seq[String], (Long, Long)] =
    shadow.values.groupBy(d => if (byLang) Seq(d.source, d.lang) else Seq(d.source))
      .map { case (k, ds) => k -> ((ds.size.toLong, ds.map(_.nChars.toLong).sum)) }

  private def rowsAgg(rows: Array[Row], width: Int): Map[Seq[String], (Long, Long)] =
    rows.map(r => (0 until width).map(r.getString).toSeq ->
      ((r.getLong(width), r.getLong(width + 1)))).toMap

  private val readFailures = mutable.ArrayBuffer.empty[String]

  private def reads(i: Int): Unit = {
    val r = Gen.rng(ctx.seed, 5000L + i)
    (0 until AggReads).foreach { a =>
      val byLang = a % 2 == 0
      val rows = ctx.timed("agg_ms") {
        ctx.call("plans", "plans.MvRewrite.aggregate") {
          val df = aggFrame(byLang)
          if (ctx.traced) {
            val p0 = System.nanoTime()
            val plan = df.queryExecution.optimizedPlan
            ctx.recordLayer("rewrite.plan_ms", (System.nanoTime() - p0) / 1e6)
            aggReads += 1
            if (scansView(plan)) aggHits += 1
          }
          df.collect()
        }
      }
      if (rowsAgg(rows, if (byLang) 2 else 1) != shadowAgg(byLang))
        readFailures += s"step $i: aggregate read differs from the client's rows"
    }
    val live = shadow.keys.toArray.sorted
    (0 until Lookups).foreach { l =>
      val k =
        if (l % 2 == 0 && recent.nonEmpty) recent(r.nextInt(recent.size))
        else live(r.nextInt(live.length))
      val got = ctx.timed("lookup_ms") {
        ctx.call("sources", "sources.VersionedTable.read",
            Seq("lookup.files_opened" -> "fs.open")) {
          VersionedTable.read(spark, root, buckets = Some(Seq(bucket(k))))
            .filter(col("doc_id") === k).collect()
        }
      }
      val expect = shadow.get(k).map(d => (d.id, d.text, d.lang, d.source, d.nChars.toLong))
      val seen = got.map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("text"),
        x.getAs[String]("lang"), x.getAs[String]("source"), x.getAs[Long]("n_chars"))).toSeq
      if (seen != expect.toSeq)
        readFailures += s"step $i: lookup $k returned $seen, client wrote $expect"
    }
    (0 until Searches).foreach { _ =>
      val terms = Seq.fill(2)(Gen.vocab(8 + r.nextInt(400))).distinct
      queries += terms
      ctx.timed("search_ms") {
        ctx.call("operators", "operators.Retrieval.queryBm25Index", Seq(
            "search.fs_meta_per_query" -> "fs.meta",
            "search.jobs_per_query" -> "spark.jobs")) {
          search(index, Seq(terms))
        }
      }
    }
  }

  private def search(w: TableWriter, qs: Seq[Seq[String]]): Seq[Row] = {
    import spark.implicits._
    val qdf = qs.zipWithIndex.flatMap { case (ts, q) => ts.map(t => (q.toLong, t)) }
      .toDF("query_id", "term")
    Retrieval.queryBm25Index(spark, w, "bm25", qdf, k = 10,
      buckets = IndexBuckets, vocabBuckets = VocabBuckets)
      .orderBy("query_id", "rank").collect().toSeq
  }

  override def layerMetrics(): Map[String, Double] = Map(
    "rewrite.hit_ratio" -> (if (aggReads == 0) 0.0 else aggHits.toDouble / aggReads))

  def checks(): Seq[(String, () => Option[String])] = Seq[(String, () => Option[String])](
    "reads_match_client" -> (() => readFailures.headOption
      .map(f => s"${readFailures.size} reads differ; first: $f")),
    "view_equals_fresh_aggregate" -> { () =>
      val view = MvMaintain.readView(spark, mvPath).get
        .select(col("source"), col("lang"), col("n").cast("long"), col("sum_chars").cast("long"))
        .collect()
      val fresh = VersionedTable.read(spark, root).groupBy("source", "lang")
        .agg(count(lit(1)), sum(col("n_chars"))).collect()
      if (rowsAgg(view, 2) == rowsAgg(fresh, 2)) None
      else Some("maintained view differs from a fresh aggregate")
    },
    "table_equals_client" -> { () =>
      val tableRows = VersionedTable.read(spark, root).count()
      if (tableRows == shadow.size) None
      else Some(s"table has $tableRows rows, client holds ${shadow.size}")
    },
    "bm25_equals_rebuild" -> { () =>
      val rebuilt = new TableWriter(ctx.freshDir("serve_rebuilt").toString)
      Retrieval.buildBm25Index(VersionedTable.read(spark, root)
        .select("doc_id", "text"), rebuilt, "bm25", buckets = IndexBuckets,
        vocabBuckets = VocabBuckets)
      val qs = queries.distinct.take(8).toSeq
      val streamed = search(index, qs)
      val batch = search(rebuilt, qs)
      if (streamed == batch && streamed.nonEmpty) None
      else Some(s"streamed index answers ${streamed.size} rows, rebuild ${batch.size}")
    }) ++
    (if (aggReads == 0) Nil
     else Seq("mv_rewrite_used" -> (() =>
       if (aggHits == aggReads) None
       else Some(s"view served $aggHits of $aggReads aggregate reads"))))
}

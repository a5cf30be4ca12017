package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.ModelRegistry
import graft.models.{HealthFixture, ReferencePipeline}
import graft.sources.{TableWriter, Tables}

/** `dag_nightly`: the engine's `dbt run`. Every iteration materializes
  * all 27 reference models into a fresh warehouse with
  * `runAllParallel(maxParallel = cores)`, over the bundled reference
  * seeds and seeded card and health sources.
  */
final class DagNightly(ctx: Ctx) extends Workload {
  import ctx.spark

  val name = "dag_nightly"
  /** Set-up is cheap after its first repetition. */
  override val setupReps = 2
  private val asOf = LocalDate.parse(HealthFixture.asOf)
  private var sources: Map[String, DataFrame] = Map.empty
  private var inputDir: Path = _
  /** Warehouses of the cold, the last steady and (traced) the serial build. */
  private val warehouses = scala.collection.mutable.LinkedHashMap.empty[String, Path]
  private val dagWallS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val serialModelS = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType), StructField("o_orderdate", DateType)))
  private val txSchema = StructType(Seq(
    StructField("key", StringType), StructField("date", DateType),
    StructField("amount", DecimalType(18, 2)),
    StructField("card_last4", IntegerType),
    StructField("description", StringType), StructField("category", StringType),
    StructField("type", StringType), StructField("intermediate_key", StringType)))

  def setup(rep: Int): Gen.Sizes = {
    inputDir = ctx.freshDir(s"dag_in_$rep")
    val sizes = Gen.dag(ctx.seed, inputDir)
    val seedsDir = ctx.freshDir(s"dag_seeds_$rep")
    Files.createDirectories(seedsDir)
    Seq("accounts_leaf", "merchant_regex", "merchants", "merchant_account_map")
      .foreach { n =>
        val in = getClass.getResourceAsStream(s"/graft/refseeds/$n.csv")
        require(in != null, s"missing bundled seed $n")
        try Files.copy(in, seedsDir.resolve(s"$n.csv")) finally in.close()
      }
    def seed(n: String, schema: StructType) =
      Tables.loadSeedCsv(spark, seedsDir.resolve(s"$n.csv").toString, schema)
    // the sources a nightly run reads: parquet, converted once here
    val pq = ctx.freshDir(s"dag_src_$rep")
    def toParquet(file: String, schema: StructType): DataFrame = {
      val out = pq.resolve(file.stripSuffix(".tsv")).toString
      Main.readTsv(spark, inputDir.resolve(file), schema)
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }
    val orders = toParquet("orders.tsv", ordersSchema)
    val customer = toParquet("customer.tsv",
      StructType(Seq(StructField("c_custkey", LongType))))
    val tx = toParquet("card_transactions.tsv", txSchema)
    orders.createOrReplaceTempView("bench_orders")
    customer.createOrReplaceTempView("bench_customer")
    sources = Map(
      "card_transactions" -> tx,
      "exercise_log" -> spark.sql(HealthFixture.exerciseSparkSql("bench_orders")),
      "weights" -> spark.sql(HealthFixture.weightsSparkSql("bench_customer")),
      "recipe_log" -> spark.sql(HealthFixture.recipeSparkSql("bench_orders")),
      "shopping_log" -> spark.sql(HealthFixture.shoppingSparkSql("bench_orders")),
      "accounts_leaf" -> seed("accounts_leaf", ReferencePipeline.accountsLeafSchema),
      "merchant_regex" -> seed("merchant_regex", ReferencePipeline.merchantRegexSchema),
      "merchants" -> seed("merchants", ReferencePipeline.merchantsSchema),
      "merchant_account_map" -> seed("merchant_account_map",
        ReferencePipeline.merchantAccountMapSchema))
    sizes
  }

  private def registry: ModelRegistry = ReferencePipeline.registry(asOf)

  def step(i: Int): Long = {
    val dir = ctx.freshDir(s"dag_wh_$i")
    val w = new TableWriter(dir.toString)
    val reg = registry
    val t0 = System.nanoTime()
    ctx.call("core", "core.runAllParallel") {
      reg.runAllParallel(spark, sources, Some(w), maxParallel = ctx.cores)
    }
    if (ctx.traced) dagWallS += (System.nanoTime() - t0) / 1e9
    warehouses(if (i == 0) "cold" else "last") = dir
    Gen.Orders.toLong
  }

  /** Serial drive of the same registry (topoOrder → transform →
    * materialize), one span per model, for per-model attribution.
    */
  override def traceExtras(): Unit = {
    val dir = ctx.freshDir("dag_wh_serial")
    val w = new TableWriter(dir.toString)
    val built = scala.collection.mutable.Map[String, DataFrame](sources.toSeq: _*)
    registry.topoOrder.foreach { m =>
      val t0 = System.nanoTime()
      ctx.tracer.span("models", s"models.${m.name}") {
        val out = ctx.tracer.span("models", s"models.${m.name}.transform") {
          m.transform(spark, m.deps.map(d => d -> built(d)).toMap)
        }
        ctx.tracer.span("sources", "sources.TableWriter.materialize") {
          w.materialize(m.name, out)
        }
      }
      serialModelS(m.name) = (System.nanoTime() - t0) / 1e9
      built(m.name) = w.read(spark, m.name)
    }
    warehouses("serial") = dir
  }

  override def layerMetrics(): Map[String, Double] = {
    def family(p: String => Boolean) = serialModelS.filter(kv => p(kv._1)).values.sum
    val serialTotal = serialModelS.values.sum
    Map(
      "models.card_tx.s" -> family(_ == "card_transactions_model"),
      "models.classified.s" -> family(_ == "classified_card_transactions"),
      "models.card_merchants.s" -> family(_ == "card_merchants_model"),
      "models.spend.s" -> family(_.startsWith("spend_")),
      "models.flatten.s" -> family(_.endsWith("_flattened")),
      "models.metrics.s" -> family(_.startsWith("metrics_")),
      "models.entity.s" -> family(n => n.startsWith("recipes_") ||
        n.startsWith("plants_") || n.startsWith("workouts_")),
      "core.dag_overlap" ->
        (if (dagWallS.isEmpty || serialTotal == 0) 0.0
         else serialTotal / Stats.median(dagWallS.toSeq)))
  }

  /** `checkAll` runs here. The checks that compare whole warehouses
    * (per-model row count and content hash across builds, spend totals,
    * `metrics_month` vs the DuckDB oracle) are handed to run.py, which
    * makes them in DuckDB after the JVM exits.
    */
  def checks(): Seq[(String, () => Option[String])] = {
    val last = warehouses.getOrElse("last", warehouses("cold"))
    def str(s: String) = "\"" + Json.esc(s) + "\""
    val req = Seq(
      "inputs" -> str(inputDir.toString),
      "sql" -> str(HealthFixture.metricsOracleSql("month")),
      "models" -> registry.names.map(str).mkString("[", ",", "]"),
      "warehouses" -> warehouses.map { case (k, p) => s"${str(k)}:${str(p.toString)}" }
        .mkString("{", ",", "}"))
      .map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    Files.write(ctx.dir("dag_checks.json"), req.getBytes("UTF-8"))
    Seq("checkAll_zero" -> { () =>
      val w = new TableWriter(last.toString)
      val built = sources ++ registry.names.map(n => n -> w.read(spark, n))
      Option(ReferencePipeline.checkAll(built).filter(col("violations") =!= 0)
        .collect()).filter(_.nonEmpty).map(v => s"check violations: ${v.mkString(", ")}")
    })
  }
}

package graft.models

import graft.core.{Grain, Model, ModelRegistry}
import graft.operators.{RegexBank, Rollups}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.LocalDate

/** Wires the full reference DAG (27 models + 4 seeds; reference
  * target/graph_summary.json) as a ModelRegistry over this engine's
  * grain-parameterized transformations. Sources and seeds are supplied by
  * name; `runAll` builds every model through the one DAG runner
  * ([[graft.core.ModelRegistry.run]]), the engine analogue of `dbt run`.
  */
object ReferencePipeline {

  /** Explicit seed schemas (reference seed CSV headers; FIXTURES.md). */
  val accountsLeafSchema: StructType = StructType(Seq(
    StructField("account_id", StringType), StructField("gl_code", IntegerType),
    StructField("account_name", StringType), StructField("category", StringType),
    StructField("subcategory", StringType), StructField("billing_model", StringType),
    StructField("spend_nature", StringType), StructField("discretion", StringType),
    StructField("is_mandatory", StringType)))

  val merchantRegexSchema: StructType = StructType(Seq(
    StructField("regex_key", StringType), StructField("merchant_key", StringType),
    StructField("pattern_regex", StringType), StructField("priority", IntegerType),
    StructField("active_from", DateType), StructField("active_to", DateType),
    StructField("notes", StringType)))

  val merchantsSchema: StructType = StructType(Seq(
    StructField("merchant_key", StringType), StructField("merchant_name", StringType)))

  val merchantAccountMapSchema: StructType = StructType(Seq(
    StructField("merchant_key", StringType), StructField("account_id", StringType),
    StructField("is_default", StringType), StructField("effective_from", DateType),
    StructField("effective_to", DateType)))

  val grains: Seq[Grain] = Seq(Grain.Week, Grain.Month, Grain.Quarter, Grain.Year)

  /** Build the registry. Required source names: card_transactions,
    * exercise_log, recipe_log, shopping_log, weights, and seeds
    * accounts_leaf, merchant_regex, merchants, merchant_account_map.
    */
  def registry(asOf: LocalDate): ModelRegistry = {
    val reg = new ModelRegistry

    reg.register(Model("card_names") { (s, _) => CardModels.cardNames(s) })

    reg.register(Model("card_transactions_model", Seq("card_transactions")) {
      (_, in) => CardModels.cardTransactionsModel(in("card_transactions"))
    })

    reg.register(Model("classified_card_transactions",
      Seq("card_transactions", "merchant_regex", "merchants",
        "merchant_account_map", "accounts_leaf")) { (_, in) =>
      val rules = in("merchant_regex")
        .select("merchant_key", "pattern_regex", "priority")
        .collect()
        .map(r => RegexBank.Rule(r.getString(0), r.getString(1), r.getInt(2)))
        .toSeq
      val names = in("merchants").select("merchant_key", "merchant_name")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      CardModels.classifiedCardTransactions(
        in("card_transactions"), rules, in("merchants"),
        in("merchant_account_map"), in("accounts_leaf"), names)
    })

    // the legacy model classifies RAW transactions with its own 532-branch
    // inline CASE (full content in MerchantCase) — it does NOT read the
    // classified model (reference card_merchants_model.sql:625 selects
    // from public.card_transactions directly)
    reg.register(Model("card_merchants_model", Seq("card_transactions")) {
      (_, in) => MerchantCase.legacyMerchantsModel(in("card_transactions"))
    })

    // spend_* family (reference spend_daily..yearly): one parameterized model
    // per grain over the classified output, grouped by the reference's full
    // 10 keys (spend_daily.sql:2-12: date_period + merchant_name, category,
    // subcategory, billing_model, spend_nature, discretion, gl_code,
    // account_name, account_id).
    (Grain.Day +: grains).foreach { g =>
      reg.register(Model(s"spend_${g.key}", Seq("classified_card_transactions")) {
        (_, in) =>
          Rollups.measureRollup(in("classified_card_transactions"),
            col("date"), g,
            Seq("merchant_name", "category", "subcategory", "billing_model",
              "spend_nature", "discretion", "gl_code", "account_name",
              "account_id").map(n => n -> col(n)),
            Seq(sum(col("amount")).cast("double").as("total_spend")))
      })
    }

    reg.register(Model("exercise_log_flattened", Seq("exercise_log")) {
      (_, in) => HealthModels.exerciseLogFlattened(in("exercise_log"))
    })
    reg.register(Model("recipe_log_flattened", Seq("recipe_log")) {
      (_, in) => HealthModels.recipeLogFlattened(in("recipe_log"))
    })

    grains.foreach { g =>
      reg.register(Model(s"metrics_${g.key}",
        Seq("exercise_log", "weights", "recipe_log",
          "recipe_log_flattened", "shopping_log")) { (s, in) =>
        HealthModels.metrics(s, g, asOf, in("exercise_log"),
          in("weights"), in("recipe_log"), in("recipe_log_flattened"),
          in("shopping_log"))
      })
      reg.register(Model(s"recipes_${g.key}", Seq("recipe_log")) { (_, in) =>
        HealthModels.entityRollup(in("recipe_log"), "Date", "Dish", g)
      })
      reg.register(Model(s"plants_${g.key}", Seq("recipe_log_flattened")) { (_, in) =>
        HealthModels.entityRollup(in("recipe_log_flattened"), "Date", "plant", g)
      })
      reg.register(Model(s"workouts_${g.key}", Seq("exercise_log_flattened")) { (_, in) =>
        HealthModels.entityRollup(in("exercise_log_flattened"), "Date", "Exercise Label", g)
      })
    }

    reg
  }

  /** Run the whole DAG over the given sources (in memory, no writer). */
  def runAll(spark: SparkSession, sources: Map[String, DataFrame],
      asOf: LocalDate): Map[String, DataFrame] =
    registry(asOf).runAllParallel(spark, sources)

  /** Schema tests over the built DAG — the `dbt build` test phase the
    * reference never had (SURVEY §5). Returns one (model, check,
    * violations) row per check; all-zero violations = green.
    */
  def checkAll(built: Map[String, DataFrame]): DataFrame = {
    import graft.core.Checks
    val perModel: Seq[(String, Seq[Checks.Check])] = Seq(
      "classified_card_transactions" -> Seq(
        Checks.notNull("merchant_key"), Checks.notNull("merchant_name"),
        Checks.notNull("account_id"), Checks.notNull("category"),
        Checks.notNull("spend_nature")),
      "card_transactions_model" -> Seq(
        Checks.notNull("key"), Checks.notNull("clean_type")),
      "card_merchants_model" -> Seq(
        Checks.notNull("merchant_name_modified"),
        Checks.unique("merchant_name_modified")),
      "exercise_log_flattened" -> Seq(Checks.notNull("target_area")),
      "recipe_log_flattened" -> Seq(Checks.notNull("plant")))
    val reports = perModel.map { case (model, cks) =>
      Checks.run(built(model), cks)
        .select(org.apache.spark.sql.functions.lit(model).as("model"),
          org.apache.spark.sql.functions.col("check"),
          org.apache.spark.sql.functions.col("violations"))
    }
    reports.reduce(_ unionByName _)
  }
}

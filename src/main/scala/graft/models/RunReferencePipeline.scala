package graft.models

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.time.LocalDate

/** CLI runner for the reference-shaped DAG — the engine's `dbt run`.
  *
  * Usage: runMain graft.models.RunReferencePipeline <seedsDir> [asOfDate]
  * `seedsDir` must hold the 4 seed CSVs (accounts_leaf, merchant_regex,
  * merchants, merchant_account_map). Fact sources default to a small built-in
  * sample so the DAG is runnable standalone; point a real deployment at its
  * own parquet/CSV facts via ReferencePipeline.runAll directly.
  *
  * One path: [[graft.core.ModelRegistry.run]] builds every model on the
  * session's cores ([[graft.GraftSession.cores]]), independent subtrees in
  * parallel, and a status line per model follows (status, rows counted
  * after the run, seconds). With `SPARK_GRAFT_WAREHOUSE` set each model is
  * materialized there and dbt's `target/manifest.json` and
  * `target/run_results.json` are written under it. Exits 1 when a model
  * errored, as `dbt run` does.
  */
object RunReferencePipeline {
  def main(args: Array[String]): Unit = {
    // default: the bundled reference seed content (RefSeeds — the real
    // 795-rule bank); pass a directory to load 4 seed CSVs from disk
    val seedsDir = args.headOption
    val asOf = LocalDate.parse(
      if (args.length > 1) args(1) else "2022-03-15")
    val cpus = graft.GraftSession.cores
    val spark = graft.GraftSession.builder(cpus, "graft-reference-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // no dir argument → extract the bundled reference seeds (refseeds
    // resources, the real content) to a temp dir; ingest path is the same
    // loadSeedCsv either way
    val resolvedSeedsDir = seedsDir.getOrElse {
      val tmp = java.nio.file.Files.createTempDirectory("graft_seeds_")
      Seq("accounts_leaf", "merchant_regex", "merchants",
        "merchant_account_map").foreach { n =>
        val in = getClass.getResourceAsStream(s"/graft/refseeds/$n.csv")
        require(in != null, s"missing bundled seed $n")
        try java.nio.file.Files.copy(in, tmp.resolve(s"$n.csv"))
        finally in.close()
      }
      tmp.toString
    }
    def seed(name: String, schema: org.apache.spark.sql.types.StructType) =
      Tables.loadSeedCsv(spark, s"$resolvedSeedsDir/$name.csv", schema)

    val d = java.sql.Date.valueOf(_: String)
    val sources: Map[String, DataFrame] = Map(
      "accounts_leaf" -> seed("accounts_leaf", ReferencePipeline.accountsLeafSchema),
      "merchant_regex" -> seed("merchant_regex", ReferencePipeline.merchantRegexSchema),
      "merchants" -> seed("merchants", ReferencePipeline.merchantsSchema),
      "merchant_account_map" -> seed("merchant_account_map",
        ReferencePipeline.merchantAccountMapSchema),
      "card_transactions" -> Seq(
        ("s1", d("2022-01-10"), BigDecimal("120.00"), 3206, "WF WAYFAIR 1", null: String, null: String, null: String),
        ("s2", d("2022-02-11"), BigDecimal("6.50"), 3206, "SQ *CAFE 9", null: String, null: String, null: String),
        ("s3", d("2022-02-12"), BigDecimal("40.00"), 3221, "ONLINE PYMT", null: String, null: String, null: String))
        .toDF("key", "date", "amount", "card_last4", "description", "category", "type", "intermediate_key"),
      "exercise_log" -> Seq(
        (d("2022-01-05"), "Treadmill", "Cardio", "", 3.0, 300.0, 30.0, 0.0, 0.0),
        (d("2022-01-06"), "Bench Press", "Weights", "Chest, Arms", 0.0, 0.0, 0.0, 10.0, 3.0))
        .toDF("Date", "Exercise Label", "Type", "Target Areas", "Distance (mi)",
          "Calories", "Duration (min)", "Reps", "Sets"),
      "weights" -> Seq((d("2022-01-07"), 180.0)).toDF("Measurement Date", "Weight"),
      "recipe_log" -> Seq((d("2022-01-08"), "Curry", "Onion, Garlic", BigDecimal("12.50")))
        .toDF("Date", "Dish", "Plants", "Cost"),
      "shopping_log" -> Seq((d("2022-01-09"), "Onion", 3.0, BigDecimal("2.40")))
        .toDF("Date", "Ingredient", "Quantity", "Price"))

    // With SPARK_GRAFT_WAREHOUSE set, every model materializes to parquet
    // (dbt table semantics), dependents read the written tables, and dbt's
    // target/manifest.json + run_results.json land next to the warehouse.
    val writer = sys.env.get("SPARK_GRAFT_WAREHOUSE")
      .map(new graft.sources.TableWriter(_))
    val registry = ReferencePipeline.registry(asOf)
    // rollup outputs partition by their grain so downstream reads prune
    // periods instead of scanning history (SCALE.md); at daily loads the
    // spend family could also be run incremental = same set
    val partitioning = registry.names.filter(_.startsWith("spend_"))
      .map(_ -> Seq("date_period")).toMap
    val run = registry.run(spark, sources, writer, partitioning,
      maxParallel = cpus)
    val rows = graft.core.Artifacts.rowCounts(run)
    run.results.foreach { r =>
      println(f"${r.status.toUpperCase}%-8s ${r.name}%-32s " +
        f"${rows.getOrElse(r.name, 0L)}%6d rows  ${r.seconds}%.2f s")
    }
    writer.foreach { w =>
      graft.core.Artifacts.writeTargetDir(w.path("target"), registry, run, rows)
    }
    println(f"DAG complete: ${run.results.size} models in ${run.seconds}%.1f s" +
      writer.fold("")(w => s", artifacts in ${w.path("target")}"))
    spark.stop()
    if (run.results.exists(_.status == "error")) sys.exit(1)
  }
}

package graft.pipeline

import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI for the corpus-cleaning pipeline: prints per-language before/after
  * counts and the retention rate.
  *
  * Usage: runMain graft.pipeline.RunCorpusPipeline [sfDir]
  */
object RunCorpusPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(graft.GraftSession.cores,
      "graft-corpus-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.load(spark, sfDir, "documents")
    val cleaned = CorpusPipeline.clean(docs)

    val before = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
    val after = cleaned.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    val report = before.join(after, Seq("lang"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("retention",
        round(col("n_kept").cast("double") / col("n_in").cast("double"), 3))
      .orderBy("lang")
    report.collect().foreach { r =>
      println(f"LANG ${r.getString(0)}%-4s in=${r.getLong(1)}%5d " +
        f"kept=${r.getLong(2)}%5d retention=${r.getDouble(3)}")
    }
    val (tin, tkept) = (docs.count(), cleaned.count())
    println(f"CORPUS $tin docs -> $tkept kept (${100.0 * tkept / tin}%.1f%%)")
    spark.stop()
  }
}

package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for selected SparkEntry queries to
  * files — the per-round plan evidence (`plans/r<N>/<query>_{before,after}
  * .txt`). The query is MATERIALIZED first so AQE's final plan (coalesced
  * exchanges, runtime join strategy changes) is what gets recorded, not
  * the initial placeholder plan.
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix>
  *        [namePrefix,namePrefix,...]
  * writes <outDir>/<query>_<suffix>.txt per selected entry.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only: Option[Seq[String]] =
      if (args.length > 3) Some(args(3).split(",").toSeq) else None
    val spark = graft.GraftSession.builder(graft.GraftSession.cores,
        "graft-explain")
      .config("spark.sql.maxMetadataStringLength", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          try df.queryExecution.executedPlan.executeCollect()
          catch { case _: Throwable => () }
          val text = df.queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), text)
          println(s"[explain] wrote $outDir/${name}_$suffix.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** One-shot trainer for the bundled BPE merge table
  * (`resources/graft/bpe_merges.txt`).
  *
  *   runMain graft.tools.TrainBpe <documents.parquet> <numMerges> <out>
  *
  * The corpus-scale pass — word counting — runs distributed (explode +
  * groupBy); training then iterates over the collected vocabulary on the
  * driver, which is the production shape for BPE trainers: the
  * distinct-word vocabulary (with a frequency cutoff at real scale) is
  * orders of magnitude smaller than the corpus. Deterministic end to end
  * (exact counts, lexicographic tie-breaks in [[graft.functions.Bpe.train]]),
  * so re-running reproduces the committed table byte for byte.
  */
object TrainBpe {
  def main(args: Array[String]): Unit = {
    val Array(docsPath, numMerges, outPath) = args
    val spark = graft.GraftSession.builder(4, "graft-train-bpe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wordCounts = spark.read.parquet(docsPath)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val merges = graft.functions.Bpe.train(wordCounts, numMerges.toInt)
    val text = merges.map { case (a, b) => s"$a $b" }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), text)
    println(s"[train-bpe] ${merges.size} merges from ${wordCounts.size} words → $outPath")
    spark.stop()
  }
}

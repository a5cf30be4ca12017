package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated name prefixes, for fast local
    // iteration on a few queries (the driver always passes 2 args)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = GraftSession.builder(GraftSession.cores, "graft-verify")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must NOT silently vanish from the round's
    // correctness artifacts (round-6 post-mortem: 21 broken entries went
    // unreported because failures only hit stderr). Every failure lands in
    // $outDir/_failures.json so the driver can emit explicit `err` rows.
    // The process still exits 0 — the manifest (plus stderr) is the
    // failure channel, NOT the exit code; see the comment at the bottom.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[verify] $name FAILED: $msg")
          failures(name) = msg.linesIterator.take(3).mkString(" | ").take(500)
        }
      }
    }
    // every control char escaped (Artifacts.esc): a tab or CR in an
    // entry's SQL would otherwise make the file unparseable JSON
    def q(s: String): String = "\"" + graft.core.Artifacts.esc(s) + "\""
    SparkEntry.releaseSessionCaches()
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    spark.stop()
    if (failures.nonEmpty) {
      // loud but exit 0: the manifest is the failure channel — a nonzero
      // exit could make a harness discard the 99% of outputs that DID
      // write, which is the round-6 silent-shrink failure all over again
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED " +
          s"(see $outDir/_failures.json): " + failures.keys.mkString(", "))
    }
  }
}

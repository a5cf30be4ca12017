package perfbench

/** Starts a session the way [[Main]] does, runs one small query that
  * writes and reads parquet, and exits. The build runs it once with
  * `-XX:ArchiveClassesAtExit`, so every benchmark JVM maps the Spark and
  * library classes it needs from that class-data-sharing archive instead
  * of loading them from the ~290 jars of the classpath, as a deployed
  * service would.
  *
  * Usage: perfbench.ClassWarmup <scratch dir>
  */
object ClassWarmup {
  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(args(0)).toAbsolutePath
    System.setProperty("spark.hadoop.fs.file.impl",
      classOf[graft.core.CountingLocalFileSystem].getName)
    val spark = graft.GraftSession.local(2, "perfbench-warmup")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("id % 7 AS k", "id")
      .groupBy("k").count().write.mode("overwrite").parquet(out.toString)
    spark.read.parquet(out.toString).collect()
    spark.stop()
    Main.deleteTree(out)
  }
}

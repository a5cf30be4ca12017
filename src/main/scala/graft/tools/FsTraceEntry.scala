package graft.tools

/** Per-path FS-op breakdown of ONE SparkEntry query: runs the entry
  * under [[graft.core.CountingLocalFileSystem]] with SPARK_GRAFT_FS_TRACE
  * set and prints the metadata-call histogram — the §1/§6 "which paths
  * eat the fs_meta fingerprint" measurement that per-entry totals in
  * BENCH_FULL.json cannot answer.
  *
  * Usage: SPARK_GRAFT_FS_TRACE=1 runMain graft.tools.FsTraceEntry
  *          <sfDir> <entryName> [runs]
  */
object FsTraceEntry {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Bench.openSession()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Bench.warmUp(spark, sfDir)
    val fn = graft.SparkEntry.queries(name)
    (0 until runs).foreach { i =>
      if (i == runs - 1) graft.core.CountingLocalFileSystem.byPath.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      println(f"[run] $name pass $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    graft.core.CountingLocalFileSystem.dumpTrace().take(40).foreach {
      case (k, v) => println(f"[fs] $v%6d  $k")
    }
    graft.SparkEntry.releaseSessionCaches()
    spark.stop()
  }
}

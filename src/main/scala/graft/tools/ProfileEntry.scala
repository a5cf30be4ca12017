package graft.tools

/** Per-job timing breakdown of ONE SparkEntry query: runs the entry
  * exactly like Bench (same session settings, `.count()` action, cold +
  * steady pass) with a listener that prints every Spark job's duration,
  * task count, and call site — the §1 "where is the time actually going"
  * measurement for entries whose cost is many tiny jobs rather than one
  * big stage.
  *
  * Usage: runMain graft.tools.ProfileEntry <sfDir> <entryName> [runs]
  */
object ProfileEntry {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Bench.openSession()
    spark.sparkContext.setLogLevel("ERROR")

    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    @volatile var echo = false
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
          val ntasks = j.stageInfos.map(_.numTasks).sum
          jobStart.put(j.jobId, (System.nanoTime(), site, ntasks))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobStart.remove(j.jobId)).foreach { case (t0, site, nt) =>
            if (echo) {
              val ms = (System.nanoTime() - t0) / 1e6
              println(f"[job] ${j.jobId}%4d ${ms}%8.1f ms  tasks=$nt%4d  $site")
            }
          }
        }
      })

    graft.Bench.warmUp(spark, sfDir)

    val fn = graft.SparkEntry.queries(name)
    (0 until runs).foreach { i =>
      echo = i == runs - 1 // per-job echo on the steady pass only
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftBenchBridge.drainListenerBus(spark.sparkContext)
      println(f"[run] $name pass $i: $sec%.3f s")
    }
    graft.SparkEntry.releaseSessionCaches()
    spark.stop()
  }
}

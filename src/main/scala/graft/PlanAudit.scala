package graft

/** Prints condensed physical-plan diagnostics per query: scan schemas,
  * pushed filters, exchange count, join strategies. Used to audit that
  * filters/pruning reach the parquet scans and joins pick the intended
  * strategy — the 100 TB plan-shape review (run per round, not per build).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = if (args.length > 1) Some(args(1)) else None
    val spark = GraftSession.builder(4, "graft-plan-audit")
      // default 100 truncates scan metadata BEFORE PartitionFilters — the
      // audit must be able to show partition pruning (v7's lists scan)
      .config("spark.sql.maxMetadataStringLength", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(n.contains) }
      .foreach { case (name, fn) =>
        val df = fn(spark, sfDir)
        // materialize THIS QueryExecution first: AQE's executedPlan is the
        // INITIAL plan until it runs (count() would build a separate,
        // column-pruned execution and finalize nothing)
        try df.queryExecution.executedPlan.executeCollect()
        catch { case _: Throwable => () }
        val plan = df.queryExecution.executedPlan
        val s = plan.toString
        val scans = s.linesIterator.filter(l =>
          l.contains("ReadSchema") || l.contains("PushedFilters")).map(_.trim)
        val joins = s.linesIterator.filter(l =>
          l.contains("Join") || l.contains("BroadcastNestedLoop") ||
          l.contains("CartesianProduct")).map(_.trim.take(120))
        val nExchange = s.linesIterator.count(_.trim.startsWith("+- Exchange") )
        val nWsc = s.linesIterator.count(_.contains("WholeStageCodegen"))
        println(s"==== $name  exchanges~$nExchange wholestage=$nWsc")
        joins.foreach(j => println(s"  JOIN ${j}"))
        scans.foreach(sc => println(s"  SCAN $sc"))
      }
    spark.stop()
  }
}

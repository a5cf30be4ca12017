package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration: AQE on,
  * UTC (oracle parity), shuffle partitions sized to the machine instead of
  * the 200 default, and the graft SQL functions + optimizer rule installed.
  */
object GraftSession {

  /** The one session builder: every main and the test base start here and
    * add only their own extras with `.config(...)`.
    */
  def builder(cores: Int, appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession =
    install(builder(cores, appName).getOrCreate())

  /** Install graft SQL functions and optimizer rules on any live session
    * (cluster deployments should prefer
    * `--conf spark.sql.extensions=graft.GraftExtensions`).
    */
  def install(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(plans.RewriteDotProduct))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.RewriteDotProduct
    spark
  }
}

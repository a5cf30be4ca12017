package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration: AQE on,
  * UTC (oracle parity), shuffle partitions sized to the machine instead of
  * the 200 default, a generated-class cache that holds a whole DAG build,
  * and the graft SQL functions + optimizer rule installed.
  *
  * The class cache (`spark.sql.codegen.cache.maxEntries`) is JVM-wide and
  * Spark sizes it once, from the session conf alive at the JVM's first
  * codegen compile; a later session, or [[install]] on a session built
  * elsewhere, cannot resize it. Spark's default of 100 is smaller than one
  * build of the 27-model reference DAG, which uses ~250 distinct classes,
  * so an LRU of 100 evicts every class before the next build reuses it and
  * each nightly rebuild recompiles them all. Deployments that install the
  * engine through `spark.sql.extensions=graft.GraftExtensions` instead of
  * this builder need the same setting at submit time:
  * `--conf spark.sql.codegen.cache.maxEntries=800`.
  *
  * Artifact isolation (`spark.sql.artifact.isolation.enabled`) is off. The
  * engine adds no session artifacts (no `addArtifact`, no Spark Connect),
  * so isolation gives it nothing, and it costs a compile per class per
  * query: Spark keys the class cache by (class loader, code), and with
  * isolation on every session UUID gets its own executor class loader.
  * Each `StreamingQuery` runs on a cloned session with a fresh UUID, so
  * every streamed sync recompiled its task-side classes (74 of the 82 a
  * steady sync compiled). With it off, every session shares the default
  * loader, and a steady streamed sync compiles no class
  * (`CodegenCacheSpec`). Extension-installed deployments pass it at
  * submit time too: `--conf spark.sql.artifact.isolation.enabled=false`.
  * [[install]] does not set it. It is a runtime conf, but each session
  * reads it once, at its first job. Set with `spark.conf.set` on a live
  * session that has run jobs, it still reaches the sessions cloned
  * afterwards, so streaming queries started later share one loader
  * (measured); the live session keeps its own.
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
      // generated classes kept compiled. Measured working sets (distinct
      // classes of one run, set-up included): ~250 for a build of the
      // 27-model reference DAG, ~150 for the corpus dedup pipeline, ~300
      // for a served versioned table with index sync. 800 leaves room for
      // classes a run compiles once (per-step literals) and for the
      // cache's 4 independently evicting segments of 200 each
      .config("spark.sql.codegen.cache.maxEntries", "800")
      // one executor class loader for every session, streaming clones
      // included, so their classes hit the cache above; see the object doc
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** The mains' core count: `SPARK_GRAFT_CPUS` when set, otherwise every
    * available processor, as [[local]] defaults to.
    */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession =
    install(builder(cores, appName).getOrCreate())

  /** Install graft SQL functions and optimizer rules on any live session
    * (cluster deployments should prefer
    * `--conf spark.sql.extensions=graft.GraftExtensions`). It neither
    * sizes the generated-class cache nor turns artifact isolation off;
    * see the object doc.
    */
  def install(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(plans.RewriteDotProduct))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.RewriteDotProduct
    spark
  }
}

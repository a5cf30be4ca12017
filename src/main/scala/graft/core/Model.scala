package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** A named derived table in the transformation DAG — the Spark-native analogue
  * of a dbt model (reference dbt_project.yml:14-16 materializes every model as
  * a table; the DAG is reference target/graph_summary.json). `deps` play the
  * role of `ref()`: the runner resolves them topologically and passes the
  * already-built DataFrames in.
  */
trait Model {
  def name: String
  def deps: Seq[String] = Nil
  def transform(spark: SparkSession, in: Map[String, DataFrame]): DataFrame
}

object Model {
  /** Build an anonymous model from a function. */
  def apply(modelName: String, dependencies: Seq[String] = Nil)(
      fn: (SparkSession, Map[String, DataFrame]) => DataFrame): Model = new Model {
    val name = modelName
    override val deps = dependencies
    def transform(spark: SparkSession, in: Map[String, DataFrame]) = fn(spark, in)
  }
}

/** The engine's `dbt run` (reference logs/dbt.log:215 ran the 31-node DAG on
  * 1 thread): one scheduler, [[ModelRegistry.run]], builds every registered
  * model with independent subtrees running concurrently; serial is
  * `maxParallel = 1`. Each model's plan is optimized by Catalyst before any
  * write.
  */
object ModelRegistry {
  /** One model's outcome: `success`, `error` (with what it threw) or
    * `skipped` (a dependency did not build). `seconds` run from the start
    * of its `transform` to the end of its write.
    */
  final case class Result(name: String, status: String, seconds: Double,
      error: Option[Throwable] = None)

  /** One run: the sources plus every built model's frame, each model's
    * result in topological order, and the run's wall seconds.
    */
  final case class Run(built: Map[String, DataFrame], results: Seq[Result],
      seconds: Double)
}

final class ModelRegistry {
  import ModelRegistry.{Result, Run}

  private val models = mutable.LinkedHashMap.empty[String, Model]

  def register(m: Model): this.type = { models.put(m.name, m); this }
  def get(name: String): Option[Model] = models.get(name)
  def names: Seq[String] = models.keys.toSeq

  /** Dependency-respecting order over all registered models (stable: keeps
    * registration order among independent nodes). Sources (deps not
    * registered as models) are expected in `sources`.
    */
  def topoOrder: Seq[Model] = {
    val order = mutable.ArrayBuffer.empty[Model]
    val state = mutable.Map.empty[String, Int] // 0=unseen 1=visiting 2=done
    def visit(n: String): Unit = models.get(n).foreach { m =>
      state.getOrElse(n, 0) match {
        case 2 => ()
        case 1 => throw new IllegalStateException(s"cycle at model $n")
        case _ =>
          state(n) = 1
          m.deps.foreach(visit)
          state(n) = 2
          order += m
      }
    }
    models.keys.foreach(visit)
    order.toSeq
  }

  /** Build every model, continuing past failures the way `dbt run` does: a
    * model that throws is an `error`, its transitive dependents are
    * `skipped`, and independent subtrees still build. Each model is a
    * memoized future gated on its dependencies' futures, on a pool of
    * `maxParallel` threads; Spark job submission is thread-safe, so
    * concurrent writers keep the cluster busy while long models build.
    * Scheduling changes wall-clock, not output. Returns once every model
    * has settled.
    *
    * With a `writer`, each model is physically written (S3 table
    * materialization) and dependents read the materialized table — dbt's
    * table semantics, and at scale the write acts as a stage barrier that
    * truncates lineage per model. Models listed in `incremental` use dbt's
    * incremental-by-partition semantics (dynamic-partition overwrite: only
    * the partitions present in this build are rewritten); everything else
    * is a full table rebuild.
    */
  def run(spark: SparkSession, sources: Map[String, DataFrame],
      writer: Option[graft.sources.TableWriter] = None,
      partitioning: Map[String, Seq[String]] = Map.empty,
      maxParallel: Int = 4,
      incremental: Set[String] = Set.empty): Run = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(maxParallel)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = mutable.Map.empty[String, Future[(Result, Option[DataFrame])]]
      def futureFor(m: Model): Future[(Result, Option[DataFrame])] = synchronized {
        futures.getOrElseUpdate(m.name, {
          val depFs = m.deps.flatMap(models.get).map(futureFor)
          Future.sequence(depFs).map { deps =>
            if (deps.exists(_._2.isEmpty)) (Result(m.name, "skipped", 0.0), None)
            else {
              val t = System.nanoTime()
              def secs = (System.nanoTime() - t) / 1e9
              try {
                val built = deps.map { case (r, df) => r.name -> df.get }.toMap
                val in = m.deps.map { d =>
                  d -> built.getOrElse(d, sources.getOrElse(d,
                    throw new IllegalArgumentException(
                      s"model ${m.name}: unresolved dep $d")))
                }.toMap
                val out = m.transform(spark, in)
                writer.foreach { w =>
                  val parts = partitioning.getOrElse(m.name, Nil)
                  if (incremental.contains(m.name)) {
                    require(parts.nonEmpty,
                      s"incremental model ${m.name} needs partition columns")
                    w.upsertPartitions(out, m.name, parts)
                  } else w.materialize(m.name, out, parts)
                }
                val seconds = secs
                // the read-back takes the schema of the frame just
                // written: no footer-inference job per model
                (Result(m.name, "success", seconds),
                  Some(writer.fold(out)(_.read(spark, m.name, out.schema))))
              } catch {
                case NonFatal(e) => (Result(m.name, "error", secs, Some(e)), None)
              }
            }
          }
        })
      }
      val all = topoOrder.map(futureFor)
      val settled = all.map(f => Await.result(f, Duration.Inf))
      Run(sources ++ settled.collect { case (r, Some(df)) => r.name -> df },
        settled.map(_._1), (System.nanoTime() - t0) / 1e9)
    } finally pool.shutdown()
  }

  /** [[run]], throwing: once every started model has settled (so no
    * sibling is still writing when the caller sees it), the first failure
    * in topological order is rethrown. Returns the sources plus every
    * built frame by name.
    */
  def runAllParallel(spark: SparkSession, sources: Map[String, DataFrame],
      writer: Option[graft.sources.TableWriter] = None,
      partitioning: Map[String, Seq[String]] = Map.empty,
      maxParallel: Int = 4,
      incremental: Set[String] = Set.empty): Map[String, DataFrame] = {
    val r = run(spark, sources, writer, partitioning, maxParallel, incremental)
    r.results.flatMap(_.error).headOption.foreach(e => throw e)
    r.built
  }
}

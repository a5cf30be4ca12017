package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

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

/** Topological runner over registered models — the engine-side replacement for
  * `dbt run` (reference logs/dbt.log:215 ran the 31-node DAG on 1 thread; here
  * independent subtrees could run concurrently, and each model's plan is
  * optimized by Catalyst before any write).
  */
object ModelRegistry {
  /** One write of one model — shared by every runner (serial, parallel,
    * artifact-capturing). Models listed in `incremental` use dbt's
    * incremental-by-partition semantics (dynamic-partition overwrite:
    * only the partitions present in this build are rewritten); everything
    * else is a full table rebuild.
    */
  private[graft] def writeModel(w: graft.sources.TableWriter, name: String,
      out: DataFrame, partitioning: Map[String, Seq[String]],
      incremental: Set[String]): Unit = {
    val parts = partitioning.getOrElse(name, Nil)
    if (incremental.contains(name)) {
      require(parts.nonEmpty,
        s"incremental model $name needs partition columns")
      w.upsertPartitions(out, name, parts)
    } else w.materialize(name, out, parts)
  }
}

final class ModelRegistry {
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

  /** Materialize every model in dependency order. `sources` seeds the
    * resolution map; each model's output becomes available to its dependents
    * under its name. Returns all built frames by name.
    *
    * With a `writer`, each model is physically written (S3 table
    * materialization) and dependents read the materialized table — exactly
    * dbt's table semantics, and at scale the write acts as a stage barrier
    * that truncates lineage per model.
    */
  def runAll(spark: SparkSession, sources: Map[String, DataFrame],
      writer: Option[graft.sources.TableWriter] = None,
      partitioning: Map[String, Seq[String]] = Map.empty,
      incremental: Set[String] = Set.empty): Map[String, DataFrame] = {
    val built = mutable.Map[String, DataFrame](sources.toSeq: _*)
    topoOrder.foreach { m =>
      val in = m.deps.map { d =>
        d -> built.getOrElse(d,
          throw new IllegalArgumentException(s"model ${m.name}: unresolved dep $d"))
      }.toMap
      val out = m.transform(spark, in)
      built(m.name) = writer match {
        case Some(w) =>
          ModelRegistry.writeModel(w, m.name, out, partitioning, incremental)
          w.read(spark, m.name)
        case None => out
      }
    }
    built.toMap
  }

  /** Parallel `dbt build`: independent DAG subtrees materialize
    * concurrently (the reference ran its 31-node DAG on 1 thread —
    * logs/dbt.log:215). Each model becomes a memoized future gated on its
    * dependencies' futures; Spark job submission is thread-safe, so
    * concurrent writers keep the cluster busy while long models build.
    * Results are identical to [[runAll]] — scheduling changes wall-clock,
    * not output (ModelRegistrySpec pins both). On failure every started
    * model settles before the first failure in topological order is
    * rethrown, so no sibling is still writing when the caller sees it.
    */
  def runAllParallel(spark: SparkSession, sources: Map[String, DataFrame],
      writer: Option[graft.sources.TableWriter] = None,
      partitioning: Map[String, Seq[String]] = Map.empty,
      maxParallel: Int = 4,
      incremental: Set[String] = Set.empty): Map[String, DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(maxParallel)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = mutable.Map.empty[String, Future[DataFrame]]
      def futureFor(m: Model): Future[DataFrame] = synchronized {
        futures.getOrElseUpdate(m.name, {
          val depFs = m.deps.map { d =>
            models.get(d) match {
              case Some(dm) => futureFor(dm).map(d -> _)
              case None => sources.get(d) match {
                case Some(df) => Future.successful(d -> df)
                // failed, not thrown: the models already started must settle
                case None => Future.failed(new IllegalArgumentException(
                  s"model ${m.name}: unresolved dep $d"))
              }
            }
          }
          Future.sequence(depFs).map { ins =>
            val out = m.transform(spark, ins.toMap)
            writer match {
              case Some(w) =>
                ModelRegistry.writeModel(w, m.name, out, partitioning,
                  incremental)
                w.read(spark, m.name)
              case None => out
            }
          }
        })
      }
      val all = topoOrder.map(m => m.name -> futureFor(m))
      all.foreach { case (_, f) => Await.ready(f, Duration.Inf) }
      val builtModels = all.map { case (n, f) => n -> f.value.get.get }
      sources ++ builtModels
    } finally pool.shutdown()
  }
}

package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload shares with the driver loop in [[Main]]. */
final class Ctx(val spark: SparkSession, val cores: Int, val work: Path,
    val seed: Long, val tracer: Tracer, val probe: Option[Probe]) {

  /** Timed samples by metric name, in ms unless the name says otherwise. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** Per-layer samples, collected on traced iterations only. */
  val layer: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** True while the current iteration is traced. */
  @volatile var traced = false
  /** False during set-up and the cold iteration: their samples are not
    * steady-state latencies.
    */
  @volatile var recording = false

  def record(name: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def recordLayer(name: String, v: Double): Unit =
    if (traced) layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Time `body` in ms and record it under `metric`. */
  def timed[T](metric: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    record(metric, (System.nanoTime() - t0) / 1e6)
    out
  }

  /** Run `body` inside a span. On traced iterations also fold its
    * counter deltas into the iteration's sums, and record the per-layer
    * samples `report` names: reported metric → probe counter, or
    * [[Ctx.Wall]] for the call's wall time in ms.
    */
  def call[T](layerName: String, name: String,
      report: Seq[(String, String)] = Nil)(body: => T): T =
    tracer.span(layerName, name) {
      probe match {
        case Some(p) if traced =>
          val (out, ms, d) = p.measure(body)
          report.foreach { case (metric, counter) =>
            recordLayer(metric,
              if (counter == Ctx.Wall) ms else d.getOrElse(counter, 0L).toDouble)
          }
          recordOp(ms, d)
          out
        case _ => body
      }
    }

  /** Counter sums of the traced calls of the current iteration. */
  private val iterAcc = mutable.LinkedHashMap.empty[String, Double]

  def beginIteration(): Unit = iterAcc.clear()

  /** Fold the iteration's counter sums into per-layer samples. */
  def endIteration(): Unit = if (traced && iterAcc.nonEmpty) {
    iterAcc.foreach { case (k, v) => recordLayer(k, v) }
    val wall = iterAcc.getOrElse("op.wall_ms", 0.0)
    if (wall > 0)
      recordLayer("spark.slot_util",
        iterAcc.getOrElse("spark.exec_run_ms", 0.0) / (wall * cores))
  }

  /** Per-operation Spark, driver and FS counters of one traced call,
    * summed over the iteration.
    */
  private def recordOp(ms: Double, d: Map[String, Long]): Unit = {
    def acc(k: String, v: Double): Unit = iterAcc(k) = iterAcc.getOrElse(k, 0.0) + v
    Ctx.OpCounters.foreach(k => acc(k, d.getOrElse(k, 0L).toDouble))
    acc("driver.outside_jobs_ms",
      math.max(0.0, ms - d.getOrElse("spark.jobs_busy_ms", 0L)))
    acc("op.wall_ms", ms)
  }

  def dir(name: String): Path = work.resolve(name)

  def freshDir(name: String): Path = {
    val p = dir(name)
    Main.deleteTree(p)
    Files.createDirectories(p.getParent)
    p
  }
}

object Ctx {
  /** The counter name [[Ctx.call]] reads as the call's wall time. */
  val Wall = "wall_ms"
  /** Counters summed per iteration over the traced calls. */
  val OpCounters: Seq[String] = Seq("spark.plan_ms", "spark.codegen_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_ms",
    "spark.exec_run_ms", "spark.exec_cpu_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "jvm.gc_ms",
    "fs.create", "fs.rename", "fs.delete", "fs.meta", "fs.open")
}

/** One closed-loop workload: one client, next iteration only after the
  * previous one returned.
  */
trait Workload {
  def name: String
  /** Set-up repetitions per run; `setup_s` reports their median. */
  def setupReps: Int = 3
  /** Steady iterations a run makes at least, however short `--seconds`. */
  def minSteady: Int = 1
  /** Generate inputs and bootstrap state; called once per set-up
    * repetition, each from scratch. Returns the input sizes.
    */
  def setup(rep: Int): Gen.Sizes
  /** One iteration; returns the rows it moved (for rows_per_s). */
  def step(i: Int): Long
  /** Correctness checks, run outside the timed region: name and a
    * check that returns its failure, if any.
    */
  def checks(): Seq[(String, () => Option[String])]
  /** Extra untimed work of a traced run (serial drives and the like). */
  def traceExtras(): Unit = ()
  /** Per-layer metrics of a traced run, from the collected samples. */
  def layerMetrics(): Map[String, Double] = Map.empty
}

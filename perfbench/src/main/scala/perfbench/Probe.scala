package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from outside the library: a Spark listener for jobs,
  * stages and task metrics, a query-execution listener for planning
  * phases, Spark's codegen compile-time accumulator, the counting local
  * file system and the JVM's GC beans. [[snapshot]] drains the listener
  * bus first,
  * so a delta of two snapshots covers exactly the calls between them.
  */
final class Probe(spark: SparkSession) {
  private val c = scala.collection.mutable.LinkedHashMap(
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_ms",
      "spark.exec_run_ms", "spark.exec_cpu_ms", "spark.shuffle_read_bytes",
      "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.plan_ms")
      .map(_ -> new AtomicLong): _*)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** Wall time during which at least one job ran, folded as jobs end. */
  private val busy = new Object
  private var running = 0
  private var busySince = 0L
  private var busyNs = 0L

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      busy.synchronized {
        if (running == 0) busySince = System.nanoTime()
        running += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      add("spark.jobs", 1)
      Option(jobStart.remove(e.jobId)).foreach(t0 => add("spark.job_wall_ms", e.time - t0))
      busy.synchronized {
        running -= 1
        if (running == 0) busyNs += System.nanoTime() - busySince
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("spark.stages", 1)
      add("spark.tasks", e.stageInfo.numTasks.toLong)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        add("spark.exec_run_ms", m.executorRunTime)
        add("spark.exec_cpu_ms", m.executorCpuTime / 1000000L)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
    private def plan(qe: QueryExecution): Unit =
      add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Spark's cumulative codegen compile time (a JVM-wide accumulator,
    * nanoseconds), in ms.
    */
  private def codegenMs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000000L

  def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def snapshot(): Map[String, Long] = {
    org.apache.spark.GraftBenchBridge.drainListenerBus(spark.sparkContext)
    val fs = graft.core.CountingLocalFileSystem.snapshot()
    val busyNow = busy.synchronized {
      busyNs + (if (running > 0) System.nanoTime() - busySince else 0L)
    }
    c.map { case (k, v) => k -> v.get }.toMap ++ Map(
      "spark.codegen_ms" -> codegenMs,
      "jvm.gc_ms" -> gcMs,
      "spark.jobs_busy_ms" -> busyNow / 1000000L,
      "fs.meta" -> fs.getOrElse("fs_meta", 0L),
      "fs.open" -> fs.getOrElse("fs_open", 0L),
      "fs.create" -> fs.getOrElse("fs_create", 0L),
      "fs.rename" -> fs.getOrElse("fs_rename", 0L),
      "fs.delete" -> fs.getOrElse("fs_delete", 0L),
      "fs.mkdirs" -> fs.getOrElse("fs_mkdirs", 0L))
  }

  /** Run `body`, returning its result, wall ms and counter deltas. */
  def measure[T](body: => T): (T, Double, Map[String, Long]) = {
    val before = snapshot()
    val t0 = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - t0) / 1e6
    val after = snapshot()
    (out, ms, after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) })
  }
}

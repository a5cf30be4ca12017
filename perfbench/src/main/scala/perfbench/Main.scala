package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Benchmark entry point: one workload, one seed, one process.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--cores <n>]
  *
  * Order of a run: session and set-up (repeated, median reported as
  * `setup_s`), one cold iteration (`cold_s`), steady iterations until
  * `--seconds` have passed, then the correctness checks. The last
  * stdout line is one JSON object with the metrics; the lines before it
  * are the human-readable report.
  */
object Main {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  def readTsv(spark: SparkSession, p: Path, schema: StructType): DataFrame =
    spark.read.option("sep", "\t").option("header", "true")
      .option("quote", "").option("nullValue", Gen.Null)
      .schema(schema).csv(p.toString)

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse("perfbench-work"))
      .toAbsolutePath
    val cores = arg(args, "--cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    deleteTree(work)
    Files.createDirectories(work)

    // count local FS calls (the library's own instrument); set before the
    // session so every FileSystem instance it creates counts
    System.setProperty("spark.hadoop.fs.file.impl",
      classOf[graft.core.CountingLocalFileSystem].getName)
    val spark = graft.GraftSession.local(cores, s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(trace)
    val probe = if (trace) Some(new Probe(spark)) else None
    val ctx = new Ctx(spark, cores, work, seed, tracer, probe)
    val w: Workload = workload match {
      case "dag_nightly" => new DagNightly(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case "table_serve" => new TableServe(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    def say(s: String): Unit = println(s"# $s")

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]

    // ---- set-up, repeated from scratch; the last one is kept
    val setupS = (0 until w.setupReps).map { rep =>
      val s0 = System.nanoTime()
      val sizes = w.setup(rep)
      if (rep == 0) say(s"inputs seed=$seed ${sizes.render}")
      (System.nanoTime() - s0) / 1e9
    }
    say(f"session_s=$sessionS%.3f setup_reps_s=${setupS.map(s => f"$s%.3f").mkString(",")}")

    // ---- cold iteration, then steady iterations
    def runStep(i: Int): Option[(Double, Long)] = {
      attempted += 1
      tracer.request = i
      ctx.beginIteration()
      val s0 = System.nanoTime()
      try {
        val rows = tracer.span("bench", s"bench.iteration") { w.step(i) }
        val s = (System.nanoTime() - s0) / 1e9
        ctx.endIteration()
        Some((s, rows))
      } catch {
        case e: Throwable =>
          failed += 1
          failures += s"iteration $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }
    val cold = runStep(0)
    val coldS = cold.map(_._1).getOrElse(Double.NaN)

    val steady = mutable.ArrayBuffer.empty[(Double, Long, Boolean)]
    val loopStart = System.nanoTime()
    var i = 1
    var broken = cold.isEmpty
    ctx.recording = true
    // traced runs alternate untraced and traced iterations, so the same
    // run measures the tracing overhead; they need one of each
    val minSteady = if (trace) math.max(2, w.minSteady) else w.minSteady
    while (!broken && (steady.size < minSteady ||
        (System.nanoTime() - loopStart) / 1e9 < seconds)) {
      ctx.traced = trace && i % 2 == 0
      runStep(i) match {
        case Some((s, rows)) =>
          steady += ((s, rows, ctx.traced))
          say(f"iteration $i took $s%.3f s")
        case None => broken = true
      }
      i += 1
    }
    ctx.traced = false
    ctx.recording = false
    val steadyS = (System.nanoTime() - loopStart) / 1e9

    if (trace && !broken) {
      ctx.traced = true
      tracer.request = -1
      try tracer.span("bench", "bench.extras")(w.traceExtras())
      catch {
        case e: Throwable =>
          failed += 1
          failures += s"trace extras: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      ctx.traced = false
    }

    // ---- correctness, outside the timed region
    def failure(e: Throwable) = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    val checks: Seq[(String, () => Option[String])] =
      if (broken) Nil
      else try w.checks() catch { case e: Throwable => Seq("checks" -> (() => failure(e))) }
    checks.foreach { case (n, check) =>
      attempted += 1
      val c0 = System.nanoTime()
      val f = try check() catch { case e: Throwable => failure(e) }
      f.foreach { msg => failed += 1; failures += s"check $n: $msg" }
      say(f"check $n ${if (f.isEmpty) "ok" else "FAILED"} (${(System.nanoTime() - c0) / 1e9}%.2f s)")
    }
    failures.foreach(f => say(s"failure: $f"))

    // ---- metrics
    val untraced = steady.filterNot(_._3)
    val basis = if (untraced.nonEmpty) untraced else steady
    val rowsPerS =
      if (basis.isEmpty) Double.NaN
      else Stats.median(basis.map { case (s, r, _) => r / s }.toSeq)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> ((sessionS + Stats.median(setupS), "s")),
      "cold_s" -> ((coldS, "s")),
      "rows_per_s" -> ((rowsPerS, "rows/s")))
    say(f"steady iterations=${steady.size} (${untraced.size} untraced) in $steadyS%.2f s")
    val pretty = mutable.ArrayBuffer.empty[String]
    e2e.foreach { case (k, (v, u)) => pretty += f"$k=$v%.4f $u" }
    Seq("commit_ms", "fresh_ms", "agg_ms", "lookup_ms", "search_ms").foreach { m =>
      ctx.samples.get(m).filter(_.nonEmpty) match {
        case Some(xs) =>
          pretty += f"${m}_p50=${Stats.median(xs.toSeq)}%.2f ms (n=${xs.size})"
          pretty += (Stats.tail(xs.toSeq) match {
            case Some(t) => f"${m}_tail=${t.value}%.2f ms (p${t.pct}%.1f, ${t.beyond} beyond, n=${t.n})"
            case None => s"${m}_tail=n/a ms (n=${xs.size} < ${Stats.MinBeyond + 1})"
          })
        case None =>
          pretty += s"${m}_p50=n/a ms"; pretty += s"${m}_tail=n/a ms"
      }
    }
    // failed_ratio is printed by run.py, which may add checks of its own
    pretty.foreach(p => say(s"metric $p"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else {
        val lm = Layers.metrics(ctx, w, steady.toSeq, e2e.toMap)
        lm.foreach { case (k, v, u) => say(f"layer $k=$v%.4f $u") }
        tracer.writeJson(work.resolve("spans.json"))
        say(s"spans written to ${work.resolve("spans.json")}")
        lm
      }

    val json = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${Json.num(v)},"unit":"${Json.esc(u)}"}"""
    }.mkString("{", ",", "}")
    val correct = failed == 0
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$json}""")
    spark.stop()
  }
}

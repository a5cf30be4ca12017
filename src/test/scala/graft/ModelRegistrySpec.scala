package graft

import graft.core.{Model, ModelRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicInteger

class ModelRegistrySpec extends SparkSpec {
  import spark.implicits._

  /** Diamond DAG: src -> (a, b independent) -> join. */
  private def diamond(running: AtomicInteger, peak: AtomicInteger): ModelRegistry = {
    def track[T](f: => T): T = {
      val now = running.incrementAndGet()
      peak.updateAndGet(p => math.max(p, now))
      try { Thread.sleep(300); f } finally running.decrementAndGet()
    }
    val reg = new ModelRegistry
    reg.register(Model("a", Seq("src")) { (_, in) =>
      track(in("src").withColumn("a", col("x") * 2))
    })
    reg.register(Model("b", Seq("src")) { (_, in) =>
      track(in("src").withColumn("b", col("x") * 3))
    })
    reg.register(Model("joined", Seq("a", "b")) { (_, in) =>
      in("a").join(in("b"), "x")
    })
    reg
  }

  private lazy val src: DataFrame = (1 to 10).map(_.toLong).toDF("x")

  test("parallel runner produces the same results as the serial runner") {
    val serial = diamond(new AtomicInteger, new AtomicInteger)
      .runAllParallel(spark, Map("src" -> src), maxParallel = 1)
    val parallel = diamond(new AtomicInteger, new AtomicInteger)
      .runAllParallel(spark, Map("src" -> src))
    val s = serial("joined").orderBy("x").collect().map(_.toString)
    val p = parallel("joined").orderBy("x").collect().map(_.toString)
    assert(s.sameElements(p))
  }

  test("independent subtrees actually run concurrently") {
    val running = new AtomicInteger
    val peak = new AtomicInteger
    diamond(running, peak).runAllParallel(spark, Map("src" -> src))
    assert(peak.get() >= 2, s"peak concurrency was ${peak.get()}")
    // and maxParallel = 1 never overlaps
    val sRunning = new AtomicInteger
    val sPeak = new AtomicInteger
    diamond(sRunning, sPeak).runAllParallel(spark, Map("src" -> src),
      maxParallel = 1)
    assert(sPeak.get() == 1)
  }

  test("unresolved dependency fails with a clear error on both paths") {
    val reg = new ModelRegistry
    reg.register(Model("m", Seq("missing")) { (_, in) => in("missing") })
    intercept[IllegalArgumentException] {
      reg.runAllParallel(spark, Map.empty, maxParallel = 1)
    }
    intercept[IllegalArgumentException] {
      reg.runAllParallel(spark, Map.empty)
    }
  }

  test("parallel runner throws only after every started sibling settled") {
    val reg = new ModelRegistry
    reg.register(Model("boom", Seq("src")) { (_, _) =>
      throw new IllegalStateException("boom")
    })
    reg.register(Model("slow", Seq("src")) { (_, in) =>
      Thread.sleep(1500); in("src")
    })
    val wh = java.nio.file.Files.createTempDirectory("graft_par_fail_").toString
    val err = intercept[IllegalStateException] {
      reg.runAllParallel(spark, Map("src" -> src),
        Some(new graft.sources.TableWriter(wh)))
    }
    assert(err.getMessage == "boom")
    // the independent sibling finished its write before the call threw
    assert(spark.read.parquet(s"$wh/slow").count() == 10L)
  }

  test("incremental model: re-run rewrites only the arriving partitions") {
    val reg = new ModelRegistry
    reg.register(Model("daily", Seq("src")) { (_, in) =>
      in("src").groupBy(col("day"))
        .agg(sum(col("x")).cast("long").as("total"))
    })
    val wh = java.nio.file.Files.createTempDirectory("graft_inc_").toString
    val w = new graft.sources.TableWriter(wh)
    val parts = Map("daily" -> Seq("day"))
    val inc = Set("daily")

    val full = Seq(("d1", 1L), ("d1", 2L), ("d2", 10L)).toDF("day", "x")
    reg.runAllParallel(spark, Map("src" -> full), Some(w), parts,
      incremental = inc)
    // incremental day-2 reload with corrected data; day-1 must survive
    val day2 = Seq(("d2", 99L)).toDF("day", "x")
    reg.runAllParallel(spark, Map("src" -> day2), Some(w), parts,
      incremental = inc)

    val got = w.read(spark, "daily").as[(Long, String)].collect()
      .map(_.swap).toMap
    assert(got == Map("d1" -> 3L, "d2" -> 99L))

    // a FULL rebuild from the day-2-only source would drop day 1
    reg.runAllParallel(spark, Map("src" -> day2), Some(w), parts)
    assert(w.read(spark, "daily").count() == 1)

    // incremental without partition columns is a hard error
    val noParts = new ModelRegistry
    noParts.register(Model("daily", Seq("src")) { (_, in) => in("src") })
    intercept[IllegalArgumentException] {
      noParts.runAllParallel(spark, Map("src" -> day2), Some(w),
        incremental = Set("daily"))
    }
  }

  test("artifacts run: statuses, dependent skipping, manifest/run_results") {
    import graft.core.Artifacts
    val reg = new ModelRegistry
    reg.register(Model("good", Seq("src")) { (_, in) =>
      in("src").withColumn("y", col("x") + 1)
    })
    reg.register(Model("bad", Seq("src")) { (_, in) =>
      in("src").select(col("no_such_column"))
    })
    reg.register(Model("downstream", Seq("bad")) { (_, in) => in("bad") })
    reg.register(Model("independent", Seq("good")) { (_, in) => in("good") })

    val wh = java.nio.file.Files.createTempDirectory("graft_art_").toString
    val run = reg.run(spark, Map("src" -> src),
      Some(new graft.sources.TableWriter(wh)))
    val built = run.built
    val rows = Artifacts.rowCounts(run)

    val byName = run.results.map(r => r.name -> r).toMap
    assert(byName("good").status == "success" && rows("good") == 10L)
    assert(byName("bad").status == "error" && byName("bad").error.nonEmpty)
    assert(byName("downstream").status == "skipped")
    // the failure doesn't poison the independent subtree (dbt run semantics)
    assert(byName("independent").status == "success")
    assert(built.contains("good") && !built.contains("bad"))
    // materialized read-back, not the lazy plan
    assert(spark.read.parquet(s"$wh/good").count() == 10L)

    Artifacts.writeTargetDir(s"$wh/target", reg, run, rows)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$wh/target/manifest.json")), "UTF-8")
    assert(manifest.contains("\"name\": \"downstream\""))
    assert(manifest.contains("\"depends_on\": [\"bad\"]"))
    val rr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$wh/target/run_results.json")), "UTF-8")
    assert(rr.contains("\"status\": \"skipped\""))
    assert(rr.contains("\"status\": \"error\"") && rr.contains("message"))
    assert(rr.contains("elapsed_time"))
  }

  test("run_results elapsed_time is the run's wall time, not the node sum") {
    val reg = diamond(new AtomicInteger, new AtomicInteger)
    val run = reg.run(spark, Map("src" -> src))
    val nodeSum = run.results.map(_.seconds).sum
    assert(run.results.forall(_.status == "success"))
    // a and b overlap, so the run is shorter than its nodes' total
    assert(run.seconds < nodeSum, s"run ${run.seconds} s vs nodes $nodeSum s")
    val json = graft.core.Artifacts.runResultsJson(run,
      graft.core.Artifacts.rowCounts(run))
    val elapsed = "\"elapsed_time\": ([0-9.]+)".r
      .findFirstMatchIn(json).get.group(1).toDouble
    val nodes = "\"execution_time\": ([0-9.]+)".r
      .findAllMatchIn(json).map(_.group(1).toDouble).sum
    // margin: per-node rounding to ms must not make a serial sum pass
    assert(elapsed < nodes - 0.1, json)
  }
}

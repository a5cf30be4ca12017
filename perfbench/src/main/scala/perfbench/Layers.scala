package perfbench

/** The per-layer metrics of a traced run. Every workload reports every
  * name; a layer a workload does not call reads 0.
  */
object Layers {

  /** Layers whose span self time is reported per traced iteration. */
  val SpanLayers: Seq[String] =
    Seq("bench", "core", "operators", "sources", "plans", "pipeline")

  /** Every per-layer metric with its unit, in report order. A name's
    * value is the one the workload computes itself, else the median of
    * its samples in [[Ctx.layer]], else one derived here from spans.
    */
  val Units: Seq[(String, String)] = Seq(
    "models.card_tx.s" -> "s", "models.classified.s" -> "s",
    "models.card_merchants.s" -> "s", "models.spend.s" -> "s",
    "models.flatten.s" -> "s", "models.metrics.s" -> "s",
    "models.entity.s" -> "s", "core.dag_overlap" -> "ratio",
    "dedup.decontam.s" -> "s", "percentiles.band.s" -> "s",
    "dedup.minhash.s" -> "s", "dedup.verify.s" -> "s", "dedup.apply.s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.kept_docs" -> "count", "dedup.verify_yield" -> "ratio",
    "rewrite.hit_ratio" -> "ratio",
    "spark.plan_ms" -> "ms", "spark.codegen_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.job_wall_ms" -> "ms",
    "driver.outside_jobs_ms" -> "ms", "spark.exec_run_ms" -> "ms",
    "spark.exec_cpu_ms" -> "ms", "spark.slot_util" -> "ratio",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "jvm.gc_ms" -> "ms",
    "fs.create" -> "count", "fs.rename" -> "count", "fs.delete" -> "count",
    "fs.meta" -> "count", "fs.open" -> "count",
    "vt.commit.ms" -> "ms", "vt.fs_meta_per_commit" -> "count",
    "vt.fs_rename_per_commit" -> "count", "vt.jobs_per_commit" -> "count",
    "vt.manifest_bytes" -> "bytes", "mv.refresh.ms" -> "ms",
    "index.sync.ms" -> "ms", "index.fs_meta_per_sync" -> "count",
    "index.fs_rename_per_sync" -> "count",
    "stream.addBatch_ms" -> "ms", "stream.latestOffset_ms" -> "ms",
    "stream.queryPlanning_ms" -> "ms", "stream.walCommit_ms" -> "ms",
    "stream.commitOffsets_ms" -> "ms", "vt.vacuum.ms" -> "ms",
    "rewrite.plan_ms" -> "ms", "lookup.files_opened" -> "count",
    "search.fs_meta_per_query" -> "count", "search.jobs_per_query" -> "count") ++
    SpanLayers.map(l => s"self.$l.s" -> "s") ++ Seq(
    "jvm.peak_heap_mb" -> "MB", "trace.coverage" -> "ratio",
    "trace.overhead_pct" -> "%", "trace.cold_s" -> "s",
    "trace.rows_per_s" -> "rows/s")

  def metrics(ctx: Ctx, w: Workload, steady: Seq[(Double, Long, Boolean)],
      e2e: Map[String, (Double, String)]): Seq[(String, Double, String)] = {
    val spans = ctx.tracer.all
    val iters = spans.filter(s => s.name == "bench.iteration" &&
      steady.indices.exists(j => j + 1 == s.request && steady(j)._3))
    val coverage =
      if (iters.isEmpty) 0.0 else iters.map(SpanMath.childCoverage(spans, _)).min
    val self = iters.map { it =>
      SpanMath.layerSelfNs(spans.filter(_.request == it.request))
    }
    val selfMetrics = SpanLayers.map { l =>
      s"self.$l.s" ->
        (if (self.isEmpty) 0.0 else Stats.median(self.map(_.getOrElse(l, 0L) / 1e9)))
    }
    val traced = steady.filter(_._3).map(_._1)
    val untraced = steady.filterNot(_._3).map(_._1)
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else 100.0 * (Stats.median(traced) - Stats.median(untraced)) / Stats.median(untraced)
    val derived = selfMetrics.toMap ++ Map(
      "jvm.peak_heap_mb" -> ctx.probe.map(_.peakHeapMb).getOrElse(0.0),
      "trace.coverage" -> coverage,
      "trace.overhead_pct" -> overhead,
      "trace.cold_s" -> e2e("cold_s")._1,
      "trace.rows_per_s" -> e2e("rows_per_s")._1)
    val sampled = ctx.layer.collect {
      case (k, xs) if xs.nonEmpty => k -> Stats.median(xs.toSeq)
    }
    val values = derived ++ sampled ++ w.layerMetrics()
    Units.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}

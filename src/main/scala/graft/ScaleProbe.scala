package graft

/** Scale probe: runs registry entries on an sf dir and on its
  * `mult`×-replicated copy ([[ScaleData]]) and prints, per entry, the cold
  * and steady wall time at each scale and their ratio. It measures the
  * entries exactly as the oracle checks them, through
  * [[SparkEntry.queries]], so a scale number always belongs to a checked
  * entry. Results are recorded in SCALE.md.
  *
  * Usage: runMain graft.ScaleProbe sfDir [mult] [names]
  *   sfDir: the source sf dir
  *   mult:  replication factor (default 10)
  *   names: comma-separated registry entry names (default [[defaultEntries]])
  *
  * The action forces the entry's whole output with a noop write: a
  * `.count()` lets Catalyst prune the columns, and with them most of the
  * work, of entries such as `d35_span_dedup`. Cold is an entry's first
  * run at a scale, fixture builds included; steady is its second. The
  * N× cold run reuses the classes the 1× pass compiled, because Spark's
  * codegen cache is JVM-wide.
  */
object ScaleProbe {

  /** One registry entry per heavy path the scale notes in SCALE.md cover. */
  val defaultEntries: Seq[String] = Seq(
    "d3_minhash_lsh", "d11_dedup_clusters", "d15_corpus_pipeline",
    "d18_jaccard_prefix", "d21_line_dedup", "d35_span_dedup",
    "d36_semdedup", "d37_incremental_minhash", "d28_bpe_apply",
    "d33_curriculum_pack", "d34_cluster_rep", "d41_dsir_select",
    "d43_quality_classifier", "d44_triangle_count", "d45_countmin",
    "v3_ann_ivf", "v4_ann_topk_agg", "v5_ann_sq8", "v6_ann_ivf_sq8",
    "v8_ann_pq", "v9_ann_ivfpq_index", "v10_bm25_topk", "v12_ann_ivf_append",
    "v13_bm25_append", "v14_phrase_topk", "v17_ann_delete",
    "v21_bm25_maxscore", "q20_asof_join", "q32_classified",
    "q43_interval_join", "q59_snapshot_store", "q62_incremental_merge",
    "q63_bucketed_join", "q69_compaction", "q70_zorder_cluster",
    "q71_delete_by_key", "q88_run_all_parallel", "q90_cdc_feed",
    "q95_shallow_clone", "q96_gapfill", "q101_funnel", "q102_retention",
    "q112_snapshot_read", "q118_versioned_table", "q120_mv_rewrite",
    "q121_mv_compensation", "q124_bloom_skip", "q126_mv_refresh",
    "q129_mv_comp_extrema", "q135_vt_occ", "q136_vt_cdf_stream")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.ScaleProbe sfDir [mult] [names]")
    val sfDir = args(0)
    val mult = if (args.length > 1) args(1).toInt else 10
    val names = if (args.length > 2) args(2).split(",").toSeq else defaultEntries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registry entries: ${unknown.mkString(", ")}")
    val spark = GraftSession.builder(GraftSession.cores, "graft-scale-probe")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmUp(spark, sfDir)

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    }
    // (cold, steady) seconds per entry; None when the entry threw
    def measure(label: String, dir: String): Map[String, Option[(Double, Double)]] =
      names.map { name =>
        def once() = timed(SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save())._2
        val r = try Some((once(), once())) catch { case e: Throwable =>
          println(s"PROBE $name $label FAILED: ${e.getMessage}")
          None
        }
        r.foreach { case (c, s) =>
          println(f"PROBE $name%-26s $label%4s cold $c%8.2f s  steady $s%8.2f s")
        }
        name -> r
      }.toMap

    val one = measure("1x", sfDir)
    SparkEntry.releaseSessionCaches()
    // written into the scratch warehouse, which the release at the end
    // empties, replicated dir included
    val (dirN, gen) = timed(ScaleData.write(spark, sfDir, mult,
      Fixture.freshDir(s"scale_${mult}x")))
    println(f"PROBE generated the ${mult}x copy of $sfDir in $gen%.1f s")
    val many = try measure(s"${mult}x", dirN)
      finally SparkEntry.releaseSessionCaches()

    println(f"${"entry"}%-26s ${"cold 1x"}%9s ${s"cold ${mult}x"}%9s " +
      f"${"ratio"}%6s ${"steady 1x"}%9s ${s"steady ${mult}x"}%9s ${"ratio"}%6s")
    for (name <- names; (c1, s1) <- one(name); (cn, sn) <- many(name))
      println(f"$name%-26s $c1%9.2f $cn%9.2f ${cn / c1}%5.1fx " +
        f"$s1%9.2f $sn%9.2f ${sn / s1}%5.1fx")
    spark.stop()
  }
}

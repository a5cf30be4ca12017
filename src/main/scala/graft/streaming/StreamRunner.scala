package graft.streaming

import graft.operators.EventsOps
import org.apache.spark.sql.functions._

/** Structured-Streaming CLI: streams the events table through the SAME
  * tumbling aggregation the batch path uses (EventsOps — one definition,
  * two execution modes), with watermarked event time and a memory sink.
  *
  * Usage: runMain graft.streaming.StreamRunner [sfDir] [width] [watermark]
  */
object StreamRunner {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val width = if (args.length > 1) args(1) else "1 hour"
    val watermark = if (args.length > 2) args(2) else "10 minutes"
    val spark = graft.GraftSession.builder(4, "graft-stream")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The shared loader handles staging (file streams read directories)
    // and normalizes ts across testdata encodings (INT64 nanos vs
    // timestamp[us]/NTZ) — see graft.sources.Tables.
    val stream = graft.sources.Tables.loadStream(spark, sfDir, "events")

    val agg = EventsOps.tumblingStatsStreaming(stream, width, watermark)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("stream_out").start()
    q.processAllAvailable()
    q.stop()

    val out = spark.table("stream_out")
    val n = out.count()
    val windows = out.agg(countDistinct(col("window_start"))).head().getLong(0)
    println(s"STREAM OK: $n windowed rows, $windows distinct windows, width=$width, watermark=$watermark")
    out.orderBy(desc("n_events")).show(5, truncate = false)
    spark.stop()
  }
}

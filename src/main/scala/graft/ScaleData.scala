package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic N×-replicated copy of a scale-factor dir, in the layout
  * [[graft.sources.Tables.load]] reads: one `<table>.parquet` file per
  * table. [[ScaleProbe]] runs the registry's entries on it.
  *
  *   - Replica r shifts every key column of a fact table by r × [[stride]].
  *     One offset for every table keeps each foreign key pointing at its
  *     replica: `l_orderkey` follows `o_orderkey`, `o_custkey` follows
  *     `c_custkey`, and the events keys (`event_id`, `user_id`) shift
  *     together.
  *   - Replicas r > 0 append ` rep$r` to `documents.text`, so the replicas
  *     of a document form a near-dup family rather than exact copies.
  *   - Dimension tables (region, nation, part, supplier) are copied once,
  *     byte for byte; `l_partkey` and `l_suppkey` keep pointing at them.
  *
  * Replica 0 is the source, row for row, and the rows are written in
  * replica order through one task, so two generations write the same rows.
  */
private[graft] object ScaleData {
  /** Per-replica key offset; every key of an sf ≤ 1 dir stays below it. */
  val stride = 10000000L

  /** The key columns each fact table shifts. Any other table is a
    * dimension.
    */
  val keys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Writes the `mult`× copy of `src` into `out` and returns `out`. */
  def write(spark: SparkSession, src: String, mult: Int, out: String): String = {
    // read `events.ts` in either on-disk encoding (Tables.load's rule); a
    // nanos column comes back as raw longs, which Tables.load reads again
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Files.createDirectories(Paths.get(out))
    for (name <- graft.sources.Tables.testdataTables) {
      val file = Paths.get(s"$out/$name.parquet")
      keys.get(name) match {
        case None => Files.copy(Paths.get(s"$src/$name.parquet"), file)
        case Some(cols) =>
          val df = spark.read.parquet(s"$src/$name.parquet")
          val top = df.select(cols.map(c => max(col(c))): _*).head()
          require(cols.indices.forall(i => top.isNullAt(i) || top.getLong(i) < stride),
            s"$name keys reach $top, past the replica offset $stride")
          val replicas = (0 until mult).map { r =>
            val shifted = cols.foldLeft(df)((d, c) =>
              d.withColumn(c, col(c) + lit(r * stride)))
            if (name == "documents" && r > 0)
              shifted.withColumn("text", concat(col("text"), lit(s" rep$r")))
            else shifted
          }
          val tmp = s"$out/_$name"
          replicas.reduce(_ union _).coalesce(1).write.parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          Files.move(part.toPath, file)
          Fixture.deleteTree(tmp)
      }
    }
    out
  }
}

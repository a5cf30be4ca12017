package graft

import graft.operators.Similarity
import graft.sources.TableWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental IVF ingest (v12) semantics: because list assignment is
  * per-vector arithmetic against a frozen quantizer, appending a batch
  * into a persisted index must equal rebuilding the index over the
  * union — list-for-list and query-for-query. Also pins that append
  * touches no pre-existing list files (the "no re-write" claim).
  */
class IvfAppendSpec extends SparkSpec {

  private lazy val e =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val base = e.filter(col("vec_id") % 10 =!= 0)
  private lazy val batch = e.filter(col("vec_id") % 10 === 0)
  private lazy val cents =
    Similarity.trainIvfCentroids(base, initStride = 13L, iters = 2)

  private def lists(w: TableWriter): Set[(Long, Long)] =
    w.read(spark, "emb_lists")
      .select(col("nbr_id").cast("long"), col("cent_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def topk(w: TableWriter): Set[(Long, Long, Int)] =
    Similarity.queryIvfIndex(spark, w, "emb", e.filter(col("vec_id") < 6),
        k = 4, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("nbr_id"), r.getAs[Int]("rank"))).toSet

  test("append == rebuild: same lists, same query results") {
    val incDir = java.nio.file.Files.createTempDirectory("ivfinc").toString
    val allDir = java.nio.file.Files.createTempDirectory("ivfall").toString
    val wInc = new TableWriter(incDir)
    val wAll = new TableWriter(allDir)

    Similarity.buildIvfIndex(base, cents, wInc, "emb")
    val before = new java.io.File(s"$incDir/emb_lists")
    def dataFiles(d: java.io.File): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(d).map(f => f.getPath -> f.lastModified()).toMap
    }
    val filesBefore = dataFiles(before)
    Similarity.adoptIvfIndexForStreaming(spark, wInc, "emb")
    Similarity.appendIvfIndexBatch(batch, wInc, "emb", 0L)
    val filesAfter = dataFiles(before)

    // no pre-existing list file was rewritten or removed
    filesBefore.foreach { case (p, ts) =>
      assert(filesAfter.contains(p), s"append removed $p")
      assert(filesAfter(p) == ts, s"append rewrote $p")
    }
    assert(filesAfter.size > filesBefore.size, "append wrote nothing")

    // rebuild over the union with the SAME (frozen) quantizer
    Similarity.buildIvfIndex(e, cents, wAll, "emb")
    assert(lists(wInc) == lists(wAll))
    assert(topk(wInc) == topk(wAll))
    assert(topk(wInc).nonEmpty)
  }

  test("appended vectors are retrievable through the merged index") {
    val dir = java.nio.file.Files.createTempDirectory("ivfinc2").toString
    val w = new TableWriter(dir)
    Similarity.buildIvfIndex(base, cents, w, "emb")
    Similarity.adoptIvfIndexForStreaming(spark, w, "emb")
    Similarity.appendIvfIndexBatch(batch, w, "emb", 0L)
    val ids = w.read(spark, "emb_lists").select("nbr_id")
      .collect().map(_.getLong(0)).toSet
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(batchIds.subsetOf(ids))
  }
}

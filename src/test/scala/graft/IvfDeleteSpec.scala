package graft

import graft.operators.Similarity
import graft.sources.TableWriter
import org.apache.spark.sql.functions._

/** Index-deletion lifecycle (v17): deletes land as tombstones (serving
  * strikes them from the probed lists), vacuum folds them in physically.
  * Pins: strike == vacuum == rebuild-without-victims; vacuum rewrites
  * ONLY tombstoned lists (untouched list files byte-stable); a list
  * whose every entry is doomed disappears; tombstones are cleared by
  * vacuum; vacuum with no tombstones is a no-op.
  */
class IvfDeleteSpec extends SparkSpec {

  private lazy val e =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val cents =
    Similarity.trainIvfCentroids(e, initStride = 13L, iters = 2)
  private lazy val victims = e.filter(col("vec_id") % 9 === 4)
  private lazy val victimIds =
    victims.select("vec_id").collect().map(_.getLong(0)).toSet

  private def topk(w: TableWriter): Set[(Long, Long, Int)] =
    Similarity.queryIvfIndex(spark, w, "emb", e.filter(col("vec_id") < 6),
        k = 4, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("nbr_id"), r.getAs[Int]("rank"))).toSet

  private def dataFiles(d: java.io.File): Map[String, (Long, Long)] =
    parquetFileSigs(d.getPath)

  test("strike == vacuum == rebuild without the victims; no victim serves") {
    val delDir = java.nio.file.Files.createTempDirectory("ivfdel").toString
    val refDir = java.nio.file.Files.createTempDirectory("ivfref").toString
    val wDel = new TableWriter(delDir)
    val wRef = new TableWriter(refDir)

    Similarity.buildIvfIndex(e, cents, wDel, "emb")
    Similarity.deleteFromIvfIndex(victims, wDel, "emb")
    val struck = topk(wDel) // tombstone-strike serving
    assert(struck.nonEmpty)
    assert(struck.map(_._2).intersect(victimIds).isEmpty,
      "a tombstoned id was served")

    Similarity.vacuumIvfIndex(spark, wDel, "emb")
    assert(topk(wDel) == struck, "vacuum changed served results")

    // an index built WITHOUT the victims (same frozen quantizer) agrees
    Similarity.buildIvfIndex(e.filter(col("vec_id") % 9 =!= 4), cents,
      wRef, "emb")
    assert(topk(wRef) == struck)
  }

  test("vacuum rewrites only tombstoned lists and clears the tombstones") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdel2").toString
    val w = new TableWriter(dir)
    Similarity.buildIvfIndex(e, cents, w, "emb")

    // victims = every member of ONE list (the smallest): that list must
    // vanish entirely; every other list file must stay byte-stable
    val byList = w.read(spark, "emb_lists")
      .select(col("nbr_id").cast("long"), col("cent_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).map { case (c, rows) => (c, rows.map(_._1).toSet) }
    val (doomedCent, doomedIds) = byList.minBy { case (_, ids) => ids.size }
    val doomed = e.filter(col("vec_id").isin(doomedIds.toSeq: _*))

    val filesBefore = dataFiles(new java.io.File(s"$dir/emb_lists"))
    Similarity.deleteFromIvfIndex(doomed, w, "emb")
    // tombstones carry the owning list — the delete itself touched no list
    assert(dataFiles(new java.io.File(s"$dir/emb_lists")) == filesBefore)
    Similarity.vacuumIvfIndex(spark, w, "emb")

    val filesAfter = dataFiles(new java.io.File(s"$dir/emb_lists"))
    assert(!new java.io.File(s"$dir/emb_lists/cent_id=$doomedCent").exists,
      "fully-doomed list directory should be deleted")
    filesBefore.filterNot(_._1.contains(s"cent_id=$doomedCent")).foreach {
      case (p, sig) =>
        assert(filesAfter.get(p).contains(sig), s"vacuum rewrote $p")
    }
    assert(!new java.io.File(s"$dir/emb_tombstones").exists,
      "vacuum must drop the tombstone table")

    // vacuum with no tombstones: a no-op on every file
    Similarity.vacuumIvfIndex(spark, w, "emb")
    assert(dataFiles(new java.io.File(s"$dir/emb_lists")) == filesAfter)

    // remaining members of other lists are intact
    val survivors = w.read(spark, "emb_lists").select("nbr_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == byList.filterNot(_._1 == doomedCent)
      .values.flatten.toSet)
  }

  test("append refuses a still-tombstoned id; update = delete→vacuum→append") {
    val updDir = java.nio.file.Files.createTempDirectory("ivfupd").toString
    val refDir = java.nio.file.Files.createTempDirectory("ivfupdref").toString
    val wUpd = new TableWriter(updDir)
    val wRef = new TableWriter(refDir)
    val upd = e.withColumn("embedding",
      when(col("vec_id") % 13 === 2,
        org.apache.spark.sql.functions.transform(
          graft.functions.VectorFns.toDouble(col("embedding")),
          x => x * lit(2.0) + lit(1.0)))
        .otherwise(graft.functions.VectorFns.toDouble(col("embedding"))))

    Similarity.buildIvfIndex(e, cents, wUpd, "emb")
    Similarity.adoptIvfIndexForStreaming(spark, wUpd, "emb")
    Similarity.deleteFromIvfIndex(e.filter(col("vec_id") % 13 === 2),
      wUpd, "emb")
    // without the vacuum, re-adding the id would serve two generations
    // (old rows still physical) — the append must refuse loudly
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendIvfIndexBatch(upd.filter(col("vec_id") % 13 === 2),
        wUpd, "emb", 0L)
    }
    assert(ex.getMessage.contains("vacuumIvfIndex first"))

    Similarity.vacuumIvfIndex(spark, wUpd, "emb")
    Similarity.appendIvfIndexBatch(upd.filter(col("vec_id") % 13 === 2),
      wUpd, "emb", 0L)

    // == a rebuild over the UPDATED corpus under the SAME frozen quantizer
    Similarity.buildIvfIndex(upd, cents, wRef, "emb")
    def lists(w: TableWriter): Set[(Long, Long)] =
      w.read(spark, "emb_lists")
        .select(col("nbr_id").cast("long"), col("cent_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lists(wUpd) == lists(wRef))
    assert(topk(wUpd) == topk(wRef))
  }

  test("absent-id delete is a full no-op; delete-then-insert upsert works") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdel4").toString
    val w = new TableWriter(dir)
    // the index is built WITHOUT vec_id % 9 == 4
    Similarity.buildIvfIndex(e.filter(col("vec_id") % 9 =!= 4), cents, w, "emb")
    // deleting the absent ids writes NOTHING — not even a tombstone table
    Similarity.deleteFromIvfIndex(victims, w, "emb")
    assert(!new java.io.File(s"$dir/emb_tombstones").exists,
      "absent-id delete must not strand a tombstone")
    // ... so a later first-time insert of those ids is NOT refused
    Similarity.adoptIvfIndexForStreaming(spark, w, "emb")
    Similarity.appendIvfIndexBatch(victims, w, "emb", 0L)
    val ids = w.read(spark, "emb_lists").select("nbr_id")
      .collect().map(_.getLong(0)).toSet
    assert(victimIds.subsetOf(ids))

    // re-delete of already-tombstoned ids: byte-level no-op on tombstones
    Similarity.deleteFromIvfIndex(victims, w, "emb")
    val sigs = parquetFileSigs(s"$dir/emb_tombstones")
    Similarity.deleteFromIvfIndex(victims, w, "emb")
    assert(parquetFileSigs(s"$dir/emb_tombstones") == sigs,
      "re-delete must not append duplicate tombstones")
  }

  test("drifted-vector delete still strikes and vacuums the true list") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdel5").toString
    val w = new TableWriter(dir)
    Similarity.buildIvfIndex(e, cents, w, "emb")
    // the caller passes a DRIFTED vector (negated — the cosine argmax
    // flips, so frozen-quantizer assignment names the wrong list); the
    // delete must still find the victims' TRUE lists by probing the index
    val drifted = victims.withColumn("embedding",
      org.apache.spark.sql.functions.transform(
        graft.functions.VectorFns.toDouble(col("embedding")),
        x => x * lit(-1.0)))
    Similarity.deleteFromIvfIndex(drifted, w, "emb")
    val struck = topk(w)
    assert(struck.map(_._2).intersect(victimIds).isEmpty,
      "a drifted-vector victim was served under the strike")
    // vacuum's post-rewrite verification passes and the rows are GONE
    Similarity.vacuumIvfIndex(spark, w, "emb")
    val ids = w.read(spark, "emb_lists").select("nbr_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.intersect(victimIds).isEmpty,
      "drifted-vector victims survived the vacuum physically")
    assert(topk(w) == struck)
  }

  test("vacuum refuses to drop tombstones whose rows survived the rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdel6").toString
    val w = new TableWriter(dir)
    Similarity.buildIvfIndex(e, cents, w, "emb")
    // a hand-written (legacy) tombstone naming the WRONG list: pick a
    // real indexed id and record a cent_id it does not live in
    val row = w.read(spark, "emb_lists")
      .select(col("nbr_id").cast("long"), col("cent_id").cast("long"))
      .head()
    val wrongCent = w.read(spark, "emb_lists")
      .select(col("cent_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).find(_ != row.getLong(1)).get
    import spark.implicits._
    w.materialize("emb_tombstones",
      Seq((row.getLong(0), wrongCent)).toDF("nbr_id", "cent_id"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.vacuumIvfIndex(spark, w, "emb")
    }
    assert(ex.getMessage.contains("survived the pruned rewrite"))
    assert(new java.io.File(s"$dir/emb_tombstones").exists,
      "failed vacuum must keep the tombstones (serving stays struck)")
  }

  test("partially-doomed list keeps its survivors") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdel3").toString
    val w = new TableWriter(dir)
    Similarity.buildIvfIndex(e, cents, w, "emb")
    val all = w.read(spark, "emb_lists")
      .select(col("nbr_id").cast("long"), col("cent_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (bigCent, members) = all.groupBy(_._2)
      .map { case (c, rows) => (c, rows.map(_._1).sorted) }
      .maxBy { case (_, ids) => ids.size }
    assert(members.size >= 2)
    val half = members.take(members.size / 2).toSet
    Similarity.deleteFromIvfIndex(
      e.filter(col("vec_id").isin(half.toSeq: _*)), w, "emb")
    Similarity.vacuumIvfIndex(spark, w, "emb")
    val kept = w.read(spark, "emb_lists")
      .filter(col("cent_id").cast("long") === bigCent)
      .select("nbr_id").collect().map(_.getLong(0)).toSet
    assert(kept == members.toSet -- half)
  }
}

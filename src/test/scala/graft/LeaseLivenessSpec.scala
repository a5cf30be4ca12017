package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.{IndexProtocol, Retrieval}
import graft.sources.{TableWriter, VersionedTable}

/** Writer-lease LIVENESS (r10 verdict #2): epoch + heartbeat on the
  * single-writer lease. Before this, a writer that died without
  * `releaseLease` pinned its index forever — the first operational page
  * at 100 TB with thousands of streamed indexes. Now:
  *
  *   - the lease file carries (writerId, epoch); every same-id
  *     re-acquire (each batch of a live stream) refreshes the file's
  *     mtime — the heartbeat;
  *   - a successor passing a finite TTL may FENCE a lease whose
  *     heartbeat is older than the TTL, taking it at epoch + 1;
  *   - the fenced writer's next step fails loudly: re-acquire sees a
  *     foreign owner, and the commit-point [[IndexProtocol.assertLease]]
  *     (wired immediately before every family's marker write and
  *     VersionedTable's manifest write) sees the epoch bump.
  */
class LeaseLivenessSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fsFor(dir: String) =
    new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())

  private def backdate(dir: String, name: String, byMs: Long): Unit = {
    val fs = fsFor(dir)
    val p = new Path(dir, name)
    fs.setTimes(p, System.currentTimeMillis() - byMs, -1)
  }

  test("dead writer is superseded; its next acquire and commit point refuse") {
    val dir = tmpDir("lease")
    val fs = fsFor(dir)
    val commits = new Path(dir, "commits")
    val ea = IndexProtocol.acquireLease(fs, commits, "writer-A", "spec")
    assert(ea == 0L)
    // A dies silently; its heartbeat goes stale
    backdate(commits.toString, "writer", byMs = 60000)
    // without a TTL the lease still blocks (pre-liveness contract)
    val blocked = intercept[IllegalStateException] {
      IndexProtocol.acquireLease(fs, commits, "writer-B", "spec")
    }
    assert(blocked.getMessage.contains("leased to writer 'writer-A'"))
    // with a TTL below the age, B fences at epoch + 1
    val eb = IndexProtocol.acquireLease(fs, commits, "writer-B", "spec",
      ttlMs = 5000)
    assert(eb == 1L)
    // the zombie's next protocol step refuses loudly, both ways in:
    val reacq = intercept[IllegalStateException] {
      IndexProtocol.acquireLease(fs, commits, "writer-A", "spec")
    }
    assert(reacq.getMessage.contains("'writer-B'"))
    val fenced = intercept[IllegalStateException] {
      IndexProtocol.assertLease(fs, commits, "writer-A", ea, "spec")
    }
    assert(fenced.getMessage.contains("FENCED"))
    // the new owner's commit point passes
    IndexProtocol.assertLease(fs, commits, "writer-B", eb, "spec")
  }

  test("live writer is NOT fenceable: heartbeat within TTL blocks a successor") {
    val dir = tmpDir("lease")
    val fs = fsFor(dir)
    val commits = new Path(dir, "commits")
    IndexProtocol.acquireLease(fs, commits, "writer-A", "spec")
    // A heartbeats (any re-acquire refreshes mtime), so a TTL successor
    // still refuses — fencing needs a STALE heartbeat, not just a TTL
    backdate(commits.toString, "writer", byMs = 60000)
    IndexProtocol.acquireLease(fs, commits, "writer-A", "spec") // heartbeat
    val e = intercept[IllegalStateException] {
      IndexProtocol.acquireLease(fs, commits, "writer-B", "spec",
        ttlMs = 30000)
    }
    assert(e.getMessage.contains("ttl"))
  }

  test("legacy single-line lease reads as epoch 0 and is fence-able") {
    val dir = tmpDir("lease")
    val fs = fsFor(dir)
    val commits = new Path(dir, "commits")
    IndexProtocol.writeLinesAtomic(fs, new Path(commits, "writer"),
      Seq("old-writer")) // pre-liveness format: id only
    assert(IndexProtocol.acquireLease(fs, commits, "old-writer", "spec") == 0L)
    backdate(commits.toString, "writer", byMs = 60000)
    assert(IndexProtocol.acquireLease(fs, commits, "new-writer", "spec",
      ttlMs = 5000) == 1L)
  }

  test("release hands over cleanly: fresh owner starts at epoch 0") {
    val dir = tmpDir("lease")
    val fs = fsFor(dir)
    val commits = new Path(dir, "commits")
    IndexProtocol.acquireLease(fs, commits, "writer-A", "spec")
    IndexProtocol.releaseLease(fs, commits)
    assert(IndexProtocol.acquireLease(fs, commits, "writer-B", "spec") == 0L)
  }

  test("fenced BM25 stream writer refuses at the real batch protocol") {
    import spark.implicits._
    val dir = tmpDir("lease-bm25")
    val w = new TableWriter(dir)
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    Retrieval.appendBm25IndexBatch(docs, w, "docs", batchId = 0L,
      buckets = 8, vocabBuckets = 4, writerId = "stream-A")
    // stream-A dies; a successor fences the stale lease
    val commits = new Path(w.path("docs_commits"))
    backdate(dir, "docs_commits/writer", byMs = 60000)
    IndexProtocol.acquireLease(fsFor(dir), commits, "stream-B", "spec",
      ttlMs = 5000)
    // the zombie's next batch fails loudly at acquire — no interleaving
    val e = intercept[IllegalStateException] {
      Retrieval.appendBm25IndexBatch(
        Seq((3L, "gamma delta")).toDF("doc_id", "text"), w, "docs",
        batchId = 1L, buckets = 8, vocabBuckets = 4, writerId = "stream-A")
    }
    assert(e.getMessage.contains("'stream-B'"))
    // the successor continues the SAME index from batch 1; the crash
    // matrix semantics (redelivery fast paths, etc.) are unchanged
    Retrieval.appendBm25IndexBatch(
      Seq((3L, "gamma delta")).toDF("doc_id", "text"), w, "docs",
      batchId = 1L, buckets = 8, vocabBuckets = 4, writerId = "stream-B")
    val qs = Seq((1L, "gamma")).toDF("query_id", "term")
    val hits = Retrieval.queryBm25Index(spark, w, "docs", qs, k = 5,
      buckets = 8, vocabBuckets = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(2L, 3L))
  }

  test("fenced BM25 delete leg refuses at its no-op marker (absent victims)") {
    import spark.implicits._
    val dir = tmpDir("lease-bm25del")
    val w = new TableWriter(dir)
    Retrieval.appendBm25IndexBatch(
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text"),
      w, "docs", batchId = 0L, buckets = 8, vocabBuckets = 4,
      writerId = "stream-A")
    // evaluating the victims fences stream-A mid-leg, as a TTL successor
    // would while A's delete runs
    val commits = w.path("docs_commits")
    val fence = udf { (t: String) =>
      LeaseLivenessSpec.fenceBy("stream-B", commits); t
    }.asNondeterministic()
    val absent = Seq((9L, "alpha delta")).toDF("doc_id", "text")
      .withColumn("text", fence(col("text")))
    val e = intercept[IllegalStateException] {
      Retrieval.deleteFromBm25IndexBatch(absent, w, "docs", batchId = 1L,
        buckets = 8, vocabBuckets = 4, writerId = "stream-A")
    }
    assert(e.getMessage.contains("FENCED"))
    assert(!new java.io.File(s"$dir/docs_commits/del_1").exists,
      "a fenced writer must not publish the delete marker")
  }

  test("VersionedTable: dead writer fenced through commitMerge(leaseTtlMs)") {
    import spark.implicits._
    val dir = tmpDir("lease-vt")
    VersionedTable.commitMerge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k", numBuckets = 4,
      writerId = "job-A")
    backdate(dir, "_commits/writer", byMs = 60000)
    // successor with a TTL supersedes and commits v1
    val v = VersionedTable.commitMerge(spark, dir,
      Seq((2L, "b2")).toDF("k", "v"), "k", numBuckets = 4,
      writerId = "job-B", leaseTtlMs = 5000)
    assert(v == 1L)
    // the dead writer's next commit refuses
    val e = intercept[IllegalStateException] {
      VersionedTable.commitMerge(spark, dir,
        Seq((3L, "c")).toDF("k", "v"), "k", numBuckets = 4,
        writerId = "job-A")
    }
    assert(e.getMessage.contains("'job-B'"))
    val rows = VersionedTable.read(spark, dir)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b2")))
  }
}

object LeaseLivenessSpec {
  /** Backdate the lease under `commits` and fence it by `successor`
    * (a no-op once `successor` holds it). Called from inside Spark
    * tasks, which `local` mode runs in this JVM.
    */
  def fenceBy(successor: String, commits: String): Unit = synchronized {
    val dir = new Path(commits)
    val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val lease = new Path(dir, "writer")
    if (!IndexProtocol.readLines(fs, lease).headOption.contains(successor)) {
      fs.setTimes(lease, System.currentTimeMillis() - 60000, -1)
      IndexProtocol.acquireLease(fs, dir, successor, "spec", ttlMs = 5000)
    }
  }
}

package graft

import graft.operators.Retrieval
import graft.sources.{TableWriter, VersionedTable}
import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-class cache that [[GraftSession.builder]] sizes holds a
  * multi-model working set: a second pass over ~150 distinct plans
  * compiles nothing. Spark's 100-entry default misses on every plan of a
  * cyclic pass over 150 classes. And a steady streamed index sync, whose
  * every call is a new streaming query on a cloned session, reuses the
  * classes the previous call compiled.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass over 150 distinct plans compiles no class") {
    // the cache is JVM-wide and sized by the conf of the session alive at
    // the first compile, so the shared session must exist before any
    // plan of this spec compiles
    val s = spark
    // a per-run salt keeps every class new to the JVM whichever specs ran
    // before; each literal pair is inlined, so each plan is its own class
    val salt = 1000L + (System.nanoTime() & 0xffffffL)
    def pass(): Long = compiles {
      (0 until 150).foreach { i =>
        s.range(2).selectExpr(s"id * ${salt}L + ${i}L AS v").collect()
      }
    }
    val first = pass()
    val second = pass()
    assert(first >= 150, s"first pass compiled only $first classes")
    assert(second == 0, s"second pass recompiled $second of $first classes")
  }

  test("the third streamed index sync of a growing table compiles no class") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cgstream").toString
    val root = s"$dir/t"
    val w = new TableWriter(s"$dir/wh")
    def text(k: Long, salt: Long) =
      (0 until 5).map(j => s"w${(k * 3 + j * 11 + salt) % 30}").mkString(" ")
    // v0 inserts 40 docs; v1 and v2 each update 4 keys (so the delete
    // leg strikes) and insert 4 new ones
    def commit(v: Long): Unit = {
      val rows =
        if (v == 0) (1L to 40L).map(k => (k, text(k, 0)))
        else (1L to 4L).map(i => (i * 9 + v, text(i, v))) ++
          (1L to 4L).map(i => (40L + 4 * v + i, text(i, 0)))
      VersionedTable.commitMerge(s, root, rows.toDF("doc_id", "text"),
        "doc_id", 8)
    }
    def sync(): Unit =
      Retrieval.syncBm25IndexFromVtStream(s, root, w, "idx", s"$dir/ck")
    (0L to 1L).foreach { v => commit(v); sync() }
    commit(2L)
    val third = compiles(sync())
    assert(third == 0, s"the third sync compiled $third classes")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4, "graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Recursive (path → (mtime, length)) signature of every parquet data
    * file under `dir` — the byte-stability probe several layout specs
    * share (a missing dir or vanished file yields an empty/partial map,
    * never an NPE).
    */
  def parquetFileSigs(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
      .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
  }
}

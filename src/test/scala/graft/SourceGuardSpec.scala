package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source guards for two drifts that were removed: sessions built outside
  * [[GraftSession.builder]], and session caches in [[SparkEntry]] declared
  * as ad-hoc maps instead of a [[Fixture]] (which is what releases them).
  * The patterns are spelled in pieces so this file does not match itself.
  */
class SourceGuardSpec extends AnyFunSuite {
  private def scalaFiles(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("sessions are built only by GraftSession.builder") {
    val builderCall = "SparkSession" + ".builder()"
    val offenders = scalaFiles("src")
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => read(p).contains(builderCall))
    assert(offenders.isEmpty, s"$builderCall outside GraftSession: $offenders")
  }

  test("SparkEntry's session caches are Fixtures, not ad-hoc maps") {
    val adHoc = "Trie" + "Map"
    val entry = read(Paths.get("src/main/scala/graft/SparkEntry.scala"))
    assert(!entry.contains(adHoc), s"SparkEntry.scala declares a $adHoc")
  }
}

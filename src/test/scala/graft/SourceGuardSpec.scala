package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source guards for drifts that were removed: sessions built outside
  * [[GraftSession.builder]], session caches in [[SparkEntry]] declared
  * as ad-hoc maps instead of a [[Fixture]] (which is what releases them),
  * index-protocol file names built outside `IndexProtocol.scala`, DAG
  * loops other than `ModelRegistry.run`, a scale probe that calls
  * operators itself instead of running registry entries, and plain index
  * writes beside each family's exactly-once legs.
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

  test("index commits-dir, marker, manifest, flag and frontier names are built only by IndexProtocol") {
    // quoted index-protocol names: `<name>_commits` dirs, `batch_<id>`,
    // `del_<id>`, `delflag_<id>`, `staged_<id>` and the frontier files.
    // VersionedTable.scala is the table protocol, with its own
    // `_commits/staged_<v>` layout (ROADMAP #4 merges the two).
    val names =
      "(\\w|\\})_commits(\"|/)|\\b(batch|del|delflag|delstate|struck|staged)_(\\$|\\d|\")|\\bfrontier_".r
    val literal = "\"(?:[^\"\\\\]|\\\\.)*\"".r
    val exempt = Set("IndexProtocol.scala", "VersionedTable.scala")
    val offenders = for {
      p <- scalaFiles("src/main")
      if !exempt(p.getFileName.toString)
      (line, i) <- read(p).split("\n").zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      lit <- literal.findAllIn(line)
      if names.findFirstIn(lit).nonEmpty
    } yield s"${p.getFileName}:${i + 1}: $lit"
    assert(offenders.isEmpty,
      s"index protocol names built outside IndexProtocol: $offenders")
  }

  test("one DAG loop: models are transformed only by ModelRegistry.run") {
    // Model.transform takes (spark, inputs); Dataset.transform takes one
    // function, so a two-argument call is a model being built
    val modelCall = ("\\.trans" + "form\\(\\s*\\w+\\s*,").r
    val calls = for {
      p <- scalaFiles("src/main")
      (line, i) <- read(p).split("\n").zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if modelCall.findFirstIn(line).nonEmpty
    } yield s"${p.getParent.getFileName}/${p.getFileName}:${i + 1}"
    assert(calls.size == 1 && calls.head.startsWith("core/Model.scala:"),
      s"model transform calls outside the one runner: $calls")
  }

  test("one write path per index: no plain append/delete beside the legs") {
    val removed = Seq("appendBm25" + "Index(", "deleteFromBm25" + "Index(",
      "appendPositional" + "Index(", "appendIvf" + "Index(")
    val offenders = for {
      p <- scalaFiles("src")
      src = read(p)
      name <- removed if src.contains(name)
    } yield s"${p.getFileName}: $name"
    assert(offenders.isEmpty, s"plain index write paths: $offenders")
    // the positional strike is the delete leg's private body
    val strike = "deleteFromPositional" + "Index("
    val callers = scalaFiles("src").filter(p => read(p).contains(strike))
      .map(_.getFileName.toString)
    assert(callers == Seq("Retrieval.scala"),
      s"$strike outside Retrieval.scala: $callers")
  }

  test("the scale probe reaches the engine only through SparkEntry.queries") {
    val banned = Seq("graft." + "operators", "Dedup" + ".", "Retrieval" + ".",
      "Similarity" + ".", "createTemp" + "Directory")
    val offenders = for {
      f <- Seq("ScaleProbe.scala", "ScaleData.scala")
      src = read(Paths.get(s"src/main/scala/graft/$f"))
      b <- banned if src.contains(b)
    } yield s"$f: $b"
    assert(offenders.isEmpty, s"second copy of engine paths: $offenders")
    val probe = read(Paths.get("src/main/scala/graft/ScaleProbe.scala"))
    assert(probe.contains("SparkEntry" + ".queries(name)"))
  }
}

package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("perfbench-gen")

  private def bytes(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path])
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def check(gen: (Long, Path) => Gen.Sizes): Unit = {
    val (a, b, c) = (tmp(), tmp(), tmp())
    try {
      val sa = gen(7L, a)
      val sb = gen(7L, b)
      val sc = gen(8L, c)
      assert(bytes(a) == bytes(b), "same seed must give byte-identical files")
      assert(sa == sb)
      assert(sa == sc, "sizes must not depend on the seed")
      assert(bytes(a) != bytes(c), "another seed must give other contents")
    } finally Seq(a, b, c).foreach(Main.deleteTree)
  }

  test("dag inputs: deterministic per seed, seed-invariant sizes") {
    check(Gen.dag)
  }

  test("corpus inputs: deterministic per seed, seed-invariant sizes") {
    check(Gen.corpus)
  }

  test("serve inputs: deterministic per seed, seed-invariant sizes") {
    check((s, d) => Gen.serve(s, d)._1)
  }

  test("every description pool entry appears and the pool size is fixed") {
    val d = tmp()
    try {
      val sizes = Gen.dag(3L, d).entries.toMap
      assert(sizes("distinct_descriptions") == sizes("description_pool"))
      assert(sizes("description_pool") ==
        Gen.fixedDescriptions.size + Gen.NoiseDescriptions)
    } finally Main.deleteTree(d)
  }

  test("document families have the fixed size and unique ids") {
    val (docs, _) = Gen.documents(5L, 3, Gen.Families)
    assert(docs.size == Gen.Families * Gen.FamilySize)
    assert(docs.map(_.id).distinct.size == docs.size)
  }
}

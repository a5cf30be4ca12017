package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.models.{RefSeeds, RegexProbe}

/** Seeded input generator. Everything a workload reads is made here
  * from the workload seed alone and written as tab-separated text, so
  * the same seed gives byte-identical files. Row counts, family sizes
  * and the number of distinct card descriptions do not depend on the
  * seed; only contents, key offsets and repetition order do.
  *
  * The tables are shaped like the sf0.1 test data the library's
  * fixtures read (`orders`, `customer`, `documents`), scaled as the
  * workloads need: 40k orders (0.27x) for the card and health sources, documents
  * x4 as near-duplicate families.
  */
object Gen {

  val Orders = 20000
  val Customers = 15000
  /** Near-duplicate families: the corpus has [[Families]] of them, the
    * served table [[ServeFamilies]].
    */
  val Families = 625
  val ServeFamilies = 625
  val FamilySize = 4
  val Docs: Int = Families * FamilySize
  val ServeDocs: Int = ServeFamilies * FamilySize
  val NoiseDescriptions = 300
  val BenchmarkDocs = 40
  /** Null marker in the text files. */
  val Null = "\\N"

  /** Sizes of one generated input set, printed with the run. */
  final case class Sizes(entries: Seq[(String, Long)]) {
    def render: String = entries.map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Seed-independent word list: stop words first, then syllable words. */
  lazy val vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(7L)
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val words = scala.collection.mutable.LinkedHashSet[String](
      "the", "a", "of", "and", "to", "in", "is", "for")
    while (words.size < 4000) {
      val syl = 2 + r.nextInt(3)
      words += (0 until syl).map { _ =>
        s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}"
      }.mkString
    }
    words.toIndexedSeq
  }

  /** Short junk tokens: documents built from these fail the quality
    * filter.
    */
  lazy val junk: IndexedSeq[String] =
    for (a <- "abcdefghij"; b <- Seq("", "x", "y")) yield s"$a$b"

  private def usable(s: String): Boolean =
    s.nonEmpty && !s.exists(c => c == '\t' || c == '\n' || c == '\r') &&
      s != Null

  /** Card descriptions every seed shares: one validated example per
    * reference regex rule, then the reference merchant names.
    */
  lazy val fixedDescriptions: IndexedSeq[String] = {
    val rules = RefSeeds.rules.flatMap(r => RegexProbe.example(r.pattern))
    val names = RefSeeds.merchantSeed.map(_._2)
    (rules ++ names).filter(usable).distinct.toIndexedSeq
  }

  /** The seeded description pool: the fixed part plus
    * [[NoiseDescriptions]] seeded unclassifiable strings. Position in the
    * pool is the Zipf rank, so repetition frequency. Which slot holds a
    * rule example, a merchant name or noise is the same for every seed:
    * classifier cost depends on which descriptions repeat most, and a
    * seed-dependent order would make the seed, not the program, set it.
    */
  def descriptionPool(seed: Long): IndexedSeq[String] = {
    val r = rng(seed, 11)
    val fixed = fixedDescriptions.toSet
    val noise = scala.collection.mutable.LinkedHashSet.empty[String]
    while (noise.size < NoiseDescriptions) {
      val s = s"ZQX ${vocab(8 + r.nextInt(vocab.size - 8)).toUpperCase} " +
        s"${r.nextInt(100000)}"
      if (!fixed.contains(s)) noise += s
    }
    val slots = shuffle((fixedDescriptions.indices.map(Left(_)) ++
      (0 until NoiseDescriptions).map(Right(_))), new SplittableRandom(11L))
    val noiseSeq = noise.toIndexedSeq
    slots.map {
      case Left(i) => fixedDescriptions(i)
      case Right(j) => noiseSeq(j)
    }
  }

  def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  private def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p),
      java.nio.charset.StandardCharsets.UTF_8), 1 << 16)

  private def writeRows(p: Path, header: Seq[String])(
      rows: (Seq[Any] => Unit) => Unit): Long = {
    val w = writer(p)
    var n = 0L
    try {
      w.write(header.mkString("\t")); w.write('\n')
      rows { cells =>
        w.write(cells.map {
          case null | None => Null
          case Some(v) => v.toString
          case v => v.toString
        }.mkString("\t"))
        w.write('\n')
        n += 1
      }
    } finally w.close()
    n
  }

  private def cents(c: Long): String = {
    val sign = if (c < 0) "-" else ""
    val a = math.abs(c)
    f"$sign${a / 100}.${a % 100}%02d"
  }

  /** `dag_nightly` inputs: orders, customer and card_transactions. */
  def dag(seed: Long, dir: Path): Sizes = {
    Files.createDirectories(dir)
    val r = rng(seed, 1)
    val keyOffset = 1000000L * (1 + r.nextInt(1000))
    val custOffset = 100000L * (1 + r.nextInt(1000))
    val day0 = java.time.LocalDate.of(2022, 1, 1)
    val nOrders = writeRows(dir.resolve("orders.tsv"),
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")) { emit =>
      (0 until Orders).foreach { i =>
        emit(Seq(keyOffset + i, custOffset + r.nextInt(Customers),
          cents(90000L + r.nextInt(49910000)), day0.plusDays(r.nextInt(365))))
      }
    }
    val nCust = writeRows(dir.resolve("customer.tsv"), Seq("c_custkey")) { emit =>
      (0 until Customers).foreach(i => emit(Seq(custOffset + i)))
    }
    val pool = descriptionPool(seed)
    val zipf = new Zipf(pool.size, 1.1)
    val t = rng(seed, 2)
    val cards = Seq(3221, 4245, 5083, 6823, 3206, 9155)
    val people = Seq("Lorna Kerry", "Lisa Raich", "Sofia Mesa")
    val distinct = scala.collection.mutable.HashSet.empty[String]
    val nTx = writeRows(dir.resolve("card_transactions.tsv"),
      Seq("key", "date", "amount", "card_last4", "description", "category",
        "type", "intermediate_key")) { emit =>
      (0 until Orders).foreach { i =>
        // every pool entry appears once, then Zipf repetition
        val desc = if (i < pool.size) pool(i) else pool(zipf.sample(t))
        distinct += desc
        val c = 100L + t.nextInt(50000)
        val amount = if (t.nextInt(6) == 0) -c else c
        val typ = t.nextInt(5) match {
          case 0 => "Sale"
          case 1 => "Refund"
          case _ => null
        }
        val who = t.nextInt(4)
        emit(Seq(s"${keyOffset + i}", day0.plusDays(t.nextInt(365)),
          cents(amount), cards(t.nextInt(cards.size)), desc,
          s"cat${t.nextInt(3)}", typ,
          if (who < people.size) people(who) else null))
      }
    }
    Sizes(Seq("orders" -> nOrders, "customers" -> nCust,
      "card_transactions" -> nTx,
      "distinct_descriptions" -> distinct.size.toLong,
      "description_pool" -> pool.size.toLong))
  }

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def nChars: Int = text.length
  }

  /** Near-duplicate families: a base text of 100-160 Zipf-drawn words
    * plus [[FamilySize]]-1 replicas, each with one seeded token
    * substitution. Every pair in a family is then above 0.85 shingle
    * Jaccard, where MinHash banding (64 hashes, 16 bands) misses a pair
    * with probability below 1e-6, while unrelated texts share almost no
    * shingles. One family in twenty is junk text the quality filter
    * drops. Rows come out in a seeded order with ids `idOffset + row`.
    */
  def documents(seed: Long, salt: Long, families: Int)
      : (IndexedSeq[Doc], IndexedSeq[IndexedSeq[String]]) = {
    val r = rng(seed, salt)
    val idOffset = 10000000L * (1 + r.nextInt(100))
    val zipf = new Zipf(vocab.size, 1.0)
    val langs = Seq("en", "en", "en", "en", "en", "en", "de", "fr", "es", "zh")
    val bases = IndexedSeq.newBuilder[IndexedSeq[String]]
    val rows = (0 until families).flatMap { f =>
      val isJunk = f % 20 == 19
      val words = if (isJunk) junk else vocab
      val len = 100 + r.nextInt(60)
      val base = IndexedSeq.fill(len)(
        if (isJunk) junk(r.nextInt(junk.size)) else vocab(zipf.sample(r)))
      if (!isJunk) bases += base
      val lang = langs(r.nextInt(langs.size))
      (0 until FamilySize).map { m =>
        val toks =
          if (m == 0) base
          else base.updated(r.nextInt(base.size), words(r.nextInt(words.size)))
        (toks.mkString(" "), lang, s"src${r.nextInt(10)}")
      }
    }
    val order = shuffle(rows, r)
    (order.zipWithIndex.map { case ((t, l, s), i) => Doc(idOffset + i, t, l, s) },
      bases.result())
  }

  def writeDocs(p: Path, docs: Seq[Doc]): Long =
    writeRows(p, Seq("doc_id", "text", "lang", "source", "n_chars")) { emit =>
      docs.foreach(d => emit(Seq(d.id, d.text, d.lang, d.source, d.nChars)))
    }

  /** `corpus_dedup` inputs: the document families and a decontamination
    * set of 12-token windows cut from seeded families' base texts.
    */
  def corpus(seed: Long, dir: Path): Sizes = {
    Files.createDirectories(dir)
    val (docs, bases) = documents(seed, 3, Families)
    val nDocs = writeDocs(dir.resolve("documents.tsv"), docs)
    val r = rng(seed, 4)
    val nBench = writeRows(dir.resolve("benchmark.tsv"), Seq("doc_id", "text")) { emit =>
      (0 until BenchmarkDocs).foreach { i =>
        val b = bases(r.nextInt(bases.size))
        val from = r.nextInt(b.size - 12)
        emit(Seq(i.toLong, b.slice(from, from + 12).mkString(" ")))
      }
    }
    Sizes(Seq("documents" -> nDocs, "families" -> Families.toLong,
      "family_size" -> FamilySize.toLong, "benchmark_docs" -> nBench))
  }

  /** `table_serve` inputs: the initial documents table. */
  def serve(seed: Long, dir: Path): (Sizes, IndexedSeq[Doc]) = {
    Files.createDirectories(dir)
    val (docs, _) = documents(seed, 5, ServeFamilies)
    val n = writeDocs(dir.resolve("documents.tsv"), docs)
    (Sizes(Seq("documents" -> n, "families" -> ServeFamilies.toLong,
      "family_size" -> FamilySize.toLong)), docs)
  }
}

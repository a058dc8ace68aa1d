package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.gen.TranscriptGen

/** Property-based invariants (SURVEY.md §5.3): the extractor is total,
  * deterministic and order-independent; derived metrics stay in range.
  * Plain ScalaCheck generators sampled with fixed seeds (the
  * scalatestplus bridge is not in the offline cache).
  */
class PropertySpec extends AnyFunSuite {

  private val anyText: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const("\n"),
      Gen.const("Patient Name: X"), Gen.const("Date : 01/02/2020"),
      Gen.const("INSURANCE"), Gen.const("<div>x</div>")))
      .map(_.mkString(" ")),
    Gen.choose(0, 120000).map { i =>
      TranscriptGen.payload(i % 977, i % 31)._1
    })

  private def samples(n: Int): Seq[String] =
    (1 to n).flatMap(i =>
      anyText.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("extractTurn is total and deterministic on arbitrary text") {
    for (t <- samples(300)) {
      val a = Extract.extractTurn("c", 0, t)
      val b = Extract.extractTurn("c", 0, t)
      assert(a == b)
      assert(a.confidence >= 0.0 && a.confidence <= 1.0)
      assert(a.status == "ok" || a.status.startsWith("failed:"))
    }
  }

  test("tokenizer output is sorted, distinct, lowercase, len>2") {
    for (t <- samples(300)) {
      val toks = Extract.tokenize(t)
      assert(toks == toks.sorted)
      assert(toks == toks.distinct)
      assert(toks.forall(w => w.length > 2 && w == w.toLowerCase))
    }
  }

  test("mergeSpans invariants: disjoint, sorted, coverage- and count-preserving") {
    val spanGen = Gen.listOf(for {
      s <- Gen.choose(0, 500)
      len <- Gen.choose(1, 60)
    } yield (s, s + len))
    for (i <- 1 to 300; spans <- spanGen.apply(Gen.Parameters.default, Seed(i.toLong))) {
      val merged = Extract.mergeSpans(spans)
      // disjoint with real gaps, sorted, each interval non-empty
      merged.sliding(2).foreach {
        case Seq((_, e1, _), (s2, _, _)) => assert(s2 > e1)
        case _ =>
      }
      merged.foreach { case (s, e, n) => assert(s < e && n >= 1) }
      // every source span lands inside exactly one merged interval
      assert(merged.map(_._3).sum === spans.size)
      spans.foreach { case (s, e) =>
        assert(merged.count { case (ms, me, _) => ms <= s && e <= me } === 1)
      }
      // merged coverage equals the union of the inputs, point for point
      val covered = merged.flatMap { case (s, e, _) => s until e }.toSet
      assert(covered === spans.flatMap { case (s, e) => s until e }.toSet)
    }
  }

  test("key normalization is idempotent") {
    for (k <- (1 to 300).flatMap(i =>
        Gen.asciiPrintableStr.apply(Gen.Parameters.default, Seed(i.toLong)))) {
      val once = Extract.normalizeKey(k)
      assert(Extract.normalizeKey(once) == once)
    }
  }

  test("section spans are in-bounds, non-overlapping, ordered") {
    for (t <- samples(300)) {
      val secs = Extract.segment(t)
      var prevEnd = 0
      secs.foreach { s =>
        assert(s.start >= prevEnd)
        assert(s.len > 0)
        assert(s.start + s.len <= t.length)
        prevEnd = s.start + s.len
      }
    }
  }

  test("canonical JSON forms are single-line and bracket-balanced") {
    for (t <- samples(300)) {
      val e = Extract.extractTurn("c", 0, t)
      val fj = Extract.fieldsToJson(e.fields)
      val sj = Extract.sectionsToJson(e.sections)
      assert(fj.startsWith("{") && fj.endsWith("}"))
      assert(sj.startsWith("[") && sj.endsWith("]"))
      assert(!fj.contains("\n") && !sj.contains("\n"))
    }
  }

  /** A page of 20,000 unclosed `opener`s, each followed by a word. */
  private def unclosedPage(lead: String, opener: String): Gen[String] = for {
    words <- Gen.listOfN(20000, Gen.oneOf("alpha", "bravo", "kilo", "tango", "echo delta"))
    upper <- Gen.prob(0.5)
  } yield lead + words.map(w => (if (upper) opener.toUpperCase else opener) + w + " ").mkString

  test("adversarial HTML: 20k unclosed <nav>, <a href=x> or <script> openers cost linear time") {
    // The regex block cascade scanned to the end of the page once per
    // unclosed opener: 16 s (<nav>), 53 s (<a href=x>) and 31 s (<script>)
    // per page on a 4-core x86 host, JDK 17; the linear pass takes 4-6 ms.
    for ((lead, opener) <- Seq(("<html><body>", "<nav>"), ("<div>", "<a href=x>"),
        ("<p>", "<script>")); i <- 1 to 3;
        page <- unclosedPage(lead, opener).apply(Gen.Parameters.default, Seed(i.toLong))) {
      val t0 = System.nanoTime()
      val e = Extract.extractTurn("c", 0, page)
      val s = (System.nanoTime() - t0) / 1e9
      assert(e.status == "ok")
      assert(s < 1.0, f"$opener page of ${page.length} chars took $s%.2f s")
    }
  }

  test("extraction is order-independent: any permutation yields the same row set") {
    val turns = TranscriptGen.turns(10, 16).toVector
    val base = turns.map(t => Extract.extractTurn(t.conv_id, t.turn_idx, t.text)).toSet
    for (seed <- 1 to 20) {
      val shuffled = new scala.util.Random(seed).shuffle(turns)
      val got = shuffled.map(t => Extract.extractTurn(t.conv_id, t.turn_idx, t.text)).toSet
      assert(got == base)
    }
  }
}

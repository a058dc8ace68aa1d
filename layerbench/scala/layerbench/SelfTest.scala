package layerbench

import java.nio.file.{Files, Paths}
import Stats.Fingerprint

/** The benchmark's own tests: `layerbench.SelfTest <checkout root>` exits 0
  * when every check holds (`python3 layerbench/run.py --self-test`). */
object SelfTest {

  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    if (!pass) failures += 1
    println(s"${if (pass) "PASS" else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args.headOption.getOrElse("."))

    check("tail: 100 samples give p90 with exactly 10 beyond") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.tail(xs).contains(Stats.Tail(0.9, 90.0, 10, 100))
    }
    check("tail: 1000 samples give p99; 19 give none; 20 give p50") {
      Stats.tail((1 to 1000).map(_.toDouble)).map(_.q).contains(0.99) &&
        Stats.tail((1 to 19).map(_.toDouble)).isEmpty &&
        Stats.tail((1 to 20).map(_.toDouble)).contains(Stats.Tail(0.5, 10.0, 10, 20))
    }
    check("tail: the percentile ignores sample order") {
      val xs = (1 to 250).map(i => ((i * 37) % 250).toDouble)
      Stats.tail(xs) == Stats.tail(xs.sorted) && Stats.tail(xs).get.beyond >= 10
    }
    check("median of even and odd counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    check("fingerprint ignores row order") {
      val rows = (0 until 500).map(i => s"conv-$i\u0001${i % 7}\u0001text $i")
      val shuffled = rows.zipWithIndex.sortBy { case (_, i) => (i * 7919) % 500 }.map(_._1)
      Fingerprint.of(rows) == Fingerprint.of(shuffled) && Fingerprint.of(rows) == Fingerprint.of(rows.reverse)
    }
    check("fingerprint sees a missing, a duplicated and a changed row") {
      val rows = (0 until 100).map(i => s"row $i")
      val fp = Fingerprint.of(rows)
      fp != Fingerprint.of(rows.tail) && fp != Fingerprint.of(rows :+ rows.head) &&
        fp != Fingerprint.of(rows.updated(5, "row 5x")) &&
        Fingerprint.of(rows.take(40)) ++ Fingerprint.of(rows.drop(40)) == fp
    }
    check("canonical values: map order does not matter, double noise below 10 digits does not") {
      Stats.canon(Map("b" -> 1, "a" -> 2)) == Stats.canon(Map("a" -> 2, "b" -> 1)) &&
        Stats.canon(0.1 + 0.2) == Stats.canon(0.3) && Stats.canon(1.5) != Stats.canon(1.5000001)
    }

    check("html_long pages are deterministic per seed") {
      (0 until 40).forall(i => HtmlGen.page(7, i) == HtmlGen.page(7, i)) &&
        Extracts.htmlTurns(7) == Extracts.htmlTurns(7)
    }
    check("html_long pages differ across seeds") {
      (0 until 40).count(i => HtmlGen.page(7, i) != HtmlGen.page(8, i)) == 40
    }
    check("html_long pages are tens of KB and a quarter are malformed, whatever the seed") {
      val sizes = (0 until 200).map(HtmlGen.page(3, _).length)
      sizes.min > 10000 && sizes.max < 100000 &&
        (0L until 20L).forall(seed => (0 until 200).count(HtmlGen.isMalformed(seed, _)) == 50) &&
        (0 until 8).map(HtmlGen.isMalformed(1, _)) != (0 until 8).map(HtmlGen.isMalformed(2, _))
    }
    check("html_long storage order is a permutation of the pages") {
      (0L until Extracts.HtmlPages).map(Extracts.htmlOrder).toSet.size == Extracts.HtmlPages
    }
    check("incremental offsets are distinct, past the giant, and seeded") {
      val a = Extracts.incOffsets(5).take(200).toSeq
      a.distinct.length == 200 && a.forall(_ >= 1) && a == Extracts.incOffsets(5).take(200).toSeq &&
        a != Extracts.incOffsets(6).take(200).toSeq
    }
    check("forms_bulk range always holds conversation 0 and depends on the seed") {
      val ns = (0L until 50L).map(Extracts.formsConvs)
      ns.forall(n => n >= Extracts.FormsConvs && n < Extracts.FormsConvs + Extracts.FormsConvsSpread) &&
        ns.distinct.length > 10
    }

    check("ladder differences: each rung's self time, summing back to the top rung") {
      val rungs = Seq(1.0, 1.5, 3.5, 4.0, 4.25)
      val self = Stats.ladderSelf(rungs)
      self == Seq(1.0, 0.5, 2.0, 0.5, 0.25) && math.abs(self.sum - rungs.last) < 1e-12
    }
    check("spans nest by call order and record nothing when tracing is off") {
      val t = new Tracer("t", enabled = true)
      t.span("outer") { t.span("inner")(Thread.sleep(20)) }
      val outer = t.spans.find(_.name == "outer").get
      val inner = t.spans.find(_.name == "inner").get
      val off = new Tracer("t", enabled = false)
      off.span("x")(())
      inner.parent == outer.id && outer.parent == -1 && outer.seconds >= inner.seconds &&
        inner.seconds >= 0.02 && off.spans.isEmpty
    }

    check("per-layer metrics: completion fills 0 and keeps the declared order") {
      val m = Metrics.complete(Seq(("job.tasks", 8.0, "count")))
      m.map(_._1) == Metrics.perLayer.map(_._1) && m.find(_._1 == "job.tasks").get._2 == 8.0 &&
        m.count(_._2 != 0.0) == 1
    }
    check("BENCHMARK.json declares exactly the metrics the runs report") {
      val json = Files.readString(root.resolve("BENCHMARK.json"))
      def section(key: String) = {
        val body = json.substring(json.indexOf(s""""$key""""))
        val block = body.substring(body.indexOf('['), body.indexOf(']') + 1)
        """"name": *"([^"]+)", *"unit": *"([^"]+)"""".r.findAllMatchIn(block)
          .map(m => m.group(1) -> m.group(2)).toSeq
      }
      val (e2e, layers) = (section("end_to_end"), section("per_layer"))
      if (e2e != Metrics.endToEnd) System.err.println(s"BENCHMARK.json end_to_end: $e2e")
      if (layers != Metrics.perLayer)
        System.err.println(s"BENCHMARK.json per_layer differs: ${layers.diff(Metrics.perLayer)} / " +
          s"${Metrics.perLayer.diff(layers)}")
      e2e == Metrics.endToEnd && layers == Metrics.perLayer
    }
    check("every timed catalog entry has a reference and an oracle; the targets are timed") {
      val refs = Catalog.readRefs(root)
      Catalog.Timed.forall(n => refs.contains(n) && graft.SparkEntry.oracleSql.contains(n)) &&
        Metrics.Targets.forall(Catalog.Timed.contains) && Catalog.Timed.distinct == Catalog.Timed &&
        Catalog.Timed.map(Catalog.moduleOf).toSet == Metrics.Modules.toSet
    }

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}

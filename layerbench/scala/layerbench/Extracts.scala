package layerbench

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{ExtractJob, Sinks, TranscriptsTable, TurnSlim}
import graft.extract.Extract
import graft.gen.{Rng, TranscriptGen}
import Stats.Fingerprint

/** The three workloads that drive the extract engine: `forms_bulk`,
  * `html_long` and `incremental`. */
object Extracts {

  // forms_bulk: one snapshot of TranscriptGen's short form/HTML/plain turns.
  // The range always starts at conversation 0, the giant one; the seed sets
  // where the range ends.
  val FormsConvs = 5000
  val FormsConvsSpread = 50
  val Giant = 8192
  val Buckets = 16
  val RowGroupBytes: Long = 1L << 19

  // html_long: pages of HtmlGen, stored in an order that the job must sort.
  val HtmlPages = 480
  val HtmlFiles = 8

  // Untimed operations between the set-ups and the timed ones, so that the
  // timed ones find the JIT settled; forms_bulk's operations are the
  // largest, so fewer of them pass as many turns.
  val WarmOps = 6
  val FormsWarmOps = 4

  // incremental: small snapshots at seeded offsets, past the giant.
  val IncConvs = 100
  val IncBlocks = 10000

  /** Output columns compared against the oracle; the layout columns
    * (partition_id, input_file) depend on the run, not on the turn. */
  val Compared: Seq[String] = Seq("conv_id", "turn_idx", "doc_type", "extracted_text",
    "sections", "fields", "field_src", "signature_present", "confidence", "status")

  def rowKey(values: Seq[Any]): String = values.map(String.valueOf).mkString("\u0001")

  // ---------------------------------------------------------------- inputs

  def formsConvs(seed: Long): Int =
    FormsConvs + (new Rng(seed).nextLong() & Long.MaxValue).%(FormsConvsSpread).toInt

  def formsTurns(nConvs: Int): IndexedSeq[(String, Int, String)] =
    (0 until nConvs).flatMap { c =>
      (0 until TranscriptGen.convSize(c, Giant)).map { t =>
        val x = TranscriptGen.turn(c, t); (x.conv_id, x.turn_idx, x.text)
      }
    }

  /** A bijection of [0, n) that scatters neighbouring pages across files. */
  def htmlOrder(i: Long): Long = (i * 7919L) % HtmlPages

  def htmlTurns(seed: Long): IndexedSeq[(String, Int, String)] =
    (0 until HtmlPages).map { i =>
      (HtmlGen.convId(seed, i), i % HtmlGen.PagesPerConv, HtmlGen.page(seed, i)) }

  def writeHtml(spark: SparkSession, seed: Long, path: Path): Unit = {
    import spark.implicits._
    spark.range(0, HtmlPages, 1, HtmlFiles).as[Long]
      .map(i => HtmlGen.turn(seed, htmlOrder(i).toInt))
      .write.mode("overwrite").parquet(path.toString)
  }

  /** Snapshot offsets for the incremental steps: distinct blocks of
    * `IncConvs` conversations past conversation 0, in seeded order. */
  def incOffsets(seed: Long): Iterator[Int] = {
    val r = new Rng(seed)
    val blocks = (0 until IncBlocks).toArray
    for (i <- blocks.indices.reverse) {
      val j = r.nextInt(i + 1); val t = blocks(i); blocks(i) = blocks(j); blocks(j) = t
    }
    blocks.iterator.map(b => 1 + b * IncConvs)
  }

  def incTurns(offset: Int): IndexedSeq[(String, Int, String)] =
    (offset until offset + IncConvs).flatMap { c =>
      (0 until TranscriptGen.convSize(c, Giant)).map { t =>
        val x = TranscriptGen.turn(c, t); (x.conv_id, x.turn_idx, x.text)
      }
    }

  // ---------------------------------------------------------------- checks

  /** Fork-join over `cores` threads of contiguous slices of `0 until n`. */
  def par[A](n: Int, cores: Int)(slice: Range => A): Seq[A] = {
    val step = (n + cores - 1) / math.max(1, cores)
    val slices = (0 until n by math.max(1, step)).map(s => s until math.min(n, s + step))
    val out = new Array[Any](slices.length)
    val threads = slices.indices.map { k =>
      val t = new Thread(() => out(k) = slice(slices(k)))
      t.start(); t
    }
    threads.foreach(_.join())
    out.toSeq.map(_.asInstanceOf[A])
  }

  final case class Oracle(fp: Fingerprint, nonOk: Long)

  /** The reference: `Extract.extractTurn` on every turn, outside Spark. Each
    * turn is extracted by itself, so slicing the turns over threads cannot
    * change the result; it only bounds the time the check takes. */
  def oracle(turns: IndexedSeq[(String, Int, String)], cores: Int): Oracle =
    par(turns.length, cores) { r =>
      r.foldLeft(Oracle(Fingerprint.empty, 0)) { (acc, i) =>
        val (c, t, text) = turns(i)
        val e = Extract.extractTurn(c, t, text)
        Oracle(acc.fp.add(rowKey(Seq(e.conv_id, e.turn_idx, e.doc_type, e.extracted_text,
          Extract.sectionsToJson(e.sections), Extract.fieldsToJson(e.fields),
          Extract.fieldsToJson(e.field_src), e.signature_present, e.confidence, e.status))),
          acc.nonOk + (if (e.status == "ok") 0 else 1))
      }
    }.reduce((a, b) => Oracle(a.fp ++ b.fp, a.nonOk + b.nonOk))

  /** The directories one operation committed, and its commit-marker turns. */
  final case class Output(results: Seq[String], lineage: Seq[String], markerTurns: Option[Long])

  /** Fingerprint of the committed rows of each file, summed in Spark. */
  def fileFingerprints(spark: SparkSession, results: Seq[String]): Seq[(String, Fingerprint)] =
    spark.read.parquet(results: _*).select(Compared.map(col) :+ input_file_name(): _*).rdd
      .mapPartitions { it =>
        val byFile = scala.collection.mutable.HashMap.empty[String, Fingerprint]
        it.foreach { r =>
          val f = r.getString(Compared.length)
          byFile(f) = byFile.getOrElse(f, Fingerprint.empty).add(rowKey(r.toSeq.init))
        }
        byFile.iterator
      }.collect().toSeq

  def fileLineageTurns(spark: SparkSession, paths: Seq[String]): Seq[(String, Long)] =
    spark.read.parquet(paths: _*).groupBy(input_file_name()).agg(sum("turn_count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq

  /** The values of the files that lie under one of `dirs`. */
  def under[A](files: Seq[(String, A)], dirs: Seq[String]): Seq[A] = {
    val roots = dirs.map(d => Paths.get(d).normalize)
    files.collect { case (f, a) if roots.exists(Paths.get(new URI(f).getPath).normalize.startsWith) => a }
  }

  def markerTurns(out: Path, snapshot: Long): Long = {
    val m = """"turns":(\d+)""".r
    m.findFirstMatchIn(Files.readString(ExtractJob.commitMarker(out.toString, snapshot)))
      .map(_.group(1).toLong).getOrElse(-1L)
  }

  /** Output check of each operation's committed rows against the oracle:
    * count, multiset fingerprint, lineage turn sum and commit-marker turns
    * must all agree. Two Spark jobs check every output, each summing per
    * file; the sums commute, so how the files split does not matter. */
  def check(spark: SparkSession, expected: Oracle, outs: Seq[Output]): Seq[Seq[String]] = {
    val fps = fileFingerprints(spark, outs.flatMap(_.results))
    val lineage = fileLineageTurns(spark, outs.flatMap(_.lineage))
    outs.map { o =>
      val got = under(fps, o.results).foldLeft(Fingerprint.empty)(_ ++ _)
      val lin = under(lineage, o.lineage).sum
      Seq(
        Option.when(got != expected.fp)(s"rows ${got.hex} != oracle ${expected.fp.hex}"),
        Option.when(lin != expected.fp.rows)(s"lineage turns $lin != ${expected.fp.rows}"),
        o.markerTurns.filter(_ != expected.fp.rows).map(m => s"marker turns $m != ${expected.fp.rows}")
      ).flatten
    }
  }

  /** `check` of repeated operations, each of which must also report every
    * turn committed. */
  def checkOps(spark: SparkSession, expected: Oracle, committed: Seq[Long],
      outs: Seq[Output]): Seq[String] =
    committed.zip(check(spark, expected, outs)).zipWithIndex.flatMap { case ((n, ps), i) =>
      (Option.when(n != expected.fp.rows)(s"committed $n turns, expected ${expected.fp.rows}") ++ ps)
        .map(p => s"op $i: $p")
    }

  // ---------------------------------------------------------------- ladder

  /** The projection `ExtractJob.extract` starts with. */
  def projected(df: DataFrame): DataFrame =
    df.select(col("conv_id"), col("turn_idx"), col("text"),
      coalesce(input_file_name(), lit("")).as("input_file"))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The layer ladder over one input: each rung calls one more layer than
    * the one before, and the last rung is the workload's own operation. */
  def ladder(spark: SparkSession, read: () => DataFrame, presorted: Boolean,
      writeTo: Path, full: () => Unit): Seq[(String, () => Unit)] = {
    import spark.implicits._
    def ordered = {
      val p = projected(read())
      if (presorted) p else p.sortWithinPartitions($"conv_id", $"turn_idx")
    }
    def extracted = ExtractJob.extract(spark, read(), salted = false, saltBuckets = 16,
      presorted = presorted).toDF()
    Seq("scan" -> (() => noop(projected(read())))) ++
      (if (presorted) Nil else Seq("sort" -> (() => noop(ordered)))) ++
      Seq(
        "decode" -> (() => ordered.as[TurnSlim].foreachPartition(
          (it: Iterator[TurnSlim]) => it.foreach(_ => ()))),
        "extract" -> (() => noop(extracted)),
        "write" -> (() => Sinks.writeParquet(extracted, writeTo.toString)),
        "full" -> full)
  }

  /** Run every rung once, traced and charged to `rung:<name>:<rep>`. */
  def climb(run: Run, rungs: Seq[(String, () => Unit)], rep: Int): Seq[(String, Double)] =
    rungs.map { case (name, f) =>
      name -> run.timed(TaskLedger.tagged(run.spark.sparkContext, s"rung:$name:$rep") {
        run.tracer.span(s"rung:$name")(f())
      })._2
    }

  /** Per-layer metrics of the ladder runs: rung medians, their differences
    * (each layer's self time) and the listener's task counters. */
  def ladderMetrics(run: Run, climbs: Seq[Seq[(String, Double)]], writeDir: Path,
      untracedS: Double, scanBytes: Double): Seq[(String, Double, String)] = {
    val sc = run.spark.sparkContext
    TaskLedger.drain(sc)
    val names = climbs.head.map(_._1)
    val med = names.map(n => n -> Stats.median(climbs.map(_.toMap.apply(n)))).toMap
    val self = names.zip(Stats.ladderSelf(names.map(med))).toMap
    val reps = climbs.length.toDouble
    def tagged(rung: String) = run.ledger.sum(_.startsWith(s"rung:$rung:"))
    val full = tagged("full")
    val extractStage = run.ledger.stageTaskSeconds(_.startsWith("rung:full:"))
      .filter(_.nonEmpty).maxByOption(_.sum)
    val skew = extractStage.map(ts => ts.max / math.max(1e-3, Stats.median(ts))).getOrElse(0.0)
    val files = if (Files.isDirectory(writeDir))
      Files.list(writeDir).iterator().asScala.count(_.toString.endsWith(".parquet")) else 0
    Seq(
      ("table.scan_s", med("scan"), "s"),
      ("table.scan_bytes", scanBytes, "bytes"),
      ("job.sort_s", self.getOrElse("sort", 0.0), "s"),
      ("job.decode_s", self("decode"), "s"),
      ("job.extract_encode_s", self("extract"), "s"),
      ("sink.write_s", self("write"), "s"),
      ("sink.output_bytes", tagged("write").outputBytes / reps, "bytes"),
      ("sink.files", files.toDouble, "count"),
      ("job.lineage_commit_s", self("full"), "s"),
      ("job.jobs_per_snapshot", full.jobs / reps, "count"),
      ("job.tasks", full.tasks / reps, "count"),
      ("job.task_run_s", full.runS / reps, "s"),
      ("job.task_cpu_s", full.cpuS / reps, "s"),
      ("job.task_wait_s", (full.runS - full.cpuS) / reps, "s"),
      ("job.gc_s", full.gcS / reps, "s"),
      ("job.task_skew", skew, "ratio"),
      ("trace.ladder_top_s", med("full"), "s"),
      ("trace.untraced_s", untracedS, "s"),
      ("trace.overhead_share", med("full") / untracedS - 1, "ratio"))
  }

  // ---------------------------------------------------------------- pure

  /** The extractor alone over the workload's texts: per-turn latency on one
    * thread, throughput on one and on `cores` threads, and the cost of each
    * component of `Extract.extractTurn`, each timed as its own pass. */
  def pure(run: Run, turns: IndexedSeq[(String, Int, String)]): Seq[(String, Double, String)] =
    run.tracer.span("pure") {
      val n = turns.length
      val ns = new Array[Double](n)
      val (_, one) = run.timed(run.tracer.span("pure:1") {
        var i = 0
        while (i < n) {
          val (c, t, text) = turns(i)
          val t0 = System.nanoTime()
          Extract.extractTurn(c, t, text)
          ns(i) = (System.nanoTime() - t0).toDouble
          i += 1
        }
      })
      val many: Double = run.timed(run.tracer.span("pure:nproc") {
        par(n, run.o.cores)(r => r.foreach { i =>
          val (c, t, text) = turns(i); Extract.extractTurn(c, t, text) })
      })._2
      def pass[A](name: String)(f: => A): (A, Double) =
        run.timed(run.tracer.span(s"pure:$name")(f))
      val (stripped, tText) = pass("extract_text")(turns.map(x => Extract.extractText(x._3)))
      val (sections, tSeg) = pass("segment")(stripped.map(Extract.segment))
      val low = stripped.map(_.toLowerCase)
      val (docTypes, tCls) = pass("classify")(low.map(Extract.classifyLow))
      val (anchors, tKv) = pass("kv_anchors")(stripped.map(s => Extract.kvAnchors(s).toMap))
      // the same routing as extractTurn's; the public facesheet,
      // prescription and insurance banks lowercase the text once more, which
      // extractTurn does not, so a pass of that lowercasing alone is
      // subtracted from the bank's time
      val (banks, tBankCalls) = pass("bank")(stripped.indices.map { i =>
        val d = docTypes(i); val s = stripped(i)
        if (d == "FACESHEET") Extract.facesheetBank(s)
        else if (d.contains("PRESCRIPTION")) Extract.prescriptionBank(s)
        else if (d.contains("AGREEMENT")) Extract.agreementBank(s)
        else if (d == "INSURANCE") Extract.insuranceBank(s)
        else Map.empty[String, String]
      })
      val relowered = stripped.indices.filter { i =>
        val d = docTypes(i); d == "FACESHEET" || d.contains("PRESCRIPTION") || d == "INSURANCE"
      }.map(stripped)
      val (_, tLower) = pass("bank_lowercase")(relowered.map(_.toLowerCase))
      val tBank = tBankCalls - tLower
      val (_, tSig) = pass("signature")(low.map(Extract.detectSignatureLow))
      val (_, tJson) = pass("json")(stripped.indices.map { i =>
        val fields = anchors(i) ++ banks(i)
        val src = fields.map { case (k, _) => k -> (if (banks(i).contains(k)) "pattern" else "anchor") }
        Extract.sectionsToJson(sections(i)).length + Extract.fieldsToJson(fields).length +
          Extract.fieldsToJson(src).length
      })
      val perTurn = ns.toSeq
      def nsPer(s: Double) = s * 1e9 / n
      Seq(
        ("extract.turn_ns_p50", Stats.percentile(perTurn, 0.5), "ns"),
        ("extract.turn_ns_p99", Stats.percentile(perTurn, 0.99), "ns"),
        ("extract.turn_ns_max", perTurn.max, "ns"),
        ("extract.pure_turns_per_s", n / one, "turns/s"),
        ("extract.pure_turns_per_s_nproc", n / many, "turns/s"),
        ("extract.pure_scaling_eff", (n / many) / (run.o.cores * (n / one)), "ratio"),
        ("extract.extract_text_ns", nsPer(tText), "ns"),
        ("extract.segment_ns", nsPer(tSeg), "ns"),
        ("extract.classify_ns", nsPer(tCls), "ns"),
        ("extract.kv_anchors_ns", nsPer(tKv), "ns"),
        ("extract.bank_ns", nsPer(tBank), "ns"),
        ("extract.signature_ns", nsPer(tSig), "ns"),
        ("extract.json_ns", nsPer(tJson), "ns"))
    }

  /** Warm the extractor's code paths: two passes over the inputs. */
  def warmPure(turns: IndexedSeq[(String, Int, String)], cores: Int): Unit =
    for (_ <- 0 until 2) par(turns.length, cores)(r => r.foreach { i =>
      val (c, t, text) = turns(i); Extract.extractTurn(c, t, text) })

  // ---------------------------------------------------------------- workloads

  /** forms_bulk. Timed: `ExtractJob.run` of the whole snapshot at
    * local[cores], repeated into fresh output directories. */
  def formsBulk(run: Run): Result = {
    val o = run.o
    val nConvs = formsConvs(o.seed)
    val turns = formsTurns(nConvs)
    var appendS = 0.0
    val (table, setupS) = run.setups { i =>
      val spark = run.session(o.cores)
      val dir = run.work.resolve(s"forms$i/table")
      appendS = run.timed(TranscriptsTable.appendSnapshot(spark, dir.toString, 1, 0, nConvs,
        Giant, buckets = Buckets, rowGroupBytes = Some(RowGroupBytes)))._2
      dir
    }
    val spark = run.spark
    val snap = TranscriptsTable.readManifest(table.toString).head
    def op(out: Path): Long = ExtractJob.run(spark,
      ExtractJob.Config(table.toString, out.toString, runId = run.runId)).map(_._2).sum
    run.warmup { warmPure(turns, o.cores); (0 until FormsWarmOps).foreach(k => op(run.work.resolve(s"warm$k"))) }
    val ops = run.measure(i => op(run.work.resolve(s"out$i")))
    val expected = oracle(turns, o.cores)
    val problems = checkOps(spark, expected, ops.map(_._1), ops.indices.map { i =>
      val out = run.work.resolve(s"out$i")
      Output(Seq(s"$out/results/snapshot=1"), Seq(s"$out/lineage/snapshot=1"), Some(markerTurns(out, 1)))
    })
    problems.foreach(p => System.err.println(s"layerbench: forms_bulk: $p"))
    val opS = ops.map(_._2)
    val turnsPerS = ops.map(_._1).sum / opS.sum
    val perLayer =
      if (!o.trace) Nil
      else {
        val untraced = Stats.median(opS)
        val writeDir = run.work.resolve("rung-write")
        var fulls = 0
        val rungs = ladder(spark, () => TranscriptsTable.readSnapshot(spark, snap), presorted = true,
          writeDir, () => { fulls += 1; op(run.work.resolve(s"rung-full$fulls")) })
        val climbs = (0 until 2).map(climb(run, rungs, _))
        val layers = ladderMetrics(run, climbs, writeDir, untraced, fileBytes(table.resolve("snapshot=1")))
        val pureM = pure(run, turns)
        val one = run.session(1)
        val (n1, t1) = run.timed(run.tracer.span("local1")(ExtractJob.run(one,
          ExtractJob.Config(table.toString, run.work.resolve("out-1core").toString)).map(_._2).sum))
        layers ++ pureM ++ Seq(
          ("table.append_s", appendS, "s"),
          ("table.append_files", parquetFiles(table.resolve("snapshot=1")), "count"),
          ("job.quarantined_turns", expected.nonOk.toDouble, "turns"),
          ("job.turns_per_s_1core", n1 / t1, "turns/s"),
          ("job.scaling_eff", turnsPerS / (o.cores * n1 / t1), "ratio"))
      }
    extractResult(run, "turns_per_s", setupS, opS, turnsPerS, ops.length.toLong * turns.length,
      expected.nonOk * ops.length, problems, perLayer,
      Seq("convs" -> nConvs, "turns" -> turns.length, "ops" -> ops.length))
  }

  /** html_long. Timed: the sequence `runSnapshot` uses, on pages that are
    * not presorted: `ExtractJob.extract` → `Sinks.writeParquet` →
    * `ExtractJob.lineageFromStats`, written. */
  def htmlLong(run: Run): Result = {
    val o = run.o
    val turns = htmlTurns(o.seed)
    val (pages, setupS) = run.setups { i =>
      val path = run.work.resolve(s"html$i/pages")
      writeHtml(run.session(o.cores), o.seed, path)
      path
    }
    val spark = run.spark
    run.warmup {
      warmPure(turns, o.cores)
      (0 until WarmOps).foreach(k => htmlOp(spark, pages, run.work.resolve(s"warm$k"), run.runId))
    }
    val ops = run.measure(i => htmlOp(spark, pages, run.work.resolve(s"out$i"), run.runId))
    val expected = oracle(turns, o.cores)
    val problems = checkOps(spark, expected, ops.map(_._1), ops.indices.map { i =>
      val out = run.work.resolve(s"out$i")
      Output(Seq(s"$out/results"), Seq(s"$out/lineage"), None)
    })
    problems.foreach(p => System.err.println(s"layerbench: html_long: $p"))
    val opS = ops.map(_._2)
    val turnsPerS = ops.map(_._1).sum / opS.sum
    val perLayer =
      if (!o.trace) Nil
      else {
        val writeDir = run.work.resolve("rung-write")
        val rungs = ladder(spark, () => spark.read.parquet(pages.toString), presorted = false,
          writeDir, () => htmlOp(spark, pages, run.work.resolve("rung-full"), run.runId))
        val climbs = (0 until 2).map(climb(run, rungs, _))
        val layers = ladderMetrics(run, climbs, writeDir, Stats.median(opS), fileBytes(pages))
        val pureM = pure(run, turns)
        val one = run.session(1)
        val (n1, t1) = run.timed(run.tracer.span("local1")(
          htmlOp(one, pages, run.work.resolve("out-1core"), run.runId)))
        layers ++ pureM ++ Seq(
          ("table.append_s", 0.0, "s"),
          ("table.append_files", 0.0, "count"),
          ("job.quarantined_turns", expected.nonOk.toDouble, "turns"),
          ("job.turns_per_s_1core", n1 / t1, "turns/s"),
          ("job.scaling_eff", turnsPerS / (o.cores * n1 / t1), "ratio"))
      }
    val malformed = (0 until HtmlPages).count(HtmlGen.isMalformed(o.seed, _))
    extractResult(run, "turns_per_s", setupS, opS, turnsPerS, ops.length.toLong * turns.length,
      expected.nonOk * ops.length, problems, perLayer,
      Seq("pages" -> HtmlPages, "malformed_pages" -> malformed,
        "mean_page_chars" -> turns.map(_._3.length.toLong).sum / HtmlPages, "ops" -> ops.length))
  }

  def htmlOp(spark: SparkSession, pages: Path, out: Path, runId: String): Long = {
    val acc = new ExtractJob.LineageAccumulator
    spark.sparkContext.register(acc)
    val results = ExtractJob.extract(spark, spark.read.parquet(pages.toString), salted = false,
      saltBuckets = 16, presorted = false, lineageAcc = Some(acc))
    Sinks.writeParquet(results.toDF(), s"$out/results")
    val stats = acc.value
    ExtractJob.lineageFromStats(spark, stats, runId, 1)
      .write.mode("overwrite").parquet(s"$out/lineage")
    stats.valuesIterator.map(_.turnCount).sum
  }

  /** incremental. Timed, per step: `TranscriptsTable.appendSnapshot` of a
    * small snapshot, then the `ExtractJob.run` that commits it; the run
    * ends with one `ExtractJob.run` that must find nothing to do. */
  def incremental(run: Run): Result = {
    val o = run.o
    val offsets = incOffsets(o.seed)
    var snapId = 0L
    val committed = scala.collection.mutable.ArrayBuffer.empty[Int]
    def append(spark: SparkSession, table: Path): TranscriptsTable.SnapshotRef = {
      snapId += 1
      val off = offsets.next()
      committed += off
      TranscriptsTable.appendSnapshot(spark, table.toString, snapId, off, IncConvs,
        Giant, buckets = Buckets, rowGroupBytes = Some(RowGroupBytes))
    }
    val (table, setupS) = run.setups { i =>
      val table = run.work.resolve(s"inc$i/table")
      snapId = 0; committed.clear()
      append(run.session(o.cores), table)
      table
    }
    val out = run.work.resolve("out")
    val spark = run.spark
    val cfg = ExtractJob.Config(table.toString, out.toString, runId = run.runId)
    final case class Step(appendS: Double, commitS: Double, turns: Long)
    def step(): Step = {
      val (snap, a) = run.timed(run.tracer.span("append")(append(spark, table)))
      val (done, c) = run.timed(run.tracer.span("commit")(ExtractJob.run(spark, cfg)))
      require(done.map(_._1) == Seq(snap.id), s"commit ran ${done.map(_._1)}, expected ${snap.id}")
      Step(a, c, done.map(_._2).sum)
    }
    run.warmup {
      warmPure(incTurns(committed.head), o.cores)
      ExtractJob.run(spark, cfg)
      (0 until WarmOps).foreach(_ => step())
    }
    val steps = run.measure(_ => step()).map(_._1)
    val (resumed, resumeS) = run.timed(ExtractJob.run(spark, cfg))
    val turns = committed.toSeq.flatMap(incTurns).toIndexedSeq
    val expected = oracle(turns, o.cores)
    val ids = 1L to snapId
    val problems = Option.when(resumed.nonEmpty)(s"resume run redid ${resumed.map(_._1)}").toSeq ++
      check(spark, expected, Seq(Output(ids.map(id => s"$out/results/snapshot=$id"),
        ids.map(id => s"$out/lineage/snapshot=$id"), Some(ids.map(markerTurns(out, _)).sum)))).flatten
    problems.foreach(p => System.err.println(s"layerbench: incremental: $p"))
    val commitS = steps.map(_.commitS)
    val appendS = steps.map(_.appendS)
    val stepTurns = steps.map(_.turns).sum
    val turnsPerS = stepTurns / (commitS.sum + appendS.sum)
    val perLayer =
      if (!o.trace) Nil
      else {
        val writeDir = run.work.resolve("rung-write")
        val climbs = (0 until 6).map { k =>
          val (snap, a) = run.timed(run.tracer.span("append")(append(spark, table)))
          val rungs = ladder(spark, () => TranscriptsTable.readSnapshot(spark, snap),
            presorted = true, writeDir, () => ExtractJob.run(spark, cfg))
          climb(run, rungs, k) :+ ("append" -> a)
        }
        val lastSnap = table.resolve(s"snapshot=$snapId")
        val layers = ladderMetrics(run, climbs.map(_.filter(_._1 != "append")), writeDir,
          Stats.median(commitS), fileBytes(lastSnap))
        layers ++ pure(run, turns) ++ Seq(
          ("table.append_s", Stats.median(climbs.map(_.toMap.apply("append"))), "s"),
          ("table.append_files", parquetFiles(lastSnap), "count"),
          ("job.quarantined_turns", expected.nonOk.toDouble, "turns"),
          ("job.turns_per_s_1core", 0.0, "turns/s"),
          ("job.scaling_eff", 0.0, "ratio"))
      }
    val tail = Stats.tail(commitS)
    extractResult(run, "turns_per_s", setupS, commitS, turnsPerS, stepTurns,
      expected.nonOk, problems, perLayer,
      Seq("snapshots" -> steps.length, "snapshot_convs" -> IncConvs,
        "commit_p50_s" -> Stats.median(commitS),
        "commit_tail" -> tail.fold[Any]("fewer than 20 commits")(t => Seq(
          "percentile" -> t.q * 100, "value_s" -> t.value, "beyond" -> t.beyond, "n" -> t.n)),
        "append_p50_s" -> Stats.median(appendS), "resume_noop_s" -> resumeS))
  }

  private def parquet(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq

  def parquetFiles(dir: Path): Double = parquet(dir).length.toDouble

  /** Bytes of the parquet files under `dir`. The scan's own input metric
    * cannot stand in for it: the parquet reader fetches column chunks on
    * other threads than the task's, so the task counts little more than
    * the footers. */
  def fileBytes(dir: Path): Double = parquet(dir).map(Files.size).sum.toDouble

  private def extractResult(run: Run, rateName: String, setupS: Double, opS: Seq[Double],
      turnsPerS: Double, attempted: Long, nonOk: Long, problems: Seq[String],
      perLayer: Seq[(String, Double, String)], extra: Seq[(String, Any)]): Result = {
    val failed = nonOk + problems.length
    Result(problems.isEmpty, attempted, failed,
      endToEnd = Seq(("setup_s", setupS, "s"), ("op_p50_s", Stats.median(opS), "s"),
        ("items_per_s", turnsPerS, "1/s")),
      perLayer = Metrics.complete(perLayer),
      report = Seq("workload" -> run.o.workload, rateName -> turnsPerS,
        "op_p50_s" -> Stats.median(opS), "setup_s" -> setupS,
        "failed_share" -> failed.toDouble / attempted) ++ extra)
  }
}

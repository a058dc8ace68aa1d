package layerbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.gen.Rng
import graft.queries._
import Stats.Fingerprint

/** The `catalog` workload: a fixed, module-stratified subset of
  * `SparkEntry.queries` over a copy of the sf0.1 test tables.
  *
  * One pass over all 184 entries takes over three minutes on four cores,
  * longer than one benchmark run may last, so a run times the `Timed`
  * subset: the twelve ROADMAP targets, the catalog's slow, shuffle-heavy
  * tail, and 22 entries of the floor, covering every query module, about
  * 40 seconds a pass in a fresh JVM on four cores. The floor entries
  * outnumber the targets nearly two to one, so that the median entry time
  * falls inside the floor and measures it, and the pass's rate the tail. Each
  * entry runs once per pass, so its time includes compiling its generated
  * code, as it does for a user's one-off query. Every result is checked
  * against a recorded row count and fingerprint, confirmed once against
  * the DuckDB oracle (`layerbench/catalog_refs.tsv`, see README.md).
  */
object Catalog {

  val DataDir = "layerbench/data/sf0.1"
  val RefsFile = "layerbench/catalog_refs.tsv"

  val Timed: Seq[String] = Metrics.Targets ++ Seq(
    "q_anti_join", "q_distinct", "q_events_props_regex",
    "r1_patient_bank", "f_filters", "r4_icd_fallback", "s4_hash_lookup",
    "ta_length_histogram", "ta_char_entropy", "dd_minhash_sig",
    "x_pipeline_insurance", "x_extract_spans", "kv_anchors", "r9_phone_sweep", "p3_segment",
    "tr_refusal_rate", "tr_context_windows", "sk_spacesaving_topk", "src_zorder_tiles",
    "q_grouping_sets", "ta_psi_drift", "ta_zscore_outliers")

  /** Run once after the set-ups, never timed: entries outside `Timed` that
    * share its code paths (document scans, regex banks, the extractor,
    * joins, windows), so that the timed pass finds the JVM warm and an
    * entry's time does not depend on how early in the pass it runs. */
  val Warmup: Seq[String] = Seq("q_sort_limit", "q_semi_join", "r2_date_bank",
    "tr_role_alternation", "x_e2e_extract", "dd_simhash", "ta_tokencount")

  val modules: Seq[(String, Seq[(String, Q.Entry)])] = Seq(
    "CoreQueries" -> CoreQueries.entries, "DocQueries" -> DocQueries.entries,
    "PipelineQueries" -> PipelineQueries.entries, "XQueries" -> XQueries.entries,
    "OpQueries" -> OpQueries.entries, "TranscriptQueries" -> TranscriptQueries.entries,
    "SketchQueries" -> SketchQueries.entries, "SourceQueries" -> SourceQueries.entries,
    "OlapQueries" -> OlapQueries.entries, "GraphQueries" -> GraphQueries.entries)

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, es) => es.map(_._1 -> m) }.toMap

  def order(seed: Long, names: Seq[String]): Seq[String] = {
    val r = new Rng(seed)
    names.map(n => (r.nextLong(), n)).sortBy(_._1).map(_._2)
  }

  def readRefs(root: Path): Map[String, String] =
    Files.readAllLines(root.resolve(RefsFile)).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, fp) = l.split("\t"); n -> fp }.toMap

  final case class Exec(name: String, seconds: Double, planS: Double, fp: Fingerprint)

  /** Run one entry: build it, collect its rows (timed), then fingerprint
    * them (not timed). */
  def exec(run: Run, dir: String, name: String, tag: String): Exec = {
    val spark = run.spark
    val ((df, rows), s) = run.timed(TaskLedger.tagged(spark.sparkContext, tag) {
      run.tracer.span(s"query:$name") {
        val df = SparkEntry.queries(name)(spark, dir)
        (df, df.collect())
      }
    })
    val planS = df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
    Exec(name, s, planS, Fingerprint.of(rows.iterator.map(Stats.canonRow)))
  }

  def storageUsed(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  def run(run: Run): Result = {
    val o = run.o
    val dir = o.root.resolve(DataDir).toString
    val refs = readRefs(o.root)
    val tables = Files.list(o.root.resolve(DataDir)).iterator().asScala.toSeq.sorted
    val (_, setupS) = run.setups { _ =>
      val spark = run.session(o.cores)
      tables.foreach(t => spark.read.parquet(t.toString).schema)
    }
    run.warmup(Warmup.foreach(w => SparkEntry.queries(w)(run.spark, dir).collect()))
    // one pass, sized to the run length on four cores: a second pass would
    // find every entry's generated code compiled and read faster
    val (execs, passTotal) = run.timed(order(o.seed, Timed).map(n => exec(run, dir, n, s"q:$n")))
    run.markPeak()
    run.note(execs.map(e => f"${e.name} ${e.seconds}%.2f").mkString("entries: ", ", ", ""))
    def mismatches(es: Seq[Exec]): Seq[Exec] = {
      val bad = es.filter(e => !refs.get(e.name).contains(e.fp.hex))
      bad.foreach(e => System.err.println(
        s"layerbench: catalog: ${e.name} gave ${e.fp.hex}, reference ${refs.getOrElse(e.name, "none")}"))
      bad
    }
    val mismatched = mismatches(execs)
    val secs = execs.map(_.seconds)
    val (perLayer, tracedBad) =
      if (!o.trace) (Nil, 0)
      else {
        val spark = run.spark
        // the timed pass ran each entry for the first time; compare the
        // traced pass with an untraced pass that is just as warm
        val warm = order(o.seed, Timed).map(n => exec(run, dir, n, s"u:$n"))
        val untraced = warm.map(_.seconds).sum
        val before = storageUsed(spark)
        val traced = run.tracer.span("pass")(order(o.seed, Timed).map(n => exec(run, dir, n, s"t:$n")))
        val growth = storageUsed(spark) - before
        TaskLedger.drain(spark.sparkContext)
        val bad = mismatches(warm ++ traced).length
        val sub = run.ledger.sum(_.startsWith("t:"))
        val plan = traced.map(_.planS).sum
        val tracedTotal = traced.map(_.seconds).sum
        (Seq(
          ("catalog.plan_s", plan, "s"),
          ("catalog.exec_s", tracedTotal - plan, "s"),
          ("catalog.jobs", sub.jobs.toDouble, "count"),
          ("catalog.stages", sub.stages.toDouble, "count"),
          ("catalog.tasks", sub.tasks.toDouble, "count"),
          ("catalog.shuffle_bytes", sub.shuffleBytes.toDouble, "bytes"),
          ("catalog.spill_bytes", sub.spillBytes.toDouble, "bytes"),
          ("catalog.gc_s", sub.gcS, "s"),
          ("catalog.blockmgr_growth_bytes", growth, "bytes")) ++
          Metrics.Modules.map(m => (s"catalog.module.${m}_s",
            traced.filter(e => moduleOf(e.name) == m).map(_.seconds).sum, "s")) ++
          Metrics.Targets.flatMap { t =>
            val e = traced.find(_.name == t).get
            Seq((s"query.$t.s", e.seconds, "s"),
              (s"query.$t.shuffle_bytes", run.ledger.sum(_ == s"t:$t").shuffleBytes.toDouble, "bytes"))
          } ++ Seq(
            ("trace.ladder_top_s", tracedTotal, "s"),
            ("trace.untraced_s", untraced, "s"),
            ("trace.overhead_share", tracedTotal / untraced - 1, "ratio")), bad)
      }
    val tail = Stats.tail(secs)
    Result(mismatched.isEmpty && tracedBad == 0, execs.length, mismatched.length + tracedBad,
      endToEnd = Seq(("setup_s", setupS, "s"), ("op_p50_s", Stats.median(secs), "s"),
        ("items_per_s", execs.length / secs.sum, "1/s")),
      perLayer = Metrics.complete(perLayer),
      report = Seq("workload" -> o.workload, "query_p50_s" -> Stats.median(secs),
        "query_tail" -> tail.fold[Any](s"fewer than 20 entries (${secs.length})")(t => Seq(
          "percentile" -> t.q * 100, "value_s" -> t.value, "beyond" -> t.beyond, "n" -> t.n)),
        "catalog_total_s" -> passTotal, "entries" -> Timed.length, "setup_s" -> setupS,
        "failed_share" -> mismatched.length.toDouble / execs.length))
  }

  /** Record the reference fingerprints: run each checked entry once, write
    * its rows as parquet next to the oracle SQL so that
    * `tools/check_oracle.py <data> <out>` can confirm them against DuckDB,
    * and print `name<TAB>fingerprint` lines for `catalog_refs.tsv`. */
  def recordRefs(run: Run, out: Path): Unit = {
    val spark = run.session(run.o.cores)
    val dir = run.o.root.resolve(DataDir).toString
    val names = Timed.sorted
    val oracle = names.map { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val fp = Fingerprint.of(df.collect().iterator.map(Stats.canonRow))
      df.write.mode("overwrite").parquet(out.resolve(n).toString)
      println(s"$n\t${fp.hex}")
      n -> SparkEntry.oracleSql.getOrElse(n, sys.error(s"$n has no oracle"))
    }
    Files.writeString(out.resolve("oracle_sql.json"), Json.obj(oracle))
  }
}

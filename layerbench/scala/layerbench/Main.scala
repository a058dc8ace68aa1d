package layerbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command line and shared plumbing of the layered benchmark.
  *
  * `layerbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --cores <n> --root <checkout>` runs one workload in this JVM and prints,
  * last on stdout, one JSON object with `correct`, `attempted`, `failed`
  * and `metrics`. With `--trace 0` the metrics are the end-to-end set; with
  * `--trace 1` they are the per-layer set. `layerbench/run.py` builds the
  * classes and starts this JVM.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, root: Path)

  val Workloads: Seq[String] = Seq("forms_bulk", "html_long", "incremental", "catalog")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, Paths.get(need("root")).toAbsolutePath)
    require(Workloads.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${Workloads.mkString(", ")}")
    require(o.seconds > 0, "--seconds must be positive")
    require(o.cores >= 1, "--cores must be at least 1")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"layerbench: ${e.getMessage}"); sys.exit(2)
    }
    val nproc = Runtime.getRuntime.availableProcessors
    if (o.cores > nproc) {
      System.err.println(s"layerbench: refusing to run local[${o.cores}] on $nproc processors")
      sys.exit(2)
    }
    val (run, result) = runWorkload(o)
    println("env " + Json.obj(run.env))
    println("report " + Json.obj(result.report))
    println(result.json(o.trace, run.peakRssMb))
  }

  def runWorkload(o: Opts): (Run, Result) = {
    val run = new Run(o)
    val result =
      try o.workload match {
        case "forms_bulk" => Extracts.formsBulk(run)
        case "html_long" => Extracts.htmlLong(run)
        case "incremental" => Extracts.incremental(run)
        case "catalog" => Catalog.run(run)
      } finally run.close()
    (run, result)
  }

  /** High-water resident set of this JVM, from /proc. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}

/** What a workload hands back: its output-check verdict, its operation
  * counts, its metrics and a human report in the ROADMAP's own terms. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Seq[(String, Double, String)], perLayer: Seq[(String, Double, String)],
    report: Seq[(String, Any)]) {

  def json(trace: Boolean, peakRssMb: Double): String = {
    val ms =
      if (trace) perLayer
      else endToEnd :+ (("peak_rss_mb", peakRssMb, "MB"))
    val metrics = ms.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $metrics}"""
  }
}

object Json {
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
  def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case kvs: Seq[(String, Any)] @unchecked => obj(kvs)
    case s => str(s.toString)
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s""""$k": ${value(v)}""" }.mkString("{", ", ", "}")
}

/** One benchmark run: its options, work directory, tracer, listener and the
  * Spark session it currently holds. */
final class Run(val o: Main.Opts) {
  val runId: String = s"${o.workload}-${o.seed}-${ProcessHandle.current.pid}"
  val work: Path = o.root.resolve(".bench_work").resolve(runId)
  val tracer = new Tracer(runId, o.trace)
  val ledger = new TaskLedger
  private var current: SparkSession = _

  Files.createDirectories(work)

  val settings: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.files.maxPartitionBytes" -> "1m",
    "spark.sql.files.openCostInBytes" -> "0",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Stop the held session, if any, and start a fresh `local[cores]` one. */
  def session(cores: Int): SparkSession = {
    if (current != null) current.stop()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(runId)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    current = settings.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    current.sparkContext.setLogLevel("WARN")
    if (o.trace) current.sparkContext.addSparkListener(ledger)
    current
  }

  def spark: SparkSession = current

  /** Wall seconds of `body`, and its value. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Set the workload up `SetupRuns` times, each time a fresh session and
    * freshly generated input, and keep the last set-up. The median of the
    * set-up times is the `setup_s` metric; the first set-up also pays the
    * JVM's own start, so the median is the steadier figure. */
  def setups[A](one: Int => A): (A, Double) = {
    val done = (0 until Run.SetupRuns).map(i => timed(tracer.span("setup")(one(i))))
    note(f"set-ups ${done.map(_._2).map(s => f"$s%.2f").mkString(" ")} s")
    (done.last._1, Stats.median(done.map(_._2)))
  }

  /** Untimed operations after the set-ups, so that the timed ones find the
    * JIT settled and the caches filled. */
  def warmup(body: => Unit): Unit = {
    val (_, s) = timed(tracer.span("warmup")(body))
    note(f"warm-up $s%.2f s")
  }

  /** Repeat `op` until `o.seconds` have passed, at least once; returns each
    * repetition's value and seconds. */
  def measure[A](op: Int => A): Seq[(A, Double)] = {
    val end = System.nanoTime() + (o.seconds * 1e9).toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[(A, Double)]
    while (out.isEmpty || System.nanoTime() < end) out += timed(op(out.length))
    markPeak()
    note(f"timed ${out.map(_._2).map(s => f"$s%.2f").mkString(" ")} s")
    out.toSeq
  }

  private var peak = Double.NaN

  /** Read the JVM's high-water resident set now, at the end of the timed
    * phase: the output checks that follow allocate in the same JVM and
    * must not count. */
  def markPeak(): Unit = peak = Main.peakRssMb()

  def peakRssMb: Double = {
    require(!peak.isNaN, "no timed phase ended")
    peak
  }

  /** A progress line on stderr, stamped with the JVM's uptime. */
  def note(msg: String): Unit = System.err.println(
    f"layerbench: ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s  $msg")

  def env: Seq[(String, Any)] = Seq(
    "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
    "trace" -> o.trace, "cores" -> o.cores,
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jvm_options" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("-X")).mkString(" "),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "commit" -> sys.props.getOrElse("layerbench.commit", "unknown"),
    "source_sha" -> sys.props.getOrElse("layerbench.source", "unknown"),
    "session" -> (("spark.master" -> s"local[${o.cores}]") +:
      ("spark.sql.shuffle.partitions" -> o.cores.toString) +: settings))

  def close(): Unit = {
    if (current != null) current.stop()
    if (o.trace) tracer.write(o.root.resolve(".bench_work").resolve("traces").resolve(s"$runId.jsonl"))
    Run.deleteTree(work)
  }
}

object Run {
  val SetupRuns = 3

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.deleteIfExists)
}

/** Loads the classes the workloads use, so that the build can archive them
  * for class-data sharing: `layerbench.Train <checkout root> <cores>`. The
  * two workloads together touch nearly every class the other two load. */
object Train {
  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0)).toAbsolutePath
    val runs = for (w <- Seq("forms_bulk", "catalog"))
      yield Main.runWorkload(Main.Opts(w, 0, 0.1, trace = false, args(1).toInt, root))._1
    // Spark keeps the first session's local directory for the rest of the
    // JVM, so the second workload writes into the first one's work directory
    runs.foreach(r => Run.deleteTree(r.work))
  }
}

/** Records the catalog reference fingerprints:
  * `layerbench.RecordRefs <checkout root> <cores> <output dir>`. */
object RecordRefs {
  def main(args: Array[String]): Unit = {
    val run = new Run(Main.Opts("catalog", 0, 0, trace = false, args(1).toInt,
      Paths.get(args(0)).toAbsolutePath))
    try Catalog.recordRefs(run, Paths.get(args(2)).toAbsolutePath) finally run.close()
  }
}

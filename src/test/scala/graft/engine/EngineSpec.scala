package graft.engine

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.extract.Extract
import graft.gen.TranscriptGen

class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("engine-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): String =
    Files.createTempDirectory("graft-test").toString

  /** Canonical comparable form of one extracted row — the sink-boundary
    * JSON form, i.e. the exact strings the results table stores.
    */
  private def canon(convId: String, turnIdx: Int, docType: String,
      text: String, sectionsJson: String, fieldsJson: String,
      sig: Boolean, conf: Double, status: String): String =
    Seq(convId, turnIdx, docType, text, sectionsJson, fieldsJson,
      sig, conf, status).mkString("|#|")

  private def list(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.toVector finally st.close()
  }

  /** One snapshot of generator turns with every fifth text emptied, so the
    * extractor quarantines those turns as `failed:empty`; written sorted
    * within each file, as the presorted path of [[ExtractJob.runSnapshot]]
    * expects.
    */
  private def plantedFailures(dir: String): TranscriptsTable.SnapshotRef = {
    import spark.implicits._
    val path = s"$dir/snapshot=1"
    TranscriptGen.turns(20, 32).zipWithIndex
      .map { case (t, i) => if (i % 5 == 0) t.copy(text = "") else t }
      .toSeq.toDS()
      .repartition(2, $"conv_id").sortWithinPartitions("conv_id", "turn_idx")
      .write.parquet(path)
    TranscriptsTable.SnapshotRef(1, path, 20, 0)
  }

  private def oracleRows(nConvs: Int, giant: Int): Vector[String] =
    TranscriptGen.turns(nConvs, giant)
      .map(t => Extract.extractTurn(t.conv_id, t.turn_idx, t.text))
      .map(e => canon(e.conv_id, e.turn_idx, e.doc_type, e.extracted_text,
        Extract.sectionsToJson(e.sections), Extract.fieldsToJson(e.fields),
        e.signature_present, e.confidence, e.status))
      .toVector.sorted

  private def engineRows(dir: String, salted: Boolean): Vector[String] = {
    val turns = TranscriptsTable.readAll(spark, dir)
    ExtractJob.extract(spark, turns, salted, saltBuckets = 4)
      .collect()
      .map(r => canon(r.conv_id, r.turn_idx, r.doc_type, r.extracted_text,
        r.sections, r.fields, r.signature_present, r.confidence, r.status))
      .toVector.sorted
  }

  test("table directory is relocatable: manifest resolves after a move") {
    // snapshot paths are stored relative to the table root, so moving the
    // whole directory (benchmark table cache, storage-tier migration)
    // needs no metadata rewrite
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 5, 8, buckets = 2)
    val before = TranscriptsTable.readAll(spark, dir).count()
    val moved = dir + "-moved"
    Files.move(java.nio.file.Paths.get(dir), java.nio.file.Paths.get(moved))
    val snaps = TranscriptsTable.readManifest(moved)
    assert(snaps.nonEmpty && snaps.forall(_.path.startsWith(moved)),
      s"manifest did not resolve against the new root: $snaps")
    assert(TranscriptsTable.readAll(spark, moved).count() == before)
  }

  test("golden equality: engine output == single-threaded oracle, salted and unsalted") {
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, snapshotId = 1,
      convOffset = 0, nConvs = 30, giantScale = 64, buckets = 4)
    val golden = oracleRows(30, 64)
    assert(golden.nonEmpty)
    val unsalted = engineRows(dir, salted = false)
    val salted = engineRows(dir, salted = true)
    assert(unsalted == golden, "unsalted engine output differs from oracle")
    assert(salted == golden, "salted engine output differs from oracle")
  }

  test("typed view recovers structs from the JSON sink form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 6, 16, buckets = 2)
    val turns = TranscriptsTable.readAll(spark, dir)
    val res = ExtractJob.extract(spark, turns, salted = false, 4).toDF()
      .withColumn("sections_t", from_json($"sections", ExtractJob.SectionsSchema))
      .withColumn("fields_t", from_json($"fields", ExtractJob.FieldsSchema))
    val row = res.filter($"doc_type" === "FACESHEET")
      .select($"fields_t", size(map_keys($"fields_t")).as("nf"),
        element_at($"sections_t", 1).getField("header").as("h1"),
        substring($"extracted_text",
          element_at($"sections_t", 1).getField("start") + 1,
          element_at($"sections_t", 1).getField("len")).as("body1"))
      .head()
    assert(row.getAs[Int]("nf") > 5)
    assert(row.getAs[String]("h1") == "PATIENT INFORMATION")
    assert(row.getAs[String]("body1").startsWith("Patient Name:"))
  }

  test("partitioning invariance: 1, 2, 16 partitions yield identical rows") {
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 12, 32, buckets = 2)
    val base = engineRows(dir, salted = false)
    for (n <- Seq(1, 2, 16)) {
      val turns = TranscriptsTable.readAll(spark, dir).repartition(n)
      val got = ExtractJob.extract(spark, turns, salted = false, saltBuckets = 4)
        .collect()
        .map(r => canon(r.conv_id, r.turn_idx, r.doc_type, r.extracted_text,
          r.sections, r.fields, r.signature_present, r.confidence, r.status))
        .toVector.sorted
      assert(got == base, s"output differs at $n partitions")
    }
  }

  test("output ordering: results within a partition sorted by (conv_id, turn_idx)") {
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 10, 32, buckets = 2)
    val turns = TranscriptsTable.readAll(spark, dir)
    val perPart = ExtractJob.extract(spark, turns, salted = false, 4)
      .rdd.mapPartitions { it =>
        val rows = it.map(r => (r.conv_id, r.turn_idx)).toVector
        Iterator.single(rows == rows.sorted)
      }.collect()
    assert(perPart.forall(identity), "a partition violated (conv_id, turn_idx) order")
  }

  test("lineage counts: turn_count = ok + fail and totals match input") {
    val dir = tmpDir(); val out = tmpDir()
    val snap = TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 20, 32, buckets = 2)
    val cfg = ExtractJob.Config(dir, out)
    val n = ExtractJob.runSnapshot(spark, cfg, snap)
    val lin = spark.read.parquet(s"$out/lineage/snapshot=1")
    import spark.implicits._
    val (tc, ok, fail) = lin
      .agg(org.apache.spark.sql.functions.sum("turn_count"),
        org.apache.spark.sql.functions.sum("ok_count"),
        org.apache.spark.sql.functions.sum("fail_count"))
      .as[(Long, Long, Long)].head()
    assert(tc == n)
    assert(tc == ok + fail)
    assert(tc == TranscriptGen.totalTurns(20, 32))
    // input_files recorded
    val files = lin.select("input_files").as[Seq[String]].collect().flatten
    assert(files.exists(_.contains("snapshot=1")))
    // the single-pass (accumulator) lineage written by runSnapshot must
    // equal the audit recompute over the committed results, row for row
    val audit = ExtractJob.lineage(spark,
      spark.read.parquet(s"$out/results/snapshot=1"), cfg.runId, 1L)
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select("run_id", "snapshot_id", "partition_id", "input_files",
        "turn_count", "ok_count", "fail_count")
      .collect().map(_.toString).sorted.toVector
    assert(key(lin) == key(audit),
      "accumulator lineage differs from the audit recompute")
  }

  test("readAll spans multiple snapshots (sibling snapshot= roots, one table)") {
    // regression: without basePath, Spark partition discovery rejects two
    // sibling snapshot=N directories as CONFLICTING_DIRECTORY_STRUCTURES
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 5, 8, buckets = 2)
    TranscriptsTable.appendSnapshot(spark, dir, 2, 5, 5, 8, buckets = 2)
    val all = TranscriptsTable.readAll(spark, dir)
    val perSnap = TranscriptsTable.readManifest(dir)
      .map(s => TranscriptsTable.readSnapshot(spark, s).count()).sum
    assert(all.count() == perSnap)
    assert(all.columns.toSeq ==
      Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
  }

  test("fixed-schema reads: a written table reads as before, and a run costs one Spark job") {
    val dir = tmpDir(); val out = tmpDir()
    val snap = TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 8, 16, buckets = 2)
    // the table as the writer leaves it, read the way it was read before the
    // schema was fixed: inferred from the parquet footers
    val inferred = spark.read.parquet(snap.path).drop("bucket")
    val rows = inferred.collect().toSet
    for (read <- Seq(TranscriptsTable.readSnapshot(spark, snap), TranscriptsTable.readAll(spark, dir))) {
      assert(read.schema == inferred.schema)
      assert(read.collect().toSet == rows)
    }

    // jobs of one ExtractJob.run, counted by job group; listener events
    // arrive in order, so once the marker job is seen every run job was
    val sc = spark.sparkContext
    val group = s"graft-run-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one extract run")
      assert(ExtractJob.run(spark, ExtractJob.Config(dir, out)).map(_._1) == Seq(1L))
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "listener never saw the marker job")
      // the results write; the driver writes lineage, and no
      // footer-inference job runs
      val jobs = groups.toArray.count(_ == group)
      assert(jobs == 1, s"one run of one snapshot launched $jobs Spark jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("driver-written lineage reads back as the Spark-written table, schema and rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val stats = Map(
      3 -> ExtractJob.PartitionLineage(3, Seq("b"), 2, 1, 1),
      0 -> ExtractJob.PartitionLineage(0, Seq("a"), 1, 1, 0),
      1 -> ExtractJob.PartitionLineage(1, Nil, 0, 0, 0))
    assert(ExtractJob.lineageRows(stats, "r", 1).map(_.partition_id) == Seq(0, 3),
      "empty partitions must be dropped and rows ordered by partition id")

    val dir = tmpDir(); val out = tmpDir()
    val snap = plantedFailures(dir)
    val cfg = ExtractJob.Config(dir, out)
    ExtractJob.runSnapshot(spark, cfg, snap)
    // the same snapshot's stats, written by Spark's DataFrame writer
    val acc = new ExtractJob.LineageAccumulator
    spark.sparkContext.register(acc)
    ExtractJob.extract(spark, TranscriptsTable.readSnapshot(spark, snap), salted = false, 4,
      presorted = true, lineageAcc = Some(acc))
      .write.format("noop").mode("overwrite").save()
    val ref = s"$out-spark-written"
    ExtractJob.lineageFromStats(spark, acc.value, cfg.runId, 1).write.parquet(ref)

    val driver = spark.read.parquet(s"$out/lineage/snapshot=1")
    val written = spark.read.parquet(ref)
    assert(driver.schema == written.schema)
    val rows = driver.orderBy("partition_id").collect().toSeq
    assert(rows == written.orderBy("partition_id").collect().toSeq)
    val (ok, fail) = driver.agg(sum("ok_count"), sum("fail_count")).as[(Long, Long)].head()
    assert(ok > 0 && fail > 0, s"fixture must plant failures: ok=$ok fail=$fail")
    assert(rows.size > 1 && rows.forall(_.getAs[Seq[String]]("input_files").nonEmpty))
  }

  test("lineage replay: a crash before the marker and a stale staging directory leave one exact file") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val dir = tmpDir(); val out = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 10, 32, buckets = 2)
    TranscriptsTable.appendSnapshot(spark, dir, 2, 10, 10, 32, buckets = 2)
    val cfg = ExtractJob.Config(dir, out)
    assert(ExtractJob.run(spark, cfg).map(_._1) == Seq(1L, 2L))
    val lineage = Paths.get(out, "lineage")
    def parquetFiles(p: Path) = list(p).filter(_.getFileName.toString.endsWith(".parquet"))
    def rows(p: Path) = spark.read.parquet(p.toString).orderBy("partition_id").collect().toSeq
    val before = rows(lineage.resolve("snapshot=1"))

    // crash after the lineage write, before the marker; a staging directory
    // of an earlier attempt still holds files (here: snapshot 2's rows)
    Files.delete(ExtractJob.commitMarker(out, 1))
    val stale = Files.createDirectories(lineage.resolve("_snapshot-1.tmp"))
    val other = parquetFiles(lineage.resolve("snapshot=2")).head
    for (name <- Seq("part-00000.snappy.parquet", "part-00001.snappy.parquet"))
      Files.copy(other, stale.resolve(name))

    assert(ExtractJob.run(spark, cfg).map(_._1) == Seq(1L))
    assert(Files.exists(ExtractJob.commitMarker(out, 1)))
    assert(parquetFiles(lineage.resolve("snapshot=1")).size == 1)
    assert(rows(lineage.resolve("snapshot=1")) == before)
    assert(list(lineage).map(_.getFileName.toString).toSet == Set("snapshot=1", "snapshot=2"),
      "a staging directory was left behind")
    val all = spark.read.parquet(s"$out/lineage")
    assert(all.select("snapshot_id").distinct().as[Long].collect().toSet == Set(1L, 2L))
    assert(all.agg(sum("turn_count")).as[Long].head() ==
      TranscriptGen.totalTurns(20, 32))
  }

  test("resume: a leftover commit-marker temp file is not a commit") {
    val dir = tmpDir(); val out = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 5, 8, buckets = 2)
    // a crash between the marker's temp write and its atomic move
    val marker = ExtractJob.commitMarker(out, 1)
    val tmp = Paths.get(marker.toString + ".tmp")
    Files.createDirectories(marker.getParent)
    Files.writeString(tmp, """{"snapshot":1,"turns":0}""")
    assert(ExtractJob.committedSnapshots(out).isEmpty)
    assert(ExtractJob.run(spark, ExtractJob.Config(dir, out)).map(_._1) == Seq(1L))
    assert(Files.exists(marker) && !Files.exists(tmp))
    assert(ExtractJob.committedSnapshots(out) == Set(1L))
  }

  test("resume: completed snapshots are skipped; no duplicated or lost turns") {
    val dir = tmpDir(); val out = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 10, 32, buckets = 2)
    TranscriptsTable.appendSnapshot(spark, dir, 2, 10, 10, 32, buckets = 2)
    val cfg = ExtractJob.Config(dir, out)
    // simulate a crash: snapshot 1 committed, snapshot 2 not yet run
    val snaps = TranscriptsTable.readManifest(dir)
    ExtractJob.runSnapshot(spark, cfg, snaps.head)
    val marker1 = ExtractJob.commitMarker(out, 1)
    val firstCommitTime = Files.getLastModifiedTime(marker1)
    // resume: must process exactly snapshot 2
    val processed = ExtractJob.run(spark, cfg)
    assert(processed.map(_._1) == Seq(2L))
    assert(Files.getLastModifiedTime(marker1) == firstCommitTime,
      "snapshot 1 was reprocessed on resume")
    // totals: no dup, no loss
    val res = spark.read.parquet(s"$out/results")
    assert(res.count() ==
      TranscriptGen.totalTurns(10, 32) +
        (10 until 20).map(c => TranscriptGen.convSize(c, 32).toLong).sum)
    assert(res.select("conv_id", "turn_idx").distinct().count() == res.count())
    // idempotent: a third run does nothing
    assert(ExtractJob.run(spark, cfg).isEmpty)
  }
}

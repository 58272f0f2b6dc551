package graft.ingest

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Config-driven end-to-end (Ingest.run), K4 nested partitioning, W4
  * ByteArray format, W10 commit manifest, R10 diagnostics. */
class IngestSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("ingest_e2e").toString

  test("config-driven pipeline: tombstone-aware field partitioner + null " +
    "write behavior + manifest + diagnostics") {
    val out = freshDir()
    val df = (0L until 12L).map { o =>
      (0, o, if (o % 4 == 0) null else s"v$o", s"t${o % 2}")
    }.toDF("kafka_partition", "offset", "value", "event_type")
    val cfg = IngestConfig(topic = "cfg", flushSize = 100,
      nullBehavior = RecordViews.WriteNulls)
    val result = Ingest.run(df, cfg,
      PartitionerSpec.TombstoneAware(
        PartitionerSpec.Fields(Seq("event_type")), "value"),
      out, payloadCols = Seq(col("offset"), col("value"), col("event_type")),
      valueColumnForNulls = Some("value"), writeManifest = true)
    assert(result.files.map(_.encodedPartition).distinct.sorted ==
      Seq("event_type=t0", "event_type=t1", "tombstone"))
    assert(result.stats.totalFiles == result.files.size)
    assert(result.stats.diagnostic.contains("partitions"))
    // W10: manifest rows carry offsets + counts per object key; the file
    // name encodes the batch's offset range (generations accumulate)
    val mFiles = new java.io.File(s"$out/topics/cfg/_graft_manifest")
      .listFiles().map(_.getName)
      .filter(n => n.startsWith("commit-") && n.endsWith(".json"))
    assert(mFiles.length == 1, mFiles.toSeq)
    val manifest = scala.io.Source.fromFile(
      s"$out/topics/cfg/_graft_manifest/${mFiles.head}").getLines().toSeq
    assert(manifest.size == result.files.size)
    assert(manifest.forall(l => l.contains("\"record_count\":") &&
      l.contains("\"start_offset\":")))
  }

  test("config-driven ignore-nulls drops tombstones before partitioning " +
    "and reports them for DLQ routing (report.null.values.to.dlq)") {
    val out = freshDir()
    val df = Seq((0, 0L, null.asInstanceOf[String], "a"),
      (0, 1L, "v1", "a")).toDF("kafka_partition", "offset", "value", "f")
    val cfg = IngestConfig(topic = "ign") // IgnoreNulls default
    val result = Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("f")), out,
      payloadCols = Seq(col("offset"), col("value")),
      valueColumnForNulls = Some("value"))
    val back = spark.read.parquet(result.files.head.path)
    assert(back.count() == 1)
    // the dropped tombstone surfaces on the result (reference default)
    val nulls = result.reportedNulls.get
      .select("offset", "dlq_reason").collect()
    assert(nulls.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "null_value")))
    // ...and the knob disables it
    val quiet = Ingest.run(df, cfg.copy(reportNullsToDlq = false),
      PartitionerSpec.Fields(Seq("f")), out,
      payloadCols = Seq(col("offset"), col("value")),
      valueColumnForNulls = Some("value"))
    assert(quiet.reportedNulls.isEmpty)
  }

  test("format.bytearray.extension renames ByteArray objects") {
    val cfg = IngestConfig(topic = "bx", format = OutputFormat.ByteArray,
      byteArrayExtension = ".customext")
    assert(cfg.extension == ".customext")
    assert(cfg.copy(compression = Some("gzip")).extension ==
      ".customext.gz")
    // other formats ignore the knob
    assert(cfg.copy(format = OutputFormat.Json).extension == ".json")
  }

  test("K4 nested-field partitioner: dotted path resolves into the struct " +
    "(TopicPartitionWriterTest.java:2897-2960)") {
    val df = Seq((16, "x"), (17, "y"))
      .toDF("inner", "other")
      .select(struct(col("inner")).as("outer"), col("other"))
    val r = df.select(Partitioners.fieldPartition(
      "outer.inner" -> col("outer.inner")).as("e"))
      .orderBy("e").as[String].collect()
    assert(r.toSeq == Seq("outer.inner=16", "outer.inner=17"))
  }

  test("W4 ByteArray format writes raw lines with .bin extension " +
    "(ByteArrayRecordWriterProvider.java:38-92)") {
    val out = freshDir()
    val df = (0L until 3L).map(o => (0, o, s"payload-$o"))
      .toDF("kafka_partition", "offset", "value")
    val cfg = IngestConfig(topic = "raw", format = OutputFormat.ByteArray)
    val files = IngestWriter.write(df, cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"), payloadCols = Seq(col("value")))
    assert(files.map(_.fileName) == Seq("raw+0+0000000000.bin"))
    val lines = scala.io.Source.fromFile(files.head.path).getLines().toSeq
    assert(lines.sorted == Seq("payload-0", "payload-1", "payload-2"))
  }

  test("R10 per-cause rotation diagnostics on a mixed-cause batch " +
    "(util/FileRotationTracker.java:48-67)") {
    val out = freshDir()
    // partition p=a: offsets 0-5 in interval bucket 0 with flushSize=3 →
    //   one full file (flush_size) + one full file whose successor changes
    //   interval bucket... build precisely:
    //   a: off 0,1,2 (bucket 0, full file → flush_size)
    //      off 3,4   (bucket 0, short, next differs in bucket → BUT
    //                 bucket is the labeled group → rotate_interval)
    //      off 5     (bucket 1, short, schema v1→v2 next → schema_change)
    //      off 6     (bucket 1, schema v2, last → batch_end)
    val rows = Seq(
      (0, 0L, "2024-01-01 00:00:01", 1, "a"),
      (0, 1L, "2024-01-01 00:00:02", 1, "a"),
      (0, 2L, "2024-01-01 00:00:03", 1, "a"),
      (0, 3L, "2024-01-01 00:00:04", 1, "a"),
      (0, 4L, "2024-01-01 00:00:05", 1, "a"),
      (0, 5L, "2024-01-01 01:00:01", 1, "a"),
      (0, 6L, "2024-01-01 01:00:02", 2, "a"))
      .toDF("kafka_partition", "offset", "ts", "schema_version", "f")
    val cfg = IngestConfig(topic = "causes", flushSize = 3,
      rotateIntervalMs = Some(3600 * 1000L), timestampColumn = "ts")
    val result = Ingest.run(rows, cfg, PartitionerSpec.Fields(Seq("f")), out,
      payloadCols = Seq(col("offset"), col("ts"), col("schema_version")),
      extraCauseGroups =
        Seq("schema_change:version" -> col("schema_version")),
      causeStats = true)
    // files: [0,1,2] full; [3,4] short→interval boundary; [5] short→schema
    // boundary; [6] last → batch_end
    assert(result.files.size == 4, result.files.map(_.fileName))
    assert(result.stats.byCause == Map(
      "flush_size" -> 1L, "rotate_interval" -> 1L,
      "schema_change:version" -> 1L, "batch_end" -> 1L),
      result.stats.byCause.toString)
    assert(result.stats.diagnostic.contains("causes="))
  }

  test("hourly PartitionerSpec compiles to the reference path format") {
    val df = Seq((0, 0L, "2024-03-01 13:00:00"))
      .toDF("kafka_partition", "offset", "ts")
    val e = PartitionerSpec.compile(
      PartitionerSpec.SchemaAffix(PartitionerSpec.Hourly("ts"), "s1"),
      col("kafka_partition"))
    assert(df.select(e).head.getString(0) ==
      "schema_name=s1/year=2024/month=03/day=01/hour=13")
  }

  test("multi-topic ingest routes records by topic column into separate " +
    "lake subtrees with per-topic configs (S3SinkTask.java:229-276)") {
    val out = freshDir()
    val df = (0L until 12L).map { o =>
      (if (o % 2 == 0) "orders" else "clicks", 0, o, s"v$o", s"t${o % 3}")
    }.toDF("topic", "kafka_partition", "offset", "value", "event_type")
    val results = Ingest.runMulti(df, col("topic"),
      t => IngestConfig(topic = t,
        flushSize = if (t == "orders") 1 else 100),
      PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value")))
    assert(results.keySet == Set("orders", "clicks"))
    // per-topic flush.size honored: orders fragments, clicks does not
    assert(results("orders").files.size > results("clicks").files.size)
    val ordersBack = spark.read.parquet(s"$out/topics/orders")
    val clicksBack = spark.read.parquet(s"$out/topics/clicks")
    assert(ordersBack.count() == 6 && clicksBack.count() == 6)
    assert(ordersBack.select("offset").as[Long].collect().forall(_ % 2 == 0))
  }

  // ---- one assignment per micro-batch ----------------------------------

  private val kp = col("kafka_partition")
  private val off = col("offset")

  /** Objects under `dir`, keyed by path relative to it. */
  private def objects(dir: String): Map[String, Array[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try {
      walk.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(f => root.relativize(f).toString -> Files.readAllBytes(f))
        .toMap
    } finally walk.close()
  }

  /** Avro container files end every block, and the header, with a random
    * 16-byte sync marker; zero it so two writes of the same records
    * compare byte for byte. */
  private def maskSync(bytes: Array[Byte]): Seq[Byte] = {
    val sync = bytes.takeRight(16)
    val out = bytes.clone()
    var i = 0
    while (i <= out.length - 16) {
      if (java.util.Arrays.equals(out, i, i + 16, sync, 0, 16)) {
        java.util.Arrays.fill(out, i, i + 16, 0.toByte); i += 16
      } else i += 1
    }
    out.toSeq
  }

  /** `Ingest.run` against the standalone public functions composed over
    * the same input in a second directory. */
  private def assertRunMatchesComposition(cfg: IngestConfig): Unit = {
    val df = IngestSpec.smallFilesBatch(spark)
    val partitioner = IngestSpec.SmallFilesPartitioner
    val payload = IngestSpec.SmallFilesPayload
    val runOut = freshDir()
    val res = Ingest.run(df, cfg, partitioner, runOut, payloadCols = payload,
      valueColumnForNulls = Some("value"), writeManifest = true,
      causeStats = true)

    val composedOut = freshDir()
    val cleaned =
      RecordViews.applyNullBehavior(df, cfg.nullBehavior, "value")
    val encoded = PartitionerSpec.compile(partitioner, kp)
    val ts = col(cfg.timestampColumn).cast("timestamp")
    val iv = cfg.rotateIntervalMs.get
    val (framed, labeled) =
      if (cfg.rotateFileBase)
        (Rotation.assignFileBaseTimeGroups(cleaned, kp, off, ts, iv),
          Seq("rotate_interval" -> col(Rotation.TimeGroupCol)))
      else (cleaned, Seq("rotate_interval" -> Rotation.timeFileGroup(ts, iv)))
    val files = IngestWriter.writeKVH(framed, cfg, encoded, composedOut, kp,
      off, payload, extraFileGroups = labeled.map(_._2))
    val causes =
      RotationStats.causes(framed, cfg, encoded, kp, off, labeled)
    CommitManifest.write(framed, cfg, encoded, composedOut, kp, off,
      labeled.map(_._2))

    def keys(fs: Seq[IngestWriter.FileInfo]) =
      fs.map(f => (f.encodedPartition, f.fileName)).sorted
    assert(keys(res.files) == keys(files))
    assert(res.files.count(_.fileName.contains(".keys.")) > 1 &&
      res.files.count(_.fileName.contains(".headers.")) > 1)
    assert(res.stats.byCause == causes)
    assert(causes.keySet.contains("rotate_interval") &&
      causes.keySet.contains("flush_size"), causes)

    val got = objects(runOut)
    val want = objects(composedOut)
    assert(got.keySet == want.keySet)
    assert(got.keys.count(_.contains("_graft_manifest/commit-")) == 1)
    got.foreach { case (k, bytes) =>
      if (k.endsWith(".avro"))
        assert(maskSync(bytes) == maskSync(want(k)), k)
      else assert(bytes.sameElements(want(k)), k)
    }
  }

  test("Ingest.run's shared assignment writes the same objects, manifest " +
    "and causes as the standalone functions composed") {
    assertRunMatchesComposition(IngestSpec.smallFilesCfg)
  }

  test("shared assignment equivalence: reference sequential time rotation " +
    "(rotateFileBase)") {
    assertRunMatchesComposition(
      IngestSpec.smallFilesCfg.copy(rotateFileBase = true))
  }

  test("shared assignment equivalence: manifest column stats") {
    assertRunMatchesComposition(
      IngestSpec.smallFilesCfg.copy(statsColumns = Seq("offset", "source")))
  }

  test("Ingest.run on the small-files shape runs at most 12 Spark jobs: " +
    "no view, the manifest or the causes recompute the assignment") {
    val sc = spark.sparkContext
    val group = "ingest-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
          .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val df = IngestSpec.smallFilesBatch(spark)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Ingest.run")
      Ingest.run(df, IngestSpec.smallFilesCfg,
        IngestSpec.SmallFilesPartitioner, freshDir(),
        payloadCols = IngestSpec.SmallFilesPayload,
        valueColumnForNulls = Some("value"), writeManifest = true,
        causeStats = true)
    } finally {
      sc.clearJobGroup()
      org.apache.spark.TestAccess.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get() > 0 && jobs.get() <= 12, s"${jobs.get()} jobs")
  }

  test("multi-topic ingest forwards the epoch fence: a stale writer " +
    "generation is rejected, the live one commits") {
    val fence = new EpochFence(freshDir(),
      spark.sparkContext.hadoopConfiguration)
    val stale = fence.acquire()
    val live = fence.acquire()
    val df = (0L until 4L).map(o => (if (o % 2 == 0) "a" else "b", 0, o,
      s"v$o")).toDF("topic", "kafka_partition", "offset", "value")
    def runMulti(out: String, epoch: Long) =
      Ingest.runMulti(df, col("topic"), t => IngestConfig(topic = t),
        PartitionerSpec.Default, out,
        payloadCols = Seq(col("offset"), col("value")),
        causeStats = true, fence = Some((fence, epoch)))
    val staleOut = freshDir()
    val ex = intercept[IllegalStateException](runMulti(staleOut, stale))
    assert(ex.getMessage.contains("zombie"))
    assert(!new java.io.File(s"$staleOut/topics").exists())
    val ok = runMulti(freshDir(), live)
    assert(ok.keySet == Set("a", "b"))
    // causeStats is forwarded too
    assert(ok.values.forall(_.stats.byCause == Map("batch_end" -> 1L)))
  }
}

object IngestSpec {
  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z

  /** One micro-batch in the small-files shape: 4 Kafka partitions of 250
    * records spanning two hours of event time, every 50th record 5–59
    * minutes late, every 100th a tombstone; binary keys, two binary
    * headers and a struct value. */
  def smallFilesBatch(spark: SparkSession): DataFrame = {
    val id = col("id")
    val kp = (id % 4).cast("int")
    val off = expr("id div 4")
    val late = pmod(off + kp * 7, lit(50)) === 0
    val lateByMs = (pmod(off * 13, lit(55)) + 5) * 60000L
    val ts = lit(T0) + off * 28800L + kp * 1000L -
      when(late, lateByMs).otherwise(lit(0L))
    val value = struct(
      concat(lit("user-"), pmod(off * 7 + kp, lit(50)).cast("string"))
        .as("user"),
      element_at(array(lit("view"), lit("click"), lit("cart"), lit("buy")),
        (pmod(off, lit(4)) + 1).cast("int")).as("action"),
      round(pmod(off * 1.37, lit(500.0)), 2).as("amount"))
    spark.range(0L, 1000L, 1L, 4).select(kp.as("kafka_partition"),
      off.as("offset"),
      encode(concat(lit("k"), pmod(off * 31 + kp, lit(97)).cast("string")),
        "UTF-8").as("key"),
      when(pmod(off + kp * 3, lit(100)) =!= 1, value).as("value"),
      array(
        struct(lit("trace").as("key"),
          encode(hex(xxhash64(kp, off)), "UTF-8").as("value")),
        struct(lit("source").as("key"),
          encode(concat(lit("svc-"), kp.cast("string")), "UTF-8")
            .as("value"))).as("headers"),
      concat(lit("svc-"), kp.cast("string")).as("source"),
      timestamp_millis(ts).as("ts"))
  }

  /** JSON values with Avro `.keys`/`.headers` sidecars, 10-minute time
    * rotation, a flush.size small enough that some files fill. */
  val smallFilesCfg: IngestConfig = IngestConfig(topic = "sf",
    format = OutputFormat.Json, flushSize = 8,
    rotateIntervalMs = Some(10L * 60 * 1000), timestampColumn = "ts",
    writeKeys = true, writeHeaders = true)

  val SmallFilesPartitioner: PartitionerSpec = PartitionerSpec.Hourly("ts")
  val SmallFilesPayload: Seq[org.apache.spark.sql.Column] =
    Seq(col("offset"), col("value"))
}

package sinkbench

import graft.ingest.{IngestConfig, OutputFormat, PartitionerSpec}
import graft.streaming.Gates
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One ingest workload: the sink configuration the program sees, the
  * generator of its Kafka-shaped records, and the gate stack (if any)
  * wired in front of the write.
  *
  * Records are a pure function of `(seed, kafka_partition, offset)`, so a
  * seed fixes every input byte. Each micro-batch holds `perPartition`
  * records of each of `partitions` Kafka partitions, landed as one file
  * per partition (one input split each). */
final case class Workload(
    name: String,
    partitions: Int,
    perPartition: Int,
    /** Micro-batch duration on the 4-core reference host; sizes the
      * number of batches a run of `--seconds` measures. */
    nominalBatchS: Double,
    cfg: IngestConfig,
    partitioner: PartitionerSpec,
    payload: Seq[Column],
    valueColumnForNulls: Option[String],
    writeManifest: Boolean,
    causeStats: Boolean,
    records: (SparkSession, Long, Long, Long) => DataFrame,
    /** Builds the gate stack; runs at wiring time, inside set-up. */
    wire: (SparkSession, Long) => Seq[Gates.Gate]) {

  def recordsPerBatch: Long = perPartition.toLong * partitions

  /** Batches one run measures: about `seconds` of work on the reference
    * host, and at least three. */
  def batchesFor(seconds: Int): Int =
    math.max(Workloads.MinBatches, math.round(seconds / nominalBatchS).toInt)
}

object Workloads {
  val MinBatches = 3
  val Topic = "bench"
  private val T0 = 1700000000000L

  val names: Seq[String] = Seq("sink_bulk", "sink_small_files",
    "sink_curated_text")

  def apply(name: String): Workload = name match {
    case "sink_bulk" => bulk
    case "sink_small_files" => smallFiles
    case "sink_curated_text" => curated
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Deterministic per-record hash of the seed, a tag and columns. */
  private def h(seed: Long, tag: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(tag) +: cols): _*)

  /** Uniform in [0, 1) from a hash. */
  private def unit(x: Column): Column =
    pmod(x, lit(1000003L)).cast("double") / 1000003.0

  /** `batches` batches starting at `firstBatch`: columns
    * `kafka_partition`, `offset` and `__file` (the landing file: one per
    * batch and Kafka partition). One Spark partition per file, in file
    * order, so a plain write lands file k as part k. */
  def skeleton(spark: SparkSession, partitions: Int, perPartition: Int,
               firstBatch: Long, batches: Long): DataFrame = {
    val files = batches * partitions
    spark.range(0L, files, 1L, files.toInt).toDF("__file")
      .withColumn("__j", explode(sequence(lit(0L), lit(perPartition - 1L))))
      .select(col("__file"),
        (col("__file") % partitions).cast("int").as("kafka_partition"),
        ((floor(col("__file") / partitions) + firstBatch) * perPartition +
          col("__j")).cast("long").as("offset"))
  }

  private def kp = col("kafka_partition")
  private def off = col("offset")

  /** Per-record work dominates: Parquet values, a field partitioner over
    * one skewed 8-value field, flush.size above any file group. */
  val bulk: Workload = {
    val per = 6250
    Workload(
      name = "sink_bulk",
      partitions = 8,
      perPartition = per,
      nominalBatchS = 2.0,
      cfg = IngestConfig(topic = Topic, format = OutputFormat.Parquet,
        flushSize = 1000000),
      partitioner = PartitionerSpec.Fields(Seq("region")),
      payload = Seq("offset", "region", "user_id", "amount", "item", "ts")
        .map(col),
      valueColumnForNulls = None,
      writeManifest = false,
      causeStats = false,
      records = (spark, seed, first, n) => {
        val u = unit(h(seed, "region", kp, off))
        // 35/20/15/10/7/6/4/3 %: the biggest file group sets the batch time
        val cuts = Seq(0.35, 0.55, 0.70, 0.80, 0.87, 0.93, 0.97)
        val region = cuts.zipWithIndex.foldRight(lit("r7"): Column) {
          case ((c, i), rest) => when(u < c, lit(s"r$i")).otherwise(rest)
        }
        skeleton(spark, 8, per, first, n).select(col("__file"), kp, off,
          concat(lit("u"), pmod(h(seed, "user", kp, off), lit(100000L))
            .cast("string")).as("key"),
          region.as("region"),
          pmod(h(seed, "user", kp, off), lit(100000L)).as("user_id"),
          round(unit(h(seed, "amount", kp, off)) * 1000, 2).as("amount"),
          concat(lit("item-"), pmod(h(seed, "item", kp, off), lit(5000L))
            .cast("string")).as("item"),
          timestamp_millis(lit(T0) + off * 10 + kp).as("ts"))
      },
      wire = (_, _) => Nil)
  }

  /** Fixed per-batch cost dominates: JSON values with Avro key and
    * header sidecars, hourly partitions, 10-minute time rotation,
    * flush.size 200, the commit manifest and rotation-cause stats. 2% of
    * timestamps run late and 1% of records are tombstones. */
  val smallFiles: Workload = {
    val per = 250
    // each batch spans 30 minutes of event time per partition
    val stepMs = 30L * 60 * 1000 / per
    Workload(
      name = "sink_small_files",
      partitions = 4,
      perPartition = per,
      nominalBatchS = 4.0,
      cfg = IngestConfig(topic = Topic, format = OutputFormat.Json,
        flushSize = 200, rotateIntervalMs = Some(10L * 60 * 1000),
        timestampColumn = "ts", writeKeys = true, writeHeaders = true),
      partitioner = PartitionerSpec.Hourly("ts"),
      payload = Seq(col("offset"), col("value")),
      valueColumnForNulls = Some("value"),
      writeManifest = true,
      causeStats = true,
      records = (spark, seed, first, n) => {
        // exactly one record in 50 runs late and one in 100 is a
        // tombstone, at seed-chosen positions: the seed moves them
        // without changing how many small objects they cause
        def every(k: Long, tag: String) =
          pmod(off + pmod(h(seed, tag, kp), lit(k)), lit(k)) === 0
        val late = every(50L, "late")
        val lateByMs = (pmod(h(seed, "lateBy", kp, off), lit(55L)) + 5) *
          60000L
        val ts = lit(T0) + off * stepMs + kp * 1000L -
          when(late, lateByMs).otherwise(lit(0L))
        val value = struct(
          concat(lit("user-"), pmod(h(seed, "user", kp, off), lit(20000L))
            .cast("string")).as("user"),
          element_at(array(lit("view"), lit("click"), lit("cart"),
            lit("buy")), (pmod(h(seed, "act", kp, off), lit(4L)) + 1)
            .cast("int")).as("action"),
          round(unit(h(seed, "amount", kp, off)) * 500, 2).as("amount"))
        skeleton(spark, 4, per, first, n).select(col("__file"), kp, off,
          encode(concat(lit("k"), pmod(h(seed, "key", kp, off),
            lit(100000L)).cast("string")), "UTF-8").as("key"),
          // a tombstone is a null value
          when(!every(100L, "tomb"), value).as("value"),
          array(
            struct(lit("trace").as("key"),
              encode(hex(h(seed, "trace", kp, off)), "UTF-8").as("value")),
            struct(lit("source").as("key"),
              encode(concat(lit("svc-"), kp.cast("string")), "UTF-8")
                .as("value"))).as("headers"),
          timestamp_millis(ts).as("ts"))
      },
      wire = (_, _) => Nil)
  }

  /** Candidate generation dominates: text records with 32-d vectors pass
    * a quality gate, a MinHash near-dup gate and an SRP embedding gate
    * against a frozen history corpus before a default-partitioner
    * Parquet write. About 6% of records copy a history text with one
    * token changed, about 4% copy a history vector with small noise, and
    * about 3% are too short. */
  val HistoryDocs = 4000L
  private val Vocab = 20000L
  private val Dim = 32

  private def tokens(seed: Long, tag: String, id: Column, len: Column,
                     swapAt: Column = lit(-1)): Column =
    concat_ws(" ", transform(sequence(lit(0), len - 1), i =>
      when(i === swapAt, concat(lit("x"), pmod(h(seed, "swap", id), lit(Vocab))
        .cast("string")))
        .otherwise(concat(lit("w"), pmod(h(seed, tag, id, i), lit(Vocab))
          .cast("string")))))

  private def docLen(seed: Long, id: Column): Column =
    (pmod(h(seed, "len", id), lit(30L)) + 30).cast("int")

  private def vector(seed: Long, tag: String, id: Column): Column =
    transform(sequence(lit(0), lit(Dim - 1)), i =>
      (pmod(h(seed, tag, id, i), lit(2000001L)) - 1000000).cast("double") / 1e6)

  /** The frozen history corpus: `doc_id`, `text`, `vec`. */
  def history(spark: SparkSession, seed: Long): DataFrame = {
    val hid = col("id")
    spark.range(0L, HistoryDocs, 1L, 4).select(hid.as("doc_id"),
      tokens(seed, "htok", hid, docLen(seed, hid)).as("text"),
      vector(seed, "hvec", hid).as("vec"))
  }

  val curated: Workload = {
    val per = 250
    Workload(
      name = "sink_curated_text",
      partitions = 8,
      perPartition = per,
      nominalBatchS = 4.0,
      cfg = IngestConfig(topic = Topic, format = OutputFormat.Parquet,
        flushSize = 100000),
      partitioner = PartitionerSpec.Default,
      payload = Seq("doc_id", "offset", "text", "vec").map(col),
      valueColumnForNulls = None,
      writeManifest = false,
      causeStats = false,
      records = (spark, seed, first, n) => {
        val docId = off * 8 + kp
        val u = unit(h(seed, "kind", kp, off))
        val hid = pmod(h(seed, "hid", kp, off), lit(HistoryDocs))
        val hLen = docLen(seed, hid)
        val text =
          when(u < 0.06, tokens(seed, "htok", hid, hLen,
            swapAt = pmod(h(seed, "pos", kp, off), hLen).cast("int")))
            .when(u >= 0.10 && u < 0.13, tokens(seed, "rtok", docId, lit(3)))
            .otherwise(tokens(seed, "rtok", docId, docLen(seed, docId)))
        val noise = transform(sequence(lit(0), lit(Dim - 1)), i =>
          (pmod(h(seed, "noise", docId, i), lit(2001L)) - 1000)
            .cast("double") / 1e5)
        val vec = when(u >= 0.06 && u < 0.10,
          zip_with(vector(seed, "hvec", hid), noise, (a, b) => a + b))
          .otherwise(vector(seed, "rvec", docId))
        skeleton(spark, 8, per, first, n).select(col("__file"), kp, off,
          docId.as("doc_id"), text.as("text"), vec.as("vec"),
          timestamp_millis(lit(T0) + off * 10 + kp).as("ts"))
      },
      wire = (spark, seed) => {
        val hist = history(spark, seed)
        val srp = graft.analytics.Similarity.srpPrep(hist, col("doc_id"),
          col("vec"))
        srp.count() // the caller materializes its prepped history
        Seq(Gates.quality("text"),
          Gates.nearDup(hist.select("doc_id", "text"), "doc_id", "text"),
          Gates.embeddingDedup(srp, "doc_id", "vec"))
      })
  }
}

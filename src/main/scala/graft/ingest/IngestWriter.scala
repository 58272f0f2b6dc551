package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The sink pipeline (SURVEY §3.1 mapped to Spark): derive the encoded
  * partition → assign deterministic file groups (rotation §2.5) → write one
  * object per group under the reference's layout contract:
  *
  *   `<out>/<topics.dir>/<topic>/<encodedPartition>/<topic>+<kafkaPartition>+<paddedStartOffset>.<ext>`
  *
  * (TopicPartitionWriter.java:868-883.)
  *
  * Execution shape (scale-audited): ONE hash shuffle on
  * `(kafkaPartition, encodedPartition, extraGroups)` feeds both window
  * functions (row_number + min-offset share partitioning) — each file
  * group lives wholly inside one task, so the dynamic-partition write
  * emits exactly one part file per `(encodedPartition, fileName)` dir
  * with no second exchange, and the direct-path Avro/ByteArray writers
  * only sort within partitions. `Ingest.run` assigns file groups once per
  * micro-batch: when the batch has more than one consumer (sidecar
  * views, manifest, cause stats) the assigned frame is persisted and
  * every view reads it. The commit is a per-file rename, the
  * same cost class as Hadoop's FileOutputCommitter v1 / S3A committers.
  * Deterministic names make replay idempotent (X1).
  */
object IngestWriter {

  final case class FileInfo(encodedPartition: String, fileName: String,
                            path: String)

  private[ingest] val EpartCol = "__epart"
  private val FnameCol = "__fname"

  /** Write `df` (must carry `kafkaPartition` and `offset` columns) as the
    * reference layout. `payloadCols` are the columns stored inside each file.
    * Returns the manifest of written objects. */
  def write(df: DataFrame, cfg: IngestConfig, encodedPartition: Column,
            outDir: String,
            kafkaPartition: Column, offset: Column,
            payloadCols: Seq[Column],
            extraFileGroups: Seq[Column] = Nil,
            extSuffix: String = ""): Seq[FileInfo] =
    writeAssigned(assign(df, cfg, encodedPartition, kafkaPartition, offset,
      extraFileGroups), cfg, outDir, kafkaPartition, offset, payloadCols,
      extSuffix)

  /** The file-group assignment every view, the manifest and the cause
    * stats derive from: adds `__epart` (the encoded partition),
    * `_file_index` and `_file_start_offset` over the group key
    * `(kafkaPartition, encodedPartition, extraFileGroups)`. The window
    * hash-partitions on that key, so each file group lives wholly inside
    * one partition of the result. */
  private[ingest] def assign(df: DataFrame, cfg: IngestConfig,
                             encodedPartition: Column, kafkaPartition: Column,
                             offset: Column,
                             extraFileGroups: Seq[Column]): DataFrame = {
    val groupKey = Seq(kafkaPartition, encodedPartition) ++ extraFileGroups
    Rotation.assignSizeFiles(df.withColumn(EpartCol, encodedPartition),
      struct(groupKey: _*), offset, cfg.flushSize)
  }

  /** Write one view of an [[assign]]ed frame, persisted or not: its file
    * groups sit wholly inside one partition each and a view only projects,
    * so no writer shuffles again — the direct-path writers sort within
    * partitions, the staged write's dynamic partitioning emits one part
    * file per group. */
  private[ingest] def writeAssigned(assigned: DataFrame, cfg: IngestConfig,
                                    outDir: String, kafkaPartition: Column,
                                    offset: Column, payloadCols: Seq[Column],
                                    extSuffix: String): Seq[FileInfo] = {
    val spark = assigned.sparkSession
    val ext = extSuffix + cfg.extension
    val named = assigned.withColumn(
      FnameCol,
      FileNaming.fileName(lit(cfg.topic), kafkaPartition,
        col(Rotation.StartOffsetCol), ext, cfg.padWidth))

    // W4 raw bytes stream task-side to the final keys (true binary
    // payloads + configurable separator; no staging rename).
    if (cfg.format == OutputFormat.ByteArray) {
      require(payloadCols.length == 1,
        "ByteArray format serializes exactly one value column")
      val data = named.select(payloadCols.head.as("__value"),
        col(EpartCol), col(FnameCol), offset.as("__offset"))
      return RawGroupWriter.write(data, EpartCol, FnameCol, "__offset",
        "__value", s"$outDir/${cfg.topicsDir}/${cfg.topic}",
        cfg.compression, cfg.byteArraySeparator)
    }

    // Avro has no native DataFrameWriter in this environment — its groups
    // stream through AvroGroupWriter directly to the final object keys.
    if (cfg.format == OutputFormat.Avro) {
      val data = named.select(
        (payloadCols :+ col(EpartCol) :+ col(FnameCol) :+
          offset.as("__offset")): _*)
      val payloadSchema = org.apache.spark.sql.types.StructType(
        data.schema.fields.filterNot(f =>
          Set(EpartCol, FnameCol, "__offset").contains(f.name)))
      return AvroGroupWriter.writeGrouped(data, EpartCol, FnameCol,
        "__offset", payloadSchema, s"$outDir/${cfg.topicsDir}/${cfg.topic}",
        cfg.compression)
    }

    val staging = s"$outDir/_staging_${cfg.topic}${extSuffix.replace(".", "_")}"
    val selected = named
      .select((payloadCols :+ col(EpartCol) :+ col(FnameCol)): _*)
    // json.decimal.format=BASE64: decimals serialize as base64 of the
    // unscaled value — project through binary (Spark's JSON writer emits
    // binary as base64); NUMERIC leaves the decimal as a plain number.
    val jsonReady =
      if (cfg.format == OutputFormat.Json &&
        cfg.jsonDecimalFormat == JsonDecimalFormat.Base64)
        selected.schema.fields
          .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
          .foldLeft(selected) { (acc, f) =>
            acc.withColumn(f.name,
              graft.functions.FormatExpressions.decimalUnscaledBytes(col(f.name)))
          }
      else selected
    val writer = jsonReady
      .write.mode("overwrite")
      .partitionBy(EpartCol, FnameCol)
      .format(cfg.format.sparkFormat)
    val withCompression = cfg.format match {
      case OutputFormat.Json | OutputFormat.ByteArray =>
        cfg.compression.fold(writer)(c => writer.option("compression", c))
      case OutputFormat.Parquet | OutputFormat.Avro =>
        cfg.compression.fold(writer)(c => writer.option("compression", c))
    }
    withCompression.save(staging)

    promote(spark, staging, s"$outDir/${cfg.topicsDir}/${cfg.topic}")
  }

  /** P4 K/V/H composite write
    * (format/KeyValueHeaderRecordWriterProvider.java:63-144): value, `.keys`
    * and `.headers` files share the same basename per file group; key
    * non-null is enforced when keys are written (Utils.java:31-40 name
    * contract). Each sidecar view is written in its OWN configured format
    * (`keys.format.class` / `headers.format.class`, default Avro) — every
    * view names its files from the same group assignment, so lockstep
    * holds across formats. This standalone entry recomputes the
    * assignment per view; `Ingest.run` persists it once and shares it. */
  def writeKVH(df: DataFrame, cfg: IngestConfig, encodedPartition: Column,
               outDir: String, kafkaPartition: Column, offset: Column,
               valueCols: Seq[Column],
               extraFileGroups: Seq[Column] = Nil): Seq[FileInfo] =
    // extraFileGroups (e.g. R2 time-rotation buckets) are part of the one
    // assignment all three views read, so .keys/.headers stay in lockstep
    // with the value files AND agree with the CommitManifest grouping
    writeViews(assign(df, cfg, encodedPartition, kafkaPartition, offset,
      extraFileGroups), cfg, outDir, kafkaPartition, offset, valueCols)

  /** The value view of an [[assign]]ed frame plus the configured `.keys`
    * and `.headers` sidecars, all named from the same file groups. */
  private[ingest] def writeViews(assigned: DataFrame, cfg: IngestConfig,
                                 outDir: String, kafkaPartition: Column,
                                 offset: Column, valueCols: Seq[Column])
      : Seq[FileInfo] = {
    def view(viewCfg: IngestConfig, payload: Seq[Column],
             extSuffix: String): Seq[FileInfo] =
      writeAssigned(assigned, viewCfg, outDir, kafkaPartition, offset,
        payload, extSuffix)
    val value = view(cfg, valueCols, "")
    val keys =
      if (!cfg.writeKeys) Nil
      else view(cfg.copy(format = cfg.keyFormat),
        Seq(struct(when(col("key").isNull,
            raise_error(lit("store.kafka.keys requires non-null keys")))
          .otherwise(col("key")).as("key")).as("RecordKey")), ".keys")
    val headers =
      if (!cfg.writeHeaders) Nil
      else view(cfg.copy(format = cfg.headerFormat),
        // P3 applies INSIDE the writer (RecordViews.java:106-110): values
        // stringify — so the verbatim Kafka-source binary header values
        // land as strings, and an already-string frame is unchanged
        Seq(RecordViews.stringifiedHeaders(col("headers")).as("headers")),
        ".headers")
    value ++ keys ++ headers
  }

  /** Move staged `__epart=E/__fname=F/part-*` files to their contract names.
    * Percent-decodes Spark's partition-path escaping (e.g. the `/` inside
    * hourly paths arrives as `%2F` and must become real subdirectories).
    *
    * The commit itself is a Spark job: the driver lists only the
    * encoded-partition directories (bounded by partition count) and tasks
    * do the per-file listing + renames in parallel — at millions of objects
    * per batch the driver never loops over files, it only collects the
    * per-object FileInfo metadata. Rename results are asserted so a silent
    * rename failure fails the commit instead of corrupting the manifest.
    * Task retries are safe: a group whose part file is gone but whose dest
    * exists was promoted by a prior attempt and is reported as-is. */
  private def promote(spark: org.apache.spark.sql.SparkSession,
                      stagingDir: String, topicDir: String): Seq[FileInfo] = {
    val driverFs = FileSystem.get(new java.net.URI(stagingDir),
      spark.sparkContext.hadoopConfiguration)
    val staging = new Path(stagingDir)
    if (!driverFs.exists(staging)) return Nil
    val epartDirs = driverFs.listStatus(staging)
      .filter(_.isDirectory).map(_.getPath.toString).toSeq
    if (epartDirs.isEmpty) { driverFs.delete(staging, true); return Nil }
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val parallelism =
      math.min(epartDirs.length, spark.sparkContext.defaultParallelism)
    val infos = spark.sparkContext.parallelize(epartDirs, parallelism)
      .flatMap { dirStr =>
        val dir = new Path(dirStr)
        val fs = FileSystem.get(dir.toUri, hadoopConf.value)
        val epart = unescape(dir.getName.stripPrefix(s"$EpartCol="))
        fs.listStatus(dir).filter(_.isDirectory).map { fnameStatus =>
          val fname =
            unescape(fnameStatus.getPath.getName.stripPrefix(s"$FnameCol="))
          val dest = new Path(s"$topicDir/$epart/$fname")
          val parts = fs.listStatus(fnameStatus.getPath)
            .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
              && !s.getPath.getName.startsWith("."))
          if (parts.isEmpty && fs.exists(dest)) {
            // already promoted by a previous attempt of this task
            FileInfo(epart, fname, dest.toString)
          } else {
            require(parts.length == 1,
              s"expected exactly 1 part file per group, got ${parts.length} in ${fnameStatus.getPath}")
            fs.mkdirs(dest.getParent)
            if (fs.exists(dest)) fs.delete(dest, false) // X1: idempotent replay
            require(fs.rename(parts.head.getPath, dest),
              s"rename to $dest failed")
            FileInfo(epart, fname, dest.toString)
          }
        }
      }.collect().toSeq
    driverFs.delete(staging, true)
    infos.sortBy(f => (f.encodedPartition, f.fileName))
  }

  /** Inverse of Spark's `escapePathName` for the characters we can emit. */
  private[graft] def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

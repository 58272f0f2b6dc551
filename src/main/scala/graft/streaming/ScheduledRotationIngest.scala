package graft.streaming

import graft.ingest.{Ingest, IngestConfig, IngestWriter, PartitionerSpec, Rotation}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** R4 scheduled wall-clock rotation as a live micro-batch driver
  * (`rotate.schedule.interval.ms`, TopicPartitionWriter.java:543-575 +
  * 760-796 `commitOnTimeIfNoData`/`shouldApplyScheduledRotation`).
  *
  * The plain sink (`StreamingIngest.start`) commits every record each
  * batch, so nothing ever waits on a deadline. This variant reproduces the
  * reference's open-file economics: records below `flush.size` carry over
  * in a pending spill instead of committing a short object per batch, and
  * the timezone/day-aligned schedule (`Rotation.nextScheduledRotation`,
  * the DateTimeUtils.getNextTimeAdjustedByDay analogue) bounds how long
  * they wait — when a deadline passes, every pending record commits, files
  * shorter than `flush.size` included, **even for partitions that saw no
  * new data in the triggering batch** (their rows ride in from the spill).
  *
  * Exactly-once: offsets ride with the spilled rows, so object names stay
  * deterministic (X1) and a replayed batch re-unions the same spill state
  * and overwrites the same keys. The spill swap (tmp → live) happens after
  * the data commit; a crash between the two replays into an identical
  * union. The spill itself is one partitioned parquet dir, read/written
  * task-side — no driver buffering.
  */
final class ScheduledRotationIngest(
    cfg: IngestConfig, partitioner: PartitionerSpec, outDir: String,
    pendingDir: String, scheduleIntervalMs: Long,
    tz: java.time.ZoneId = java.time.ZoneId.of("UTC"),
    clock: () => Long = () => System.currentTimeMillis(),
    kafkaPartition: Column = col("kafka_partition"),
    offset: Column = col("offset")) {

  require(scheduleIntervalMs > 0, "rotate.schedule.interval.ms must be > 0")

  @volatile private var nextRotation: Long =
    Rotation.nextScheduledRotation(clock(), scheduleIntervalMs, tz)

  /** The next day-aligned commit deadline (epoch ms) — observable for
    * tests and ops parity with the reference's log line. */
  def nextScheduledRotationMs: Long = nextRotation

  private val CntCol = "__grp_cnt"

  /** One micro-batch: union spill + new records, commit every full
    * `flush.size` group; short (tail) groups commit only when the
    * scheduled deadline has passed, otherwise they spill to `pendingDir`
    * for the next batch. Returns the files committed this batch. */
  def processBatch(batch: DataFrame): Seq[IngestWriter.FileInfo] = {
    val spark = batch.sparkSession
    val fs = new Path(pendingDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val live = new Path(pendingDir, "live")
    val pending =
      if (fs.exists(live)) spark.read.schema(batch.schema).parquet(live.toString)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    val all = batch.unionByName(pending)
    val now = clock()
    val due = now >= nextRotation

    val committed =
      if (due) {
        // scheduled rotation: flush everything, short files included —
        // the commit-without-new-data path
        nextRotation =
          Rotation.nextScheduledRotation(now, scheduleIntervalMs, tz)
        val files = runWrite(all)
        replaceSpill(spark, fs, live, all.limit(0))
        files
      } else {
        // only full groups commit; the tail spills forward. Tail = the
        // trailing (count < flushSize) group per partition key, so
        // re-assigning groups over the full-rows subset reproduces the
        // identical file boundaries (groups fill from the lowest offset).
        // `sized` feeds the emptiness check, the write and the spill:
        // persisted once so the window (and the spill read) runs once.
        graft.analytics.Caches.scoped {
          val encoded = PartitionerSpec.compile(partitioner, kafkaPartition)
          val grouped = Rotation.assignSizeFiles(
            all.withColumn("__epart", encoded),
            struct(kafkaPartition, col("__epart")), offset, cfg.flushSize)
          val wf = Window.partitionBy(kafkaPartition, col("__epart"),
            col(Rotation.FileIndexCol))
          val sized = graft.analytics.Caches.persist(
            grouped.withColumn(CntCol, count(lit(1)).over(wf)))
          val fullRows = sized.filter(col(CntCol) === cfg.flushSize)
            .drop(CntCol, "__epart", Rotation.FileIndexCol,
              Rotation.StartOffsetCol)
          val tailRows = sized.filter(col(CntCol) < cfg.flushSize)
            .drop(CntCol, "__epart", Rotation.FileIndexCol,
              Rotation.StartOffsetCol)
          val files = runWrite(fullRows)
          replaceSpill(spark, fs, live, tailRows)
          files
        }
      }
    committed
  }

  private def runWrite(df: DataFrame): Seq[IngestWriter.FileInfo] =
    if (df.isEmpty) Nil
    else Ingest.run(df, cfg, partitioner, outDir,
      kafkaPartition = kafkaPartition, offset = offset,
      payloadCols = df.columns.toSeq.map(col)).files

  /** Swap the spill atomically enough for replay: write tmp, move live. */
  private def replaceSpill(spark: org.apache.spark.sql.SparkSession,
                           fs: org.apache.hadoop.fs.FileSystem,
                           live: Path, rows: DataFrame): Unit = {
    val tmp = new Path(pendingDir, "tmp")
    rows.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(live)) fs.delete(live, true)
    require(fs.rename(tmp, live), s"spill swap to $live failed")
  }
}

object ScheduledRotationIngest {
  /** Streaming entry: wire the scheduled-rotation batch handler into
    * foreachBatch. `Trigger.ProcessingTime` at (a fraction of) the schedule
    * interval plays the reference's rotation-check cadence. */
  def start(frame: DataFrame, ingest: ScheduledRotationIngest,
            checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    frame.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingest.processBatch(batch)
        ()
      }
      .start()
}

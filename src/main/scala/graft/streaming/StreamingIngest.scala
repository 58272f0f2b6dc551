package graft.streaming

import graft.ingest.{Ingest, IngestConfig, IngestWriter, PartitionerSpec}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming face of the engine (SURVEY §3 mapping):
  *  - micro-batch ingest via foreachBatch → IngestWriter (deterministic
  *    names + checkpoint replay = the reference's exactly-once X1/X2: the
  *    checkpoint WAL is the offset store, object-key determinism makes
  *    replays overwrite idempotently);
  *  - R4 wall-clock rotation maps to the trigger interval;
  *  - watermarked event-time aggregation and stateful sessionization are
  *    the extension operators the reference lacks (SURVEY §2.8 watermarks).
  */
object StreamingIngest {

  /** The production source, spelled out: `readStream.format("kafka")`
    * with the documented 7-tuple output schema (key/value binary, topic,
    * partition, offset, timestamp, timestampType; `includeHeaders` adds
    * the P3 binary headers column) — THE one-line swap every file-based
    * spec stands in for. This container ships no spark-sql-kafka jar
    * (zero egress), so calling load() here throws Spark's standard
    * missing-data-source error at the jar boundary; KafkaContractSpec
    * pins both that boundary and that the whole pipeline consumes the
    * exact schema this source emits, unreshaped. */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession,
                  bootstrapServers: String, subscribe: String,
                  startingOffsets: String = "earliest",
                  includeHeaders: Boolean = true,
                  maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", subscribe)
      .option("startingOffsets", startingOffsets)
      .option("includeHeaders", includeHeaders.toString)
    maxOffsetsPerTrigger.foldLeft(r)((b, n) =>
      b.option("maxOffsetsPerTrigger", n.toString)).load()
  }

  /** Start the sink pipeline on any streaming frame (Kafka source in
    * production: [[kafkaSource]] yields the same 7-tuple; file streams
    * in tests). */
  def start(frame: DataFrame, cfg: IngestConfig, encodedPartition: Column,
            outDir: String, checkpointDir: String,
            kafkaPartition: Column, offset: Column,
            payloadCols: Seq[Column],
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    frame.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        IngestWriter.write(batch, cfg, encodedPartition, outDir,
          kafkaPartition, offset, payloadCols)
        ()
      }
      .start()

  /** Full config-driven connector as a streaming sink: every micro-batch
    * runs the complete `Ingest.run` pipeline — null behaviors, declarative
    * partitioner spec, rotation grouping with per-cause diagnostics, K/V/H
    * lockstep views, commit manifest, epoch fencing — under the streaming
    * checkpoint's exactly-once replay. This is the call a reference user
    * points their existing connector config at.
    *
    * `gates` is a composable content-filter stack (`Gates`: quality,
    * classifier, k-means cluster, frozen-LM perplexity, or any
    * DataFrame => DataFrame) folded over each micro-batch BEFORE the
    * write. Because the standard gates score against frozen models, the
    * streamed composition keeps exactly the rows the batch pipeline
    * would keep over the same input (pinned by StreamingIngestSpec). */
  def startPipeline(frame: DataFrame, cfg: IngestConfig,
                    partitioner: PartitionerSpec, outDir: String,
                    checkpointDir: String,
                    kafkaPartition: Column, offset: Column,
                    payloadCols: Seq[Column],
                    valueColumnForNulls: Option[String] = None,
                    writeManifest: Boolean = false,
                    extraCauseGroups: Seq[(String, Column)] = Nil,
                    causeStats: Boolean = false,
                    fence: Option[(graft.ingest.EpochFence, Long)] = None,
                    gates: Seq[Gates.Gate] = Nil,
                    summarize: Option[(Seq[String], Seq[String], String)] =
                      None,
                    diagnostics: Option[graft.ingest.RotationDiagnostics] =
                      None,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    frame.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // scoped: a gate may persist per-batch frames; the scope
        // unpersists only those, never co-resident models/history tables
        graft.analytics.Caches.scoped {
          val gated = Gates.all(gates: _*)(batch)
          val res = Ingest.run(gated, cfg, partitioner, outDir,
            kafkaPartition = kafkaPartition, offset = offset,
            payloadCols = payloadCols,
            valueColumnForNulls = valueColumnForNulls,
            writeManifest = writeManifest,
            extraCauseGroups = extraCauseGroups,
            causeStats = causeStats,
            fence = fence)
          // R10 periodic diagnostics: fold this batch's rotation stats;
          // the accumulator emits one line per wall-clock interval
          // (TopicPartitionWriter.java:708-726)
          diagnostics.foreach(_.record(res.stats))
          // same-batch summary maintenance (SummaryRewrite serving):
          // the delta slice sees exactly the GATED rows the lake write
          // saw, under the same batch id, so the served summary tracks
          // the landed lake one-for-one — crash replay is a no-op on
          // both sides (deterministic keys there, _SUCCESS marker here)
          summarize.foreach { case (dims, measures, sumDir) =>
            persistSummaryBatch(gated, batchId, sumDir, dims, measures)
          }
        }
        ()
      }
      .start()

  /** Registry wire-format streaming sink (SURVEY §1.3a): each micro-batch
    * carries RAW Confluent-framed bytes (`0x00` magic + int32 schema id +
    * Avro body) in `valueCol`; this deserializes them against the
    * directory registry and drives the FULL P5/R5 schema-evolution path —
    * the one-line swap for a `readStream.format("kafka")` user whose
    * values come straight off a schema registry.
    *
    * Per batch: (1) poison frames (null / bad magic / unknown id) route
    * to the F4 DLQ BEFORE any decode, written exactly-once under a
    * deterministic `batch=<id>` dir; (2) clean frames split per schema
    * id and decode under each id's writer schema (map-only, reader
    * reused per partition); (3) `SchemaEvolution.resolve` applies the
    * compatibility mode — projecting compatible versions onto one write
    * group, rotating incompatible ones; (4) each surviving group writes
    * through the full `Ingest.run` pipeline under a K8
    * `schema_name=<name>_v<version>` affix, so rotated schemas get
    * distinct file groups exactly as R5 demands. Exactly-once holds by
    * the X1/X2 argument: the checkpoint WAL is the offset store and
    * every object key (DLQ included) is a deterministic function of the
    * batch. */
  def startWireFormatPipeline(frame: DataFrame, cfg: IngestConfig,
                              partitioner: PartitionerSpec, outDir: String,
                              checkpointDir: String, registryDir: String,
                              mode: graft.ingest.SchemaCompat.CompatMode,
                              kafkaPartition: Column, offset: Column,
                              keep: Seq[String],
                              valueCol: String = "value",
                              dlqDir: Option[String] = None,
                              trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    frame.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val wf = graft.ingest.WireFormat
        val known = wf.loadRegistry(batch.sparkSession, registryDir).keySet
        val routed = wf.route(batch, col(valueCol), known)
        dlqDir.foreach { d =>
          routed.deadLetter.write.mode("overwrite")
            .parquet(s"$d/batch=$batchId")
        }
        val decoded = wf.decodeAll(
          routed.ok, col(valueCol), registryDir, keep)
        // corrupt Avro bodies (valid header, unreadable payload) are the
        // decode-time DLQ class the header route cannot catch — same
        // exactly-once deterministic-dir discipline
        dlqDir.foreach { d =>
          decoded.corrupt.write.mode("overwrite")
            .parquet(s"$d/batch=$batchId-corrupt")
        }
        val batches = decoded.batches
        if (batches.nonEmpty)
          graft.ingest.SchemaEvolution.resolve(mode, batches).foreach { g =>
            Ingest.run(g.frame, cfg,
              PartitionerSpec.SchemaAffix(partitioner,
                s"${g.as.name}_v${g.as.version.getOrElse(0)}"),
              outDir, kafkaPartition = kafkaPartition, offset = offset,
              payloadCols = g.as.struct.fieldNames.toSeq
                .filterNot(keep.contains).map(col))
          }
        ()
      }
      .start()

  /** Multi-topic streaming sink: the streaming face of `Ingest.runMulti`
    * (the reference's `topics` list, S3SinkTask.java:229-276) — each
    * micro-batch routes records by `topicCol` and runs the full pipeline
    * per topic under its own `<topics.dir>/<topic>/` subtree with a
    * PER-TOPIC config (different flush sizes, formats, null modes —
    * which the reference's single shared config cannot express). Gates
    * fold over the whole batch BEFORE the split, so content policy stays
    * uniform across topics while layout policy is per-topic.
    *
    * Exactly-once holds per topic by the same X1/X2 argument as the
    * single-topic pipeline: the checkpoint WAL is the only offset store,
    * and replayed micro-batches regenerate byte-identical object names
    * in every topic subtree (kill-and-resume pinned for two topics with
    * different flush sizes in StreamingIngestSpec). */
  def startPipelineMulti(frame: DataFrame, topicCol: Column,
                         cfgFor: String => IngestConfig,
                         partitioner: PartitionerSpec, outDir: String,
                         checkpointDir: String,
                         kafkaPartition: Column, offset: Column,
                         payloadCols: Seq[Column],
                         valueColumnForNulls: Option[String] = None,
                         writeManifest: Boolean = false,
                         extraCauseGroups: Seq[(String, Column)] = Nil,
                         causeStats: Boolean = false,
                         fence: Option[(graft.ingest.EpochFence, Long)] =
                           None,
                         gates: Seq[Gates.Gate] = Nil,
                         trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    frame.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.analytics.Caches.scoped {
          val gated = Gates.all(gates: _*)(batch)
          Ingest.runMulti(gated, topicCol, cfgFor, partitioner, outDir,
            kafkaPartition = kafkaPartition, offset = offset,
            payloadCols = payloadCols,
            valueColumnForNulls = valueColumnForNulls,
            writeManifest = writeManifest,
            extraCauseGroups = extraCauseGroups,
            causeStats = causeStats,
            fence = fence)
        }
        ()
      }
      .start()

  /** Watermarked tumbling-window aggregation — late data beyond the
    * watermark is dropped, the semantics the reference explicitly lacks
    * (out-of-order records silently land in old partitions,
    * TopicPartitionWriterTest.java:655-709). */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowDuration: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"))

  /** Streaming exact dedup: drops records whose `idCols` were already seen,
    * with state bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark`) — the streaming twin of
    * `Dedup.exact`, and the guard that makes at-least-once upstreams
    * exactly-once downstream without unbounded state. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           watermark: String,
                           idCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Cross-batch first-wins dedup with CUSTOM state
    * (`flatMapGroupsWithState`) — what `dropDuplicatesWithinWatermark`
    * cannot express: dedup on a computed CONTENT key (any Column type —
    * the key groups on its STRING form, so a numeric hash, an md5 hex
    * string, or a CDC fingerprint all work; a null key groups as null)
    * with `Dedup.exact`'s deterministic winner rule (smallest `ordCol` —
    * numeric, cast to long — in the key's FIRST batch wins; later
    * batches emit nothing), and state that outlives any watermark. Rows
    * flow through a `to_json`/`from_json` round trip so the operator is
    * schema-generic while the state store holds ONE boolean per distinct
    * key — state size is distinct-keys, not rows.
    *
    * `ttl` (processing-time) bounds that state for unbounded streams: a
    * key idle past the TTL is evicted and its NEXT occurrence re-admits
    * — the deliberate trade (bounded store, re-admission after quiet
    * periods) every production dedup store makes; omit it only when the
    * key universe is known-bounded. Exactly-once: state lives in the
    * checkpointed state store, so a replayed micro-batch re-emits the
    * same keep decisions instead of re-admitting duplicates. */
  def firstWinsDedup(stream: DataFrame, keyCol: Column, ordCol: Column,
                     ttl: Option[java.time.Duration] = None): DataFrame = {
    import stream.sparkSession.implicits._
    val schema = stream.schema
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val kept = stream
      .select(keyCol.cast("string").as("_1"), ordCol.cast("long").as("_2"),
        to_json(struct(stream.columns.toIndexedSeq.map(col): _*)).as("_3"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, String](OutputMode.Append, timeout) {
        (_: String, rows: Iterator[(String, Long, String)],
         state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            // seen in an earlier batch — refresh the TTL so a HOT key's
            // duplicates stay suppressed; only idle keys age out
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            Iterator.empty
          } else {
            state.update(true)
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            Iterator.single(rows.minBy(r => (r._2, r._3))._3)
          }
      }
    kept.select(from_json(col("value"), schema).as("_r")).select("_r.*")
  }

  final case class DistinctUpdate(group: String, batch_items: Long,
                                  est_distinct: Long)

  /** Streaming running distinct-cardinality per group on CUSTOM keyed
    * state: the batch HLL register table (`Sketches.hllRegisters`) held
    * as one byte[2^p] array per group — 512 B at p=9 no matter how many
    * items the group ever sees — max-folded per micro-batch and read
    * back through the same estimate chain. The hash/bucket/rho
    * arithmetic IS `Sketches.hllBucketRho`, computed in the codegen'd
    * projection before rows reach the state store, so after any batch
    * the emitted estimate is BIT-EQUAL to a batch `hllDistinct` over
    * every row ingested so far (register max is order- and
    * batching-insensitive — the mergeability property, live). Emits one
    * Update row per group per touched micro-batch.
    *
    * No timeout: cardinality state is meant to outlive any watermark
    * (prefix the group key with a day/window id when the metric should
    * roll, and the old keys go cold at 512 B each). Exactly-once: the
    * registers live in the checkpointed state store, and a replayed
    * micro-batch re-folds idempotently (max). */
  def runningDistinct(stream: DataFrame, group: Column, item: Column,
                      p: Int = 9): Dataset[DistinctUpdate] = {
    import stream.sparkSession.implicits._
    val m = 1 << p
    val rows = stream
      .select(group.cast("string").as("_1"),
        graft.analytics.Sketches.hllBucketRho(item, p).as("br"))
      .select(col("_1"), col("br.bkt").as("_2"),
        col("br.rho").cast("int").as("_3"))
      .as[(String, Long, Int)]
    rows.groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], DistinctUpdate](
        GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[(String, Long, Int)],
         state: GroupState[Array[Byte]]) =>
          val regs = state.getOption.getOrElse(new Array[Byte](m))
          var n = 0L
          it.foreach { r =>
            n += 1
            val i = r._2.toInt
            if (r._3 > regs(i)) regs(i) = r._3.toByte
          }
          state.update(regs)
          DistinctUpdate(grp, n,
            graft.analytics.Sketches.hllEstimateFromRegisters(
              regs.map(_.toInt), p))
      }
  }

  final case class KmvUpdate(group: String, batch_items: Long,
                             est_distinct: Long)

  /** Streaming running KMV (theta) sketch per group — the MIN-SET
    * mergeability discipline, completing the trio with
    * `runningDistinct`'s register MAX and the CM sink's slice SUM:
    * state is the k smallest distinct 60-bit item hashes per group
    * (≤ k longs forever), each micro-batch set-unions its hashes in and
    * re-truncates to k. Union-then-truncate is idempotent and order-
    * insensitive — a replayed micro-batch re-folds to the identical
    * state, no batchId bookkeeping needed (the property CM lacks).
    *
    * The hash and the estimator are `Sketches.kmvDistinct`'s own
    * (`h60`, est = (k−1)·2^60/h_k, exact count below k), so after any
    * batch the emitted estimate is BIT-EQUAL to the batch operator over
    * every row seen — and the retained state is the SIGNATURE, which is
    * the composable form: snapshot two groups' states and
    * `Sketches.kmvOverlap` answers intersection cardinality between
    * live streams. Emits one Update row per touched group per batch. */
  // the shared min-set micro-batch fold: union the batch's hashes into
  // the retained k-minimum set and re-truncate (state never holds more
  // than k+1 entries transiently); returns (updated ascending state,
  // rows folded this batch)
  private def kmvFoldBatch(k: Int, prior: Option[Array[Long]],
                           it: Iterator[Long]): (Array[Long], Long) = {
    val set = scala.collection.mutable.TreeSet.empty[Long]
    prior.foreach(set ++= _)
    var n = 0L
    it.foreach { h =>
      n += 1
      if (set.size < k || h < set.last) {
        set += h
        if (set.size > k) set -= set.last
      }
    }
    (set.toArray, n) // ascending
  }

  def runningKmv(stream: DataFrame, group: Column, item: Column,
                 k: Int = 64): Dataset[KmvUpdate] = {
    import stream.sparkSession.implicits._
    val rows = stream
      .select(group.cast("string").as("_1"),
        graft.analytics.Sketches.h60(item).as("_2"))
      .as[(String, Long)]
    rows.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], KmvUpdate](
        GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[(String, Long)],
         state: GroupState[Array[Long]]) =>
          val (arr, n) = kmvFoldBatch(k, state.getOption, it.map(_._2))
          state.update(arr)
          val est =
            if (arr.length == k)
              math.round((k - 1).toDouble * 1152921504606846976.0
                / arr(k - 1).toDouble)
            else arr.length.toLong
          KmvUpdate(grp, n, est)
      }
  }

  final case class KmvSnapshot(group: String, total_items: Long,
                               hs: Array[Long])

  /** `runningKmv`'s COMPOSABLE twin: the identical min-set fold, but
    * each update emits the SIGNATURE snapshot (the ascending k-minimum
    * hashes) instead of collapsing to the estimate — the mergeable form
    * `Sketches.kmvOverlap` consumes. Snapshot two live groups' latest
    * states and `kmvOverlapFromSnapshots` answers "how many distinct
    * items do these two streams share" bit-equal to the batch operator
    * over every row seen (idempotent under replay, like the estimate:
    * union-then-truncate never moves on re-folded items).
    * `total_items` is the group's cumulative folded-row count — strictly
    * increasing, so "latest snapshot per group" = max(total_items). */
  def runningKmvSnapshot(stream: DataFrame, group: Column, item: Column,
                         k: Int = 64): Dataset[KmvSnapshot] = {
    import stream.sparkSession.implicits._
    val rows = stream
      .select(group.cast("string").as("_1"),
        graft.analytics.Sketches.h60(item).as("_2"))
      .as[(String, Long)]
    rows.groupByKey(_._1)
      .mapGroupsWithState[(Array[Long], Long), KmvSnapshot](
        GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[(String, Long)],
         state: GroupState[(Array[Long], Long)]) =>
          val prior = state.getOption
          val (arr, n) = kmvFoldBatch(k, prior.map(_._1), it.map(_._2))
          val total = prior.map(_._2).getOrElse(0L) + n
          state.update((arr, total))
          KmvSnapshot(grp, total, arr)
      }
  }

  /** Theta-sketch intersection between LIVE streams: feed the latest
    * `runningKmvSnapshot` row per group into the batch
    * `Sketches.kmvOverlap` estimator (the snapshot IS the signature —
    * ascending hashes, rank = position). Output `(a_grp, b_grp,
    * est_inter)`, bit-equal to `kmvOverlap` over a batch
    * `kmvSignature` of every row the stream has seen. */
  def kmvOverlapFromSnapshots(snaps: DataFrame, group: Column,
                              hs: Column, k: Int): DataFrame = {
    val sig = snaps.select(group.as("grp"), posexplode(hs))
      .select(col("grp"), col("col").as("h"),
        (col("pos") + 1).as("rn"))
    graft.analytics.Sketches.kmvOverlap(sig, k)
  }

  /** One micro-batch of the streaming count-min sink: build the batch's
    * OWN cell table (`Sketches.cmCells`) and commit it as the slice
    * `batch_id=<id>/` under `outDir`. This is `runningDistinct`'s
    * sum-merge sibling with the OPPOSITE mergeability discipline, and
    * the replay semantics are the interesting part: HLL register max is
    * idempotent (a replayed batch re-folds harmlessly), but CM cells ADD
    * — naively re-summing a replayed micro-batch double-counts its whole
    * mass. The exactly-once lever is batchId-keyed slice isolation:
    *  - a slice with a commit marker (parquet `_SUCCESS`) is final — a
    *    replay of that batchId SKIPS (returns false);
    *  - a partial slice from a crashed attempt has no marker — the
    *    replay OVERWRITES it in place (mode Overwrite on the slice dir),
    *    never appends on top.
    * Committed slices therefore partition the stream exactly once, so
    * summing them (`readCmCells` = the `cmMergeCells` discipline over
    * the slice table) equals a single batch pass over every row — the
    * disjoint-slice precondition of CM sum-merge, manufactured by the
    * sink. Slice size is the FIXED d·w grid regardless of batch rows. */
  def persistCmBatch(batch: DataFrame, batchId: Long, outDir: String,
                     item: Column, weight: Column,
                     d: Int = 4, w: Int = 1024): Boolean = {
    val slice = new java.io.File(outDir, s"batch_id=$batchId")
    if (new java.io.File(slice, "_SUCCESS").exists()) false
    else {
      // d·w cells max — one file per slice keeps the table compact
      graft.analytics.Sketches.cmCells(batch, item, weight, d, w)
        .coalesce(1)
        .write.mode("overwrite").parquet(slice.toString)
      true
    }
  }

  /** The streaming CM sink: every micro-batch lands its cell slice via
    * `persistCmBatch`; `readCmCells` serves the running sketch. */
  def startCmSink(stream: DataFrame, item: Column, weight: Column,
                  outDir: String, checkpointDir: String,
                  d: Int = 4, w: Int = 1024,
                  trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        persistCmBatch(batch, batchId, outDir, item, weight, d, w); ()
      }
      .start()

  /** The running sketch over every COMMITTED slice: list the `batch_id=`
    * slice dirs, keep only those carrying the parquet `_SUCCESS` commit
    * marker, and SUM per cell — `Sketches.cmMergeCells` over however
    * many committed slices exist, feeding the same `Sketches.cmEstimate`
    * read chain the batch sketch uses. The marker filter is load-bearing
    * for the exactly-once contract: a crashed attempt's PARTIAL slice
    * (no `_SUCCESS`) must never reach the merged cells — plain partition
    * discovery would sum its mass and a later replay-overwrite of the
    * same batchId would then have been double-counted at read time. The
    * scan is slices × d·w cells — sketch-scale, never stream-scale. */
  def readCmCells(spark: org.apache.spark.sql.SparkSession,
                  outDir: String): DataFrame = {
    val committed = Option(new java.io.File(outDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getPath).sorted.toSeq
    if (committed.isEmpty)
      spark.range(0).select(col("id").cast("int").as("r"),
        col("id").as("c"), col("id").as("cell"))
    else
      spark.read.parquet(committed: _*)
        .groupBy(col("r"), col("c"))
        .agg(sum(col("cell")).cast("long").as("cell"))
  }

  /** Land one micro-batch's summary DELTA slice for the materialized
    * summary table (`graft.plans.SummaryRewrite`): aggregate the batch to
    * the rollup partials and write them under `batch_id=<id>` — the same
    * exactly-once discipline as `persistCmBatch` (a replayed batch id
    * whose `_SUCCESS` marker exists is a no-op; a crashed partial slice
    * has no marker and is invisible to [[readSummary]]). */
  def persistSummaryBatch(batch: DataFrame, batchId: Long, outDir: String,
                          dims: Seq[String], measures: Seq[String])
      : Boolean = {
    val slice = new java.io.File(outDir, s"batch_id=$batchId")
    if (new java.io.File(slice, "_SUCCESS").exists()) false
    else {
      // summary-grain rows — one file per slice keeps the table compact
      graft.plans.SummaryRewrite.buildSummary(batch, dims, measures)
        .coalesce(1)
        .write.mode("overwrite").parquet(slice.toString)
      true
    }
  }

  /** The streaming summary-maintenance sink: every micro-batch lands its
    * delta slice via [[persistSummaryBatch]]; [[readSummary]] folds the
    * committed slices into the servable summary that
    * `SummaryRewrite.register` promises is fresh. This closes the
    * lambda-architecture loop entirely inside the engine: ingest keeps
    * the summary current per batch, the optimizer rule serves dashboard
    * aggregates from it, and the lake is never re-scanned to refresh. */
  def startSummarySink(stream: DataFrame, dims: Seq[String],
                       measures: Seq[String], outDir: String,
                       checkpointDir: String,
                       trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        persistSummaryBatch(batch, batchId, outDir, dims, measures); ()
      }
      .start()

  private def committedSlices(outDir: String): Seq[String] = {
    val committed = Option(new java.io.File(outDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getPath).sorted.toSeq
    require(committed.nonEmpty,
      s"no committed summary slices under $outDir")
    committed
  }

  /** The servable summary over every COMMITTED slice: keep only
    * `batch_id=` dirs carrying the parquet `_SUCCESS` marker (the
    * `readCmCells` exactly-once filter — a crashed attempt's partial
    * slice must never merge) and fold them with
    * `SummaryRewrite.mergeSummaries` — slices x |dim-combination| rows,
    * summary-scale, never stream-scale. */
  def readSummary(spark: org.apache.spark.sql.SparkSession, outDir: String,
                  dims: Seq[String], measures: Seq[String]): DataFrame =
    graft.plans.SummaryRewrite.mergeSummaries(
      spark.read.parquet(committedSlices(outDir): _*), dims, measures)

  /** The HISTOGRAM twin of [[startSummarySink]]: per micro-batch, land a
    * (dims…, v)→cnt delta slice of `measure` exactly-once; the merged
    * table serves exact percentiles/medians via
    * `SummaryRewrite.registerHist`. Slice size is |dims × distinct
    * values in the batch| — value-grain, never stream-grain. */
  def startHistSummarySink(stream: DataFrame, dims: Seq[String],
                           measure: String, outDir: String,
                           checkpointDir: String,
                           trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val slice = new java.io.File(outDir, s"batch_id=$batchId")
        if (!new java.io.File(slice, "_SUCCESS").exists())
          graft.plans.SummaryRewrite
            .buildHistSummary(batch, dims, measure)
            .coalesce(1)
            .write.mode("overwrite").parquet(slice.toString)
        ()
      }
      .start()

  /** Merged histogram summary over the committed slices. */
  def readHistSummary(spark: org.apache.spark.sql.SparkSession,
                      outDir: String, dims: Seq[String]): DataFrame =
    graft.plans.SummaryRewrite.mergeHistSummaries(
      spark.read.parquet(committedSlices(outDir): _*), dims)

  /** The HLL twin — streaming approx-distinct (DAU) maintenance: each
    * micro-batch lands its register delta ((dims…, bkt)→max rho,
    * `SummaryRewrite.buildHllSummary`) exactly-once; the merged table
    * serves estimates at ANY rollup of the dims via
    * `SummaryRewrite.serveHll`. Register max is IDEMPOTENT, so even a
    * replayed/overlapping slice could never inflate an estimate — the
    * safest of the three sink algebras. */
  def startHllSummarySink(stream: DataFrame, dims: Seq[String],
                          item: Column, outDir: String,
                          checkpointDir: String, p: Int = 9,
                          trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val slice = new java.io.File(outDir, s"batch_id=$batchId")
        if (!new java.io.File(slice, "_SUCCESS").exists())
          graft.plans.SummaryRewrite
            .buildHllSummary(batch, dims, item, p)
            .coalesce(1)
            .write.mode("overwrite").parquet(slice.toString)
        ()
      }
      .start()

  /** Merged register summary over the committed slices. */
  def readHllSummary(spark: org.apache.spark.sql.SparkSession,
                     outDir: String, dims: Seq[String]): DataFrame =
    graft.plans.SummaryRewrite.mergeHllSummaries(
      spark.read.parquet(committedSlices(outDir): _*), dims)

  /** Stream-stream temporal enrichment: join two live streams on a key
    * with the right event constrained to (leftTs - before, leftTs] — the
    * streaming twin of the batch range join (q16) and the pattern behind
    * "attach the click that preceded this purchase" enrichment. Both
    * sides carry watermarks, and the inequality bound is what lets Spark
    * evict buffered state: a right row older than
    * (left watermark - before) can never match again and is dropped.
    * Without the time bound the state store grows with the full history
    * of both streams. */
  def enrichWithin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, before: String,
                   watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    // qualify through the frames, not bare col(): both streams may name
    // their event-time column identically (leftTs == rightTs == "ts")
    l.join(r, l(key) === r(key) &&
      r(rightTs) <= l(leftTs) &&
      r(rightTs) >= l(leftTs) - expr(s"interval $before"))
      .drop(r(key))
  }

  final case class SessionEvent(user_id: Long, event_id: Long, ts_ms: Long)
  final case class SessionState(sessionId: Long, lastTsMs: Long, nEvents: Long)
  final case class SessionUpdate(user_id: Long, session_id: Long,
                                 n_events: Long)

  /** Gap-based sessionization with explicit keyed state
    * (mapGroupsWithState) — the streaming twin of the batch q23_sessionize
    * query. Emits the running summary of each user's current session.
    *
    * State is bounded: `EventTimeTimeout` with the timeout set to
    * `lastEventTs + gap` means a key whose session gap has passed the
    * watermark gets one final emit and its state removed — on an unbounded
    * stream the state store holds only users active within (gap +
    * watermark), not every user ever seen. Eviction is observable: the
    * user's next session restarts at id 1 (StreamingIngestSpec). */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
                 watermark: String = "10 minutes"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_ts", timestamp_millis(col("ts_ms")))
      .withWatermark("event_ts", watermark)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap: close the session, free state
            val st = state.get
            state.remove()
            SessionUpdate(user, st.sessionId, st.nEvents)
          } else {
            var st = state.getOption
              .getOrElse(SessionState(0L, Long.MinValue, 0L))
            // buffers one key's micro-batch slice — bounded by per-trigger
            // input (maxOffsetsPerTrigger/maxFilesPerTrigger), not stream
            // history
            it.toSeq.sortBy(e => (e.ts_ms, e.event_id)).foreach { e =>
              st =
                if (st.lastTsMs == Long.MinValue ||
                  e.ts_ms - st.lastTsMs > gapMs)
                  SessionState(st.sessionId + 1, e.ts_ms, 1L)
                else SessionState(st.sessionId, e.ts_ms, st.nEvents + 1L)
            }
            state.update(st)
            // Spark requires the timeout to sit strictly beyond the current
            // watermark; a session already older than the watermark expires
            // at the next watermark advance
            state.setTimeoutTimestamp(math.max(st.lastTsMs + gapMs,
              state.getCurrentWatermarkMs() + 1))
            SessionUpdate(user, st.sessionId, st.nEvents)
          }
      }
  }

  /** Streaming near-dup gate: every micro-batch drops rows whose shingle
    * Jaccard against the static `history` corpus reaches the threshold
    * (banded MinHash candidates + exact verify), and appends the
    * survivors. The history side's shingle/bucket tables are built and
    * persisted ONCE at wiring time (round 17: they used to be
    * recomputed inside every micro-batch — at scale that re-shingled
    * the whole history lake per trigger); refresh by restarting the
    * gate when the frozen history advances. */
  def startNearDupGate(frame: DataFrame, history: DataFrame,
                       idCol: String, textCol: String,
                       outDir: String, checkpointDir: String,
                       threshold: Double = 0.7,
                       trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    val prep = graft.analytics.Dedup.nearDupHistoryPrep(history,
      org.apache.spark.sql.functions.col(idCol),
      org.apache.spark.sql.functions.col(textCol))
    startGate(frame, idCol, outDir, checkpointDir, trigger) { batch =>
      graft.analytics.Dedup.nearDupAgainstPrepped(prep, batch,
        org.apache.spark.sql.functions.col(idCol),
        org.apache.spark.sql.functions.col(textCol),
        threshold = threshold)
    }
  }

  /** Streaming EMBEDDING dedup gate: every micro-batch drops vectors whose
    * cosine against the static `history` reaches the threshold
    * (SRP band candidates + exact-cosine verify, never a history
    * self-join), and appends the survivors. The history's SRP tables
    * (norms + band buckets) are prepared ONCE here, outside the
    * per-batch scope, and reused by every trigger — rebuilding them per
    * batch would re-scan the whole history corpus each time. */
  def startEmbeddingDedupGate(frame: DataFrame, history: DataFrame,
                              idCol: String, vecCol: String,
                              outDir: String, checkpointDir: String,
                              threshold: Double = 0.95,
                              trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    val hPrep = graft.analytics.Similarity.srpPrep(history,
      org.apache.spark.sql.functions.col(idCol),
      org.apache.spark.sql.functions.col(vecCol))
    startGate(frame, idCol, outDir, checkpointDir, trigger) { batch =>
      graft.analytics.Similarity.srpLshPairsAgainstPrepped(hPrep, batch,
        org.apache.spark.sql.functions.col(idCol),
        org.apache.spark.sql.functions.col(vecCol),
        threshold = threshold)
    }
  }

  /** Streaming CDC upsert sink: the lake holds the CURRENT row per key,
    * hash-bucketed on the key into `nBuckets` partition directories; each
    * batch reads ONLY its affected buckets back (partition-pruned scan),
    * merges via `Compaction.upsertVersioned` — the highest version wins
    * ACROSS the lake and the batch, so out-of-order delivery (a later
    * trigger carrying an older version, normal when the upstream topic is
    * not totally ordered per key) can never regress a row — and
    * dynamically overwrites just those buckets. Replays of a batchId are
    * idempotent: the versioned merge of the same rows into the same
    * buckets is deterministic down to payload tiebreaks, so a replay
    * rewrites byte-identical bucket contents (the X1 discipline at
    * bucket granularity).
    *
    * Scale: per trigger the work is proportional to the AFFECTED buckets'
    * data, not the lake — raise `nBuckets` so a bucket is a few files.
    * The merged result stages to a scratch dir under the checkpoint
    * location and is read back for the lake overwrite: two task-side
    * writes of the affected buckets, but no executor-storage retention
    * (a localCheckpoint would pin blocks until driver GC) and no
    * read-from-overwritten-path cycle. Like every file-lake in-place
    * overwrite (the reference's W8 conditional-write class), the commit
    * window between delete and move is not transactional — a table
    * format or the `EpochFence` claim pattern closes it in production;
    * the staged copy plus deterministic replay covers task/executor
    * loss, which is the common failure. */
  def startUpsertSink(frame: DataFrame, keyCol: String, versionCol: String,
                      lakeDir: String, checkpointDir: String,
                      nBuckets: Int = 64,
                      trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    frame.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.analytics.Caches.scoped {
          val spark = batch.sparkSession
          val keyed = batch.withColumn("__bucket",
            pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)))
          val affected = keyed.select("__bucket").distinct()
            .collect().map(_.getLong(0)).toSeq // bounded by nBuckets
          val existing =
            try spark.read.option("basePath", lakeDir).parquet(lakeDir)
              .withColumn("__bucket", col("__bucket").cast("long"))
              .filter(col("__bucket").isin(affected: _*))
            catch {
              case _: org.apache.spark.sql.AnalysisException =>
                spark.createDataFrame(
                  spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                  keyed.schema)
            }
          // stage → read back → overwrite: breaks the self-read cycle
          // without pinning executor storage; the stage dir is scratch
          // (overwritten per batch, deterministic per batchId)
          val stage = s"$checkpointDir/upsert_stage"
          graft.ingest.Compaction
            .upsertVersioned(existing, keyed,
              Seq(keyCol, "__bucket"), versionCol)
            .write.mode("overwrite").parquet(stage)
          spark.read.parquet(stage)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(lakeDir)
        }
      }
      .start()

  /** Shared gate scaffolding: per micro-batch, `dupPairs(batch)` names the
    * batch rows (`new_id` column) that duplicate the history; survivors
    * anti-join out and land in a DETERMINISTIC per-batch directory with
    * overwrite semantics — foreachBatch is at-least-once, so a replay of
    * the same batchId rewrites the identical objects instead of appending
    * duplicates (the X1 discipline, batch-granular). `Caches.scoped`
    * unpersists only the per-batch frames — a global clear would evict
    * co-resident pipelines' caches (e.g. the precomputed history tables)
    * every trigger. */
  private def startGate(frame: DataFrame, idCol: String, outDir: String,
                        checkpointDir: String, trigger: Trigger)
                       (dupPairs: DataFrame => DataFrame): StreamingQuery =
    frame.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.analytics.Caches.scoped {
          val dups = dupPairs(batch)
            .select(org.apache.spark.sql.functions.col("new_id").as(idCol))
            .distinct()
          batch.join(dups, Seq(idCol), "left_anti")
            .write.mode("overwrite")
            .parquet(s"$outDir/batch_id=$batchId")
        }
      }
      .start()
}

package sinkbench

import graft.analytics.Caches
import graft.ingest.Compaction
import graft.streaming.{Gates, StreamingIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import java.io.File
import java.time.Instant

/** The sink benchmark. One run = one workload, one seed:
  *
  *  1. set-up: generate the seed's records and land them as a file
  *     source, and wire the pipeline (gate history prep included), three
  *     times (median reported); then warm the pipeline up on extra
  *     batches;
  *  2. the timed window: one StreamingQuery (`Trigger.AvailableNow`, one
  *     micro-batch in flight, one input file per Kafka partition) streams
  *     the landed batches through `StreamingIngest.startPipeline`;
  *  3. checks on the committed lake, then the read-back time.
  *
  * With `--trace 1` the run instead times the window once, replays the
  * same batches outside the query under a listener to attribute each
  * batch's time by layer and issuing function, and repeats the window on
  * one core.
  *
  * Prints human-readable lines, then one JSON result as the last line. */
object Main {
  val SetupReps = 3
  val WarmBatches = 1
  /** Read-backs repeat at least 3 times and until this much time is
    * measured (at most 8). */
  val ReadbackMinS = 2.0
  val BaselineBatches = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, cores: Int,
                        commit: String, deadlineMs: Long)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("cores").toInt,
      kv.getOrElse("commit", "unknown"),
      System.currentTimeMillis() + need("budget-s").toLong * 1000)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--selftest")) { SelfTest.main(args.tail); return }
    val a = parse(args)
    val work = new File(a.work)
    // a run never starts on top of files an earlier run left behind
    require(!work.exists(), s"work dir ${work.getPath} already exists; refusing to start")
    require(work.mkdirs(), s"cannot create work dir ${work.getPath}")
    try {
      val spark = session(a.cores, work)
      try {
        val wl = Workloads(a.workload)
        println(s"# env workload=${wl.name} seed=${a.seed} nproc=" +
          s"${Runtime.getRuntime.availableProcessors()} spark_cores=${a.cores} " +
          s"commit=${a.commit} spark=${spark.version} " +
          s"jvm=${System.getProperty("java.vm.name")}/${System.getProperty("java.version")}")
        val r = if (a.trace) traced(spark, wl, a, work) else untraced(spark, wl, a, work)
        r.print(wl.name)
      } finally SparkSession.active.stop()
    } finally deleteRecursively(work)
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("sinkbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.hadoop.fs.file.impl", classOf[LocalStore].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---------------------------------------------------------------- set-up

  final case class Prepared(dir: File, src: String, schema: StructType,
                            gates: Seq[Gates.Gate], batches: Int,
                            landS: Double, wiringS: Double)

  /** Lands `n` generated batches as `b<batch>-p<partition>.parquet`, with
    * modification times in batch-then-partition order: the file source
    * orders by modification time, so each micro-batch of `partitions`
    * files is exactly one generated batch. */
  def land(spark: SparkSession, records: DataFrame, dir: File, n: Int,
           partitions: Int, firstBatch: Int = 0): Unit = {
    val tmp = new File(dir.getPath + "_tmp")
    records.drop("__file").write.parquet(tmp.getAbsolutePath)
    val parts = tmp.listFiles().filter(f => f.getName.startsWith("part-"))
      .sortBy(f => f.getName.stripPrefix("part-").takeWhile(_ != '-').toInt)
    val files = n * partitions
    require(parts.length == files, s"expected $files landed files, got ${parts.length}")
    dir.mkdirs()
    val base = System.currentTimeMillis() - 10L * files - 60000L
    parts.zipWithIndex.foreach { case (f, k) =>
      val dest = new File(dir, fileName(firstBatch + k / partitions, k % partitions))
      require(f.renameTo(dest), s"cannot move $f")
      require(dest.setLastModified(base + 10L * k))
    }
    deleteRecursively(tmp)
  }

  def fileName(batch: Int, partition: Int): String = f"b$batch%05d-p$partition%02d.parquet"

  /** Generates and lands the measured batches plus the warm-up batches,
    * then wires the gate stack (history prep included). */
  def setUp(spark: SparkSession, wl: Workload, seed: Long, n: Int,
            dir: File): Prepared = {
    Caches.clear()
    val t0 = System.nanoTime()
    val src = new File(dir, "src")
    land(spark, wl.records(spark, seed, 0L, n.toLong), src, n, wl.partitions)
    // warm-up batches continue the same partitions' offsets past the
    // measured ones and land in a lake of their own
    land(spark, wl.records(spark, seed, n.toLong, WarmBatches.toLong),
      new File(dir, "warm"), WarmBatches, wl.partitions, firstBatch = n)
    val schema = spark.read.parquet(src.getAbsolutePath).schema
    val t1 = System.nanoTime()
    val gates = wl.wire(spark, seed)
    Prepared(dir, src.getAbsolutePath, schema, gates, n, (t1 - t0) / 1e9,
      (System.nanoTime() - t1) / 1e9)
  }

  /** Set-up: landing and wiring `SetupReps` times (the last one is kept),
    * then one warm-up query over the warm-up batches. Returns the kept
    * set-up, `setup_s` (median landing+wiring plus the warm-up) and the
    * samples. */
  def prepare(spark: SparkSession, wl: Workload, a: Args, work: File,
              n: Int): (Prepared, Double, Seq[Double], Double) = {
    var prep: Prepared = null
    val reps = (1 to SetupReps).map { r =>
      if (prep != null) deleteRecursively(prep.dir)
      prep = setUp(spark, wl, a.seed, n, new File(work, s"setup$r"))
      prep.landS + prep.wiringS
    }
    val t0 = System.nanoTime()
    val w = stream(spark, wl, prep.gates, new File(prep.dir, "warm"), prep.schema,
      new File(prep.dir, "warm-out"), new File(prep.dir, "warm-ckpt"), a)
    require(w.ok && w.batches.size == WarmBatches, s"warm-up failed: ${w.error.getOrElse("")}")
    Seq("warm", "warm-out", "warm-ckpt").foreach(d => deleteRecursively(new File(prep.dir, d)))
    val warmS = (System.nanoTime() - t0) / 1e9
    (prep, Stats.median(reps) + warmS, reps, warmS)
  }

  // ------------------------------------------------------------- streaming

  final case class StreamRun(ok: Boolean, error: Option[String],
                             batches: Seq[StreamingQueryProgress]) {
    def batchMs: Seq[Double] = batches.map(p => ms(p, "triggerExecution"))
    /** First trigger start to the last offset commit. */
    def windowS: Double =
      (Instant.parse(batches.last.timestamp).toEpochMilli +
        ms(batches.last, "triggerExecution") -
        Instant.parse(batches.head.timestamp).toEpochMilli) / 1000.0
  }

  def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Runs `f` with every landed file read as its own input split (one
    * per Kafka partition). A query keeps the settings it was started
    * with, so the lake reads outside it keep Spark's default packing. */
  def oneSplitPerFile[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.files.openCostInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, (128L << 20).toString)
    try f finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  def stream(spark: SparkSession, wl: Workload, gates: Seq[Gates.Gate],
             src: File, schema: StructType, out: File, ckpt: File,
             a: Args): StreamRun = {
    val frame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", wl.partitions.toString)
      .parquet(src.getAbsolutePath)
    val q = oneSplitPerFile(spark) {
      StreamingIngest.startPipeline(frame, wl.cfg, wl.partitioner,
        out.getAbsolutePath, ckpt.getAbsolutePath,
        kafkaPartition = col("kafka_partition"), offset = col("offset"),
        payloadCols = wl.payload, valueColumnForNulls = wl.valueColumnForNulls,
        writeManifest = wl.writeManifest, causeStats = wl.causeStats,
        gates = gates)
    }
    val timeout = math.max(1000L, a.deadlineMs - System.currentTimeMillis())
    def data = q.recentProgress.filter(_.numInputRows > 0).toSeq
    try {
      if (q.awaitTermination(timeout)) StreamRun(ok = true, None, data)
      else {
        q.stop()
        StreamRun(ok = false, Some(s"query still running after $timeout ms; stopped"), data)
      }
    } catch {
      case e: StreamingQueryException =>
        StreamRun(ok = false, Some(e.getMessage.linesIterator.take(3).mkString(" ")), data)
    }
  }

  // ---------------------------------------------------------------- checks

  final case class Verified(committed: Long, problems: Seq[(String, Seq[String])]) {
    def failed: Int = problems.count(_._2.nonEmpty)
  }

  /** The records the lake must hold: the landed source through the gate
    * stack applied in batch, minus null values the config drops. */
  def expected(spark: SparkSession, wl: Workload, p: Prepared,
               batches: Option[Int] = None): DataFrame = {
    val src = batches.fold(spark.read.schema(p.schema).parquet(p.src)) { n =>
      spark.read.schema(p.schema).parquet((for (b <- 0 until n; k <- 0 until wl.partitions)
        yield s"${p.src}/${fileName(b, k)}"): _*)
    }
    val gated = Gates.all(p.gates: _*)(src)
    wl.valueColumnForNulls.fold(gated)(v => gated.filter(col(v).isNotNull))
  }

  def topicDir(out: File, wl: Workload): String =
    s"${out.getAbsolutePath}/${wl.cfg.topicsDir}/${wl.cfg.topic}"

  /** Checks the committed lake against the expected record set: one
    * pass over the value view through `Compaction.readLake` (record set,
    * per-object contents), the object listing (names, K/V/H lockstep),
    * and the read-back's own digest (`Compaction.readCommitted` where
    * manifests exist). */
  def verify(spark: SparkSession, wl: Workload, exp: Check.Digest, out: File,
             read: Check.Digest): Verified = {
    val cfg = wl.cfg
    val td = topicDir(out, wl)
    val stats = Check.objectStats(Compaction.readLake(spark, td, cfg))
    val objs = Check.listObjects(td)
    val checks = Seq.newBuilder[(String, Seq[String])]
    checks += "record set" -> Check.recordSet(exp, Check.digestOf(stats), "readLake")
    checks += "object names" -> Check.names(objs, cfg)
    checks += "object contents" -> Check.objectContents(stats, cfg)
    if (cfg.writeKeys || cfg.writeHeaders)
      checks += "K/V/H lockstep" -> Check.lockstep(objs,
        stats.map(o => (o.epart, o.fname) -> o.n).toMap, td, cfg)
    checks += "read-back" -> Check.recordSet(exp, read,
      if (wl.writeManifest) "readCommitted" else "readLake")
    Verified(exp.count, checks.result())
  }

  /** Reads the whole committed lake back through the repo's reader,
    * decoding every column of every record; returns the time taken and
    * the records' digest. */
  def readback(spark: SparkSession, wl: Workload, out: File): (Double, Check.Digest) = {
    val t0 = System.nanoTime()
    val d =
      if (wl.writeManifest)
        Check.readDigest(Compaction.readCommitted(spark, out.getAbsolutePath, wl.cfg),
          element_at(split(regexp_extract(input_file_name(), "[^/]+$", 0), "\\+"), 2))
      else Check.readDigest(Compaction.readLake(spark, topicDir(out, wl), wl.cfg),
        col("__kpart"))
    ((System.nanoTime() - t0) / 1e9, d)
  }

  // --------------------------------------------------------------- results

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)],
                          notes: Seq[String]) {
    def print(workload: String): Unit = {
      notes.foreach(n => println(s"# $n"))
      metrics.foreach { case (k, v, u) => println(f"$workload%-18s $k%-48s $v%.6g $u") }
      println(s"# failed_frac=${if (attempted == 0) 0.0 else failed.toDouble / attempted} " +
        s"($failed of $attempted micro-batches and checks)")
      println(Json.result(correct, attempted, failed, metrics))
    }
  }

  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def problemNotes(v: Verified, s: StreamRun, n: Int): Seq[String] =
    s.error.map(e => s"FAIL stream: $e").toSeq ++
      (if (s.batches.size != n) Seq(s"FAIL stream: ${s.batches.size} micro-batches, expected $n") else Nil) ++
      v.problems.flatMap { case (k, ps) => ps.map(p => s"FAIL $k: $p") }

  def untraced(spark: SparkSession, wl: Workload, a: Args, work: File): Result = {
    val n = wl.batchesFor(a.seconds)
    val t0 = System.nanoTime()
    val (prep, setupS, reps, warmS) = prepare(spark, wl, a, work, n)
    val t1 = System.nanoTime()
    val out = new File(prep.dir, "out")
    val run = stream(spark, wl, prep.gates, new File(prep.src), prep.schema, out,
      new File(prep.dir, "ckpt"), a)
    val exp = Check.identity(expected(spark, wl, prep), col("kafka_partition"), col("offset"))
    val reads = scala.collection.mutable.ArrayBuffer(readback(spark, wl, out))
    while (reads.size < 3 || (reads.size < 8 && reads.map(_._1).sum < ReadbackMinS))
      reads += readback(spark, wl, out)
    val readS = reads.map(_._1).toSeq
    val t2 = System.nanoTime()
    val v = verify(spark, wl, exp, out, reads.head._2)
    val t3 = System.nanoTime()
    val objs = Check.listObjects(topicDir(out, wl))
    val dataObjs = objs.filterNot(Check.isManifest)
    val failedBatches = n - run.batches.size
    val ok = run.ok && failedBatches == 0 && v.failed == 0
    val bm = run.batchMs
    val tail = if (bm.isEmpty) Stats.Tail(0.0, 0, 0.0) else Stats.tail(bm)
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("records_per_s", if (run.batches.isEmpty) 0.0 else v.committed / run.windowS, "records/s"),
      ("batch_ms_p50", if (bm.isEmpty) 0.0 else Stats.median(bm), "ms"),
      ("batch_ms_tail", tail.value, "ms"),
      ("readback_s", Stats.median(readS), "s"),
      ("objects_per_krecord", dataObjs.size * 1000.0 / math.max(1L, v.committed), "count"),
      ("bytes_per_record", objs.map(_.bytes).sum.toDouble / math.max(1L, v.committed), "bytes"),
      ("peak_rss_mb", rssPeakMb(), "MB"))
    Result(ok, n + v.problems.size, failedBatches + v.failed, metrics,
      Seq(f"window: $n batches of ${wl.recordsPerBatch} records, " +
        f"${v.committed} committed in ${if (run.batches.isEmpty) 0.0 else run.windowS}%.3f s",
        f"setup_s = median land+wire of ${reps.map(x => f"$x%.3f").mkString(" ")} + warm-up $warmS%.3f",
        f"phases: set-up ${(t1 - t0) / 1e9}%.1f s, window and read-back ${(t2 - t1) / 1e9}%.1f s, " +
          f"checks ${(t3 - t2) / 1e9}%.1f s",
        s"batch_ms samples: ${bm.map(_.toLong).mkString(" ")}",
        s"readback_s samples: ${readS.map(x => f"$x%.3f").mkString(" ")}",
        f"batch_ms_tail = ${if (tail.n > 10) "11th-slowest" else "slowest"} of n=${tail.n} = p${tail.percentile}%.1f",
        s"checks: ${v.problems.map { case (k, ps) => s"$k=${if (ps.isEmpty) "ok" else "FAIL"}" }.mkString(", ")}") ++
        problemNotes(v, run, n))
  }

  // ---------------------------------------------------------------- traced

  def traced(spark0: SparkSession, wl: Workload, a: Args, work: File): Result = {
    var spark = spark0
    val n = wl.batchesFor(a.seconds)
    val (prep, _, _, _) = prepare(spark, wl, a, work, n)
    val out = new File(prep.dir, "out")
    val run = stream(spark, wl, prep.gates, new File(prep.src), prep.schema, out,
      new File(prep.dir, "ckpt"), a)
    val exp = Check.identity(expected(spark, wl, prep), col("kafka_partition"), col("offset"))
    val v = verify(spark, wl, exp, out, readback(spark, wl, out)._2)
    val untracedRps = if (run.batches.isEmpty) 0.0 else v.committed / run.windowS

    val trace = new Trace
    spark.sparkContext.addSparkListener(trace)
    val replayOut = new File(prep.dir, "replay-out")
    val rp = oneSplitPerFile(spark)(Replay.run(spark, wl, prep, replayOut, trace, a.cores))
    val sc = spark.sparkContext
    sc.setJobGroup("readback", "read the committed lake back")
    val (readS, readD) = readback(spark, wl, replayOut)
    sc.clearJobGroup()
    org.apache.spark.BenchAccess.drainListeners(sc)
    val readBytes = trace.stages("readback").map(_.c.input).sum
    sc.removeSparkListener(trace)
    val vr = verify(spark, wl, exp, replayOut, readD)
    val filesRead = Check.listObjects(topicDir(replayOut, wl)).count(_.name.endsWith(wl.cfg.extension))

    // the window again on one core, over the first batches of the source;
    // the first batch warms the new session and is not timed
    spark.stop()
    spark = session(1, new File(work, "one-core"))
    val bn = math.min(n, BaselineBatches)
    val base = new File(work, "one-core-src")
    base.mkdirs()
    for (k <- 0 until bn * wl.partitions) {
      val from = new File(prep.src, fileName(k / wl.partitions, k % wl.partitions))
      val dest = new File(base, from.getName)
      java.nio.file.Files.copy(from.toPath, dest.toPath)
      dest.setLastModified(from.lastModified())
    }
    val prepB = prep.copy(src = base.getAbsolutePath, gates = wl.wire(spark, a.seed))
    val b = stream(spark, wl, prepB.gates, base, prep.schema, new File(work, "one-core-out"),
      new File(work, "one-core-ckpt"), a)
    def committed(batches: Int) = Check.identity(expected(spark, wl, prepB, Some(batches)),
      col("kafka_partition"), col("offset")).count
    val bOk = b.ok && b.batches.size == bn
    val baseRps = if (!bOk) 0.0
      else (committed(bn) - committed(1)) / b.copy(batches = b.batches.tail).windowS

    val sm = run.batches
    def p50(f: StreamingQueryProgress => Double) = if (sm.isEmpty) 0.0 else Stats.median(sm.map(f))
    val streamingMetrics = Seq(
      ("streaming.microbatch.source_ms", p50(p => ms(p, "latestOffset") + ms(p, "getBatch")), "ms"),
      ("streaming.microbatch.queryPlanning_ms", p50(ms(_, "queryPlanning")), "ms"),
      ("streaming.microbatch.addBatch_ms", p50(ms(_, "addBatch")), "ms"),
      ("streaming.microbatch.walCommit_ms", p50(ms(_, "walCommit")), "ms"),
      ("streaming.microbatch.commitOffsets_ms", p50(ms(_, "commitOffsets")), "ms"))
    val tracedRps = v.committed / math.max(1e-9, rp.wallS)
    val metrics = streamingMetrics ++
      Seq(("streaming.Gates.wiring_s", prep.wiringS, "s")) ++
      rp.metrics(v.committed) ++ Seq(
        ("ingest.Compaction.readback.wall_ms", readS * 1000, "ms"),
        ("ingest.Compaction.readback.files_read", filesRead.toDouble, "count"),
        ("ingest.Compaction.readback.bytes_read", readBytes.toDouble, "bytes"),
        ("trace.overhead", if (untracedRps == 0) 0.0 else tracedRps / untracedRps, "ratio"),
        ("baseline.records_per_s_1core", baseRps, "records/s"))
    val failedBatches = (n - run.batches.size) + (if (bOk) 0 else 1)
    val ok = run.ok && failedBatches == 0 && v.failed == 0 && vr.failed == 0
    Result(ok, n + 1 + v.problems.size + vr.problems.size,
      failedBatches + v.failed + vr.failed, metrics,
      Seq(f"untraced window: ${v.committed} records in ${if (sm.isEmpty) 0.0 else run.windowS}%.3f s; " +
        f"traced replay ${rp.wallS}%.3f s; one-core ${bn - 1} timed batches") ++
        rp.notes ++ problemNotes(v, run, n) ++
        vr.problems.flatMap { case (k, ps) => ps.map(p => s"FAIL replay $k: $p") } ++
        b.error.map(e => s"FAIL one-core stream: $e"))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

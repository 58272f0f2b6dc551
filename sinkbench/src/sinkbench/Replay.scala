package sinkbench

import graft.analytics.Caches
import graft.ingest.Ingest
import graft.streaming.Gates
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The traced replay: each landed micro-batch runs outside the query
  * through the same public calls `startPipeline` makes, one job group
  * per call. The gate stack is materialized as its own span, then
  * `Ingest.run` runs over it; inside `Ingest.run` every stage is
  * attributed to its issuing function. */
object Replay {

  final case class Batch(gatesMs: Double, gatesCpuMs: Double, rowsIn: Long,
                         rowsOut: Long, runMs: Double, jobs: Int, stages: Int,
                         tasks: Int, runCpuMs: Double, gapMs: Double,
                         fn: Map[String, Fn], gcMs: Double, spill: Long,
                         allJobs: Int, allCpuMs: Double, valueObjects: Int)

  final case class Fn(wallMs: Double, cpuMs: Double, stages: Int,
                      shuffleWrite: Long, output: Long, spill: Long,
                      objects: Int)

  final case class Outcome(batches: Seq[Batch], cores: Int) {
    /** Summed span walls: the replay's own time, without listener
      * draining between batches. */
    def wallS: Double = batches.map(b => b.gatesMs + b.runMs).sum / 1000.0

    def metrics(committed: Long): Seq[(String, Double, String)] = {
      def p50(f: Batch => Double) = if (batches.isEmpty) 0.0 else Stats.median(batches.map(f))
      def fn(name: String, f: Fn => Double) =
        p50(b => b.fn.get(name).map(f).getOrElse(0.0))
      val perFn = Trace.IngestFunctions.flatMap { f =>
        Seq((s"$f.wall_ms", fn(f, _.wallMs), "ms"),
          (s"$f.cpu_ms", fn(f, _.cpuMs), "ms"),
          (s"$f.stages", fn(f, _.stages.toDouble), "count"),
          (s"$f.shuffle_write_bytes", fn(f, _.shuffleWrite.toDouble), "bytes"),
          (s"$f.output_bytes", fn(f, _.output.toDouble), "bytes"),
          (s"$f.spill_bytes", fn(f, _.spill.toDouble), "bytes")) ++
          (if (Writers.contains(f)) Seq((s"$f.objects", fn(f, _.objects.toDouble), "count"))
           else Nil)
      }
      val valueObjects = batches.map(_.valueObjects).sum
      Seq(
        ("streaming.Gates.stack_ms", p50(_.gatesMs), "ms"),
        ("streaming.Gates.stack_cpu_ms", p50(_.gatesCpuMs), "ms"),
        ("streaming.Gates.rows_in", p50(_.rowsIn.toDouble), "count"),
        ("streaming.Gates.rows_out", p50(_.rowsOut.toDouble), "count"),
        ("streaming.Gates.keep_ratio", p50(b => b.rowsOut.toDouble / math.max(1L, b.rowsIn)), "ratio"),
        ("ingest.Ingest.run.wall_ms", p50(_.runMs), "ms"),
        ("ingest.Ingest.run.jobs", p50(_.jobs.toDouble), "count"),
        ("ingest.Ingest.run.stages", p50(_.stages.toDouble), "count"),
        ("ingest.Ingest.run.tasks", p50(_.tasks.toDouble), "count"),
        ("ingest.Ingest.run.cpu_ms", p50(_.runCpuMs), "ms"),
        ("ingest.Ingest.run.driver_gap_ms", p50(_.gapMs), "ms")) ++ perFn ++ Seq(
        ("ingest.records_per_object", committed.toDouble / math.max(1, valueObjects), "records"),
        ("spark.gc_ms", p50(_.gcMs), "ms"),
        ("spark.spill_bytes", p50(_.spill.toDouble), "bytes"),
        ("spark.jobs_per_batch", p50(_.allJobs.toDouble), "count"),
        ("spark.cpu_busy", batches.map(_.allCpuMs).sum /
          math.max(1e-9, wallS * 1000 * cores), "ratio"))
    }

    /** Whole-run split of `Ingest.run` wall time: the per-function shares
      * plus the driver gap add up to the summed wall exactly. */
    def notes: Seq[String] = {
      val wall = batches.map(_.runMs).sum
      val shares = batches.flatMap(_.fn.toSeq).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2.wallMs).sum }.toSeq.sortBy(-_._2)
      val gap = batches.map(_.gapMs).sum
      Seq(f"Ingest.run split over ${batches.size} batches: " +
        shares.map { case (k, v) => f"$k=$v%.0f" }.mkString(" + ") +
        f" + driver_gap=$gap%.0f = ${shares.map(_._2).sum + gap}%.0f ms of $wall%.0f ms wall")
    }
  }

  val Writers = Set("ingest.IngestWriter.write", "ingest.IngestWriter.promote",
    "ingest.AvroGroupWriter.write")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(spark: SparkSession, wl: Workload, p: Main.Prepared, out: File,
          trace: Trace, cores: Int): Outcome = {
    val sc = spark.sparkContext
    val batches = (0 until p.batches).map { b =>
      val files = (0 until wl.partitions).map(k => s"${p.src}/${Main.fileName(b, k)}")
      val batch = spark.read.schema(p.schema).parquet(files: _*)
      val gc0 = gcMs()
      val (g0, g1, rowsOut, i0, i1, res) = Caches.scoped {
        sc.setJobGroup(s"gates-$b", "gate stack")
        val g0 = System.currentTimeMillis()
        val (gated, rowsOut) =
          if (p.gates.isEmpty) (batch, wl.recordsPerBatch)
          else {
            val g = Gates.all(p.gates: _*)(batch).persist()
            (g, g.count())
          }
        val g1 = System.currentTimeMillis()
        sc.setJobGroup(s"ingest-$b", "Ingest.run")
        val i0 = System.currentTimeMillis()
        val res = Ingest.run(gated, wl.cfg, wl.partitioner, out.getAbsolutePath,
          kafkaPartition = col("kafka_partition"), offset = col("offset"),
          payloadCols = wl.payload, valueColumnForNulls = wl.valueColumnForNulls,
          writeManifest = wl.writeManifest, causeStats = wl.causeStats)
        val i1 = System.currentTimeMillis()
        sc.clearJobGroup()
        if (p.gates.nonEmpty) gated.unpersist()
        (g0, g1, rowsOut, i0, i1, res)
      }
      val gcDelta = gcMs() - gc0
      org.apache.spark.BenchAccess.drainListeners(sc)
      val gs = trace.stages(s"gates-$b")
      val is = trace.stages(s"ingest-$b")
      val (shares, gap) = Stats.attribute(is.map(s => (s.issuer, s.startMs, s.endMs)), i0, i1)
      val avro = res.files.count(_.fileName.endsWith(".avro"))
      val staged = res.files.size - avro
      val objects = Map("ingest.IngestWriter.write" -> staged,
        "ingest.IngestWriter.promote" -> staged, "ingest.AvroGroupWriter.write" -> avro)
      val fn = is.groupBy(_.issuer).map { case (f, ss) =>
        f -> Fn(shares.getOrElse(f, 0.0), ss.map(_.c.cpuNs).sum / 1e6, ss.size,
          ss.map(_.c.shuffleWrite).sum, ss.map(_.c.output).sum, ss.map(_.c.spill).sum,
          objects.getOrElse(f, 0))
      }
      val all = gs ++ is
      Batch(g1 - g0, gs.map(_.c.cpuNs).sum / 1e6, wl.recordsPerBatch, rowsOut,
        i1 - i0, trace.jobCount(s"ingest-$b"), is.size, is.map(_.tasks).sum,
        is.map(_.c.cpuNs).sum / 1e6, gap, fn, gcDelta, all.map(_.c.spill).sum,
        trace.jobCount(s"gates-$b") + trace.jobCount(s"ingest-$b"),
        all.map(_.c.cpuNs).sum / 1e6,
        res.files.count(f => !f.fileName.endsWith(".avro")))
    }
    Outcome(batches, cores)
  }
}

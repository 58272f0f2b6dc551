package sinkbench

import graft.ingest.Ingest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File

/** Tests of the benchmark's own code: order statistics, the stage
  * interval arithmetic behind `driver_gap_ms`, generator determinism,
  * and that the lake checks catch a planted duplicate and a planted
  * missing record. Exits non-zero if any check fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  error: $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def statistics(): Unit = {
    check("median of an odd sample")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median of an even sample")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val twenty = (1 to 20).map(_.toDouble)
    check("tail of 20 batches is the 11th slowest, p50") {
      Stats.tail(scala.util.Random.shuffle(twenty)) == Stats.Tail(10.0, 20, 50.0)
    }
    check("tail of 11 batches is the fastest")(Stats.tail((1 to 11).map(_.toDouble)).value == 1.0)
    check("with 10 batches or fewer the tail is the slowest, p100") {
      Stats.tail(Seq(3.0, 9.0, 4.0)) == Stats.Tail(9.0, 3, 100.0)
    }
  }

  def intervals(): Unit = {
    val iv = Seq((20L, 30L), (0L, 10L), (5L, 15L), (30L, 35L))
    check("union merges overlapping and touching stages") {
      Stats.merge(iv) == Seq((0L, 15L), (20L, 35L)) && Stats.unionLength(iv) == 30L
    }
    check("driver gap is the span minus the stage union") {
      val (_, gap) = Stats.attribute(iv.map { case (a, b) => ("f", a, b) }, 0L, 40L)
      close(gap, 40 - Stats.unionLength(iv))
    }
    check("concurrent stages of two functions share their overlap") {
      val (s, gap) = Stats.attribute(Seq(("a", 0L, 10L), ("b", 5L, 15L)), 0L, 20L)
      close(s("a"), 7.5) && close(s("b"), 7.5) && close(gap, 5.0)
    }
    check("stages are clipped to the span") {
      val (s, gap) = Stats.attribute(Seq(("a", -5L, 5L), ("a", 8L, 30L)), 0L, 10L)
      close(s("a"), 7.0) && close(gap, 3.0)
    }
    check("issuing function from a call site") {
      Trace.issuer("org.apache.spark.rdd.RDD.collect(RDD.scala:1)\n" +
        "graft.ingest.IngestWriter$.$anonfun$promote$1(IngestWriter.scala:9)\n" +
        "graft.ingest.Ingest$.run(Ingest.scala:3)") == "ingest.IngestWriter.promote" &&
        Trace.issuer("x.Y.z(Y.scala:1)") == "other"
    }
  }

  def generator(spark: SparkSession): Unit = Workloads.names.foreach { name =>
    val wl = Workloads(name)
    def content(seed: Long) = {
      val df = wl.records(spark, seed, 0L, 1L).drop("__file")
      Check.digest(df, df.columns.map(col).toSeq: _*)
    }
    check(s"$name: the same seed gives the same records")(content(7L) == content(7L))
    check(s"$name: another seed gives other records")(content(7L) != content(8L))
  }

  def plantedFaults(spark: SparkSession, work: File): Unit = {
    val wl = Workloads.bulk
    val src = new File(work, "src")
    Main.land(spark, wl.records(spark, 3L, 0L, 1L), src, 1, wl.partitions)
    val records = spark.read.parquet(src.getAbsolutePath)
    val out = new File(work, "out")
    Ingest.run(records, wl.cfg, wl.partitioner, out.getAbsolutePath,
      payloadCols = wl.payload)
    val exp = Check.identity(records, col("kafka_partition"), col("offset"))
    def problems() =
      Main.verify(spark, wl, exp, out, Main.readback(spark, wl, out)._2).problems.flatMap(_._2)
    check("a correct lake passes every check")(problems().isEmpty)

    val td = new File(Main.topicDir(out, wl))
    val objs = Check.listObjects(td.getPath).sortBy(o => (o.dir, o.name))
    val victim = new File(td, s"${objs.head.dir}/${objs.head.name}")
    val other = new File(td, objs.last.dir)
    val rows = spark.read.parquet(victim.getAbsolutePath).localCheckpoint()
    val lo = rows.agg(min("offset")).head.getLong(0)
    val hi = rows.agg(max("offset")).head.getLong(0)
    // lands `df` as one object at `dest`, dropping any stale checksum
    def put(df: org.apache.spark.sql.DataFrame, dest: File): Unit = {
      val tmp = new File(work, "put")
      df.coalesce(1).write.parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.startsWith("part-")).get
      new File(dest.getParentFile, s".${dest.getName}.crc").delete()
      dest.delete()
      require(part.renameTo(dest))
      Main.deleteRecursively(tmp)
    }

    // the victim's first record again, in a well-named object of another
    // partition dir: names and per-object contents stay valid
    val dup = new File(other, victim.getName)
    put(rows.filter(col("offset") === lo), dup)
    check("the check catches a planted duplicate record")(
      problems().exists(_.startsWith("readLake: record set differs")))
    dup.delete()
    new File(other, s".${dup.getName}.crc").delete()
    check("the lake passes again once the duplicate is gone")(problems().isEmpty)

    put(rows.filter(col("offset") =!= hi), victim)
    check("the check catches a planted missing record")(
      problems().exists(_.startsWith("readLake: record set differs")))
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work")))
    require(!work.exists(), s"work dir ${work.getPath} already exists; refusing to start")
    work.mkdirs()
    try {
      statistics()
      intervals()
      val spark = Main.session(2, work)
      try {
        generator(spark)
        plantedFaults(spark, new File(work, "faults"))
      } finally spark.stop()
    } finally Main.deleteRecursively(work)
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}

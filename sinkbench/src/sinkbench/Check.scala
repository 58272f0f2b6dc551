package sinkbench

import graft.ingest.IngestConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Correctness checks on a committed lake. Each check returns the
  * problems it found; an empty list passes. */
object Check {

  /** Order-independent digest of a record set: count, sum of the low 32
    * bits of each record's hash, and xor of the hashes. A duplicate or a
    * missing record changes the count; a swapped record changes the
    * sums. */
  final case class Digest(count: Long, sum: Long, xor: Long)

  def digest(df: DataFrame, cols: Column*): Digest = {
    val hsh = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(hsh.bitwiseAND(lit(0xffffffffL))),
      bit_xor(hsh)).head
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Digest of a `(kafka_partition, offset)` record set. */
  def identity(df: DataFrame, kp: Column, off: Column): Digest =
    digest(df, kp.cast("int"), off.cast("long"))

  def recordSet(expected: Digest, actual: Digest, what: String): Seq[String] =
    if (expected == actual) Nil
    else Seq(s"$what: record set differs (expected $expected, got $actual)")

  /** One stored object of the lake. */
  final case class Obj(dir: String, name: String, bytes: Long)

  /** Every object under a topic dir, keyed relative to it; hidden files
    * (local checksum files) are skipped. */
  def listObjects(topicDir: String): Seq[Obj] = {
    val root = new File(topicDir).toPath
    if (!Files.exists(root)) return Nil
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p))
      .filterNot(_.getFileName.toString.startsWith("."))
      .map { p =>
        val rel: Path = root.relativize(p.getParent)
        Obj(rel.toString, p.getFileName.toString, Files.size(p))
      }.toVector
    finally s.close()
  }

  def isManifest(o: Obj): Boolean = o.dir.endsWith("_graft_manifest")

  /** Object names follow `<topic>+<partition>+<padded start offset><ext>`
    * for the value view and any sidecar view. */
  def names(objs: Seq[Obj], cfg: IngestConfig): Seq[String] = {
    val exts = Seq(cfg.extension) ++
      (if (cfg.writeKeys) Seq(cfg.keyExtension) else Nil) ++
      (if (cfg.writeHeaders) Seq(cfg.headerExtension) else Nil)
    val re = (java.util.regex.Pattern.quote(cfg.topic) + """\+\d+\+\d{""" +
      cfg.padWidth + "}(" + exts.map(java.util.regex.Pattern.quote)
      .mkString("|") + ")").r
    objs.filterNot(isManifest).collect {
      case o if !re.matches(o.name) => s"object name breaks the contract: ${o.dir}/${o.name}"
    }
  }

  /** One value object as read back: its partition dir, name, record
    * count, lowest offset, number of distinct Kafka partitions, and the
    * record-set digest of its records. */
  final case class ObjStat(epart: String, fname: String, n: Long, lo: Long,
                           kps: Long, sum: Long, xor: Long)

  /** One aggregation over the value view read by `Compaction.readLake`. */
  def objectStats(lake: DataFrame): Seq[ObjStat] = {
    val h = xxhash64(col("__kpart").cast("int"), col("offset").cast("long"))
    lake.groupBy(col("__epart"), col("__fname")).agg(count(lit(1)),
      min(col("offset")), count_distinct(col("__kpart")),
      sum(h.bitwiseAND(lit(0xffffffffL))), bit_xor(h))
      .collect().map(r => ObjStat(r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
  }

  def digestOf(objs: Seq[ObjStat]): Digest =
    Digest(objs.map(_.n).sum, objs.map(_.sum).sum, objs.map(_.xor).foldLeft(0L)(_ ^ _))

  /** Per value object: the name's start offset is the lowest offset it
    * holds, its records come from one Kafka partition, and it holds at
    * most flush.size of them. */
  def objectContents(objs: Seq[ObjStat], cfg: IngestConfig): Seq[String] = {
    val Start = """.*\+(\d+)\..*""".r
    objs.filter { o =>
      val start = o.fname match { case Start(s) => s.toLong; case _ => -1L }
      o.n > cfg.flushSize || o.lo != start || o.kps != 1
    }.take(5).map(o => s"object ${o.epart}/${o.fname}: ${o.n} records from " +
      s"offset ${o.lo} across ${o.kps} partitions")
  }

  /** K/V/H lockstep: every value object has `.keys` and `.headers`
    * objects of the same base name, each with as many records, and no
    * sidecar is orphaned. Sidecars are Avro, counted with Avro's own
    * reader. */
  def lockstep(objs: Seq[Obj], valueCounts: Map[(String, String), Long],
               topicDir: String, cfg: IngestConfig): Seq[String] = {
    val data = objs.filterNot(isManifest)
    def base(o: Obj, ext: String) =
      if (o.name.endsWith(ext)) Some((o.dir, o.name.dropRight(ext.length))) else None
    val values = data.flatMap(o => base(o, cfg.extension).map(_ -> o)).toMap
    val sidecars = Seq(cfg.keyExtension, cfg.headerExtension)
    sidecars.flatMap { ext =>
      val side = data.flatMap(o => base(o, ext).map(_ -> o)).toMap
      val missing = values.keySet.diff(side.keySet).toSeq.sorted.take(3)
        .map { case (d, b) => s"$d/$b$ext missing" }
      val orphan = side.keySet.diff(values.keySet).toSeq.sorted.take(3)
        .map { case (d, b) => s"$d/$b$ext has no value object" }
      val counts = side.toSeq.sortBy(_._1).flatMap { case ((d, b), o) =>
        val n = avroRecords(new File(s"$topicDir/${o.dir}/${o.name}"))
        val v = valueCounts.getOrElse((d, b + cfg.extension), -1L)
        if (n == v) None else Some(s"$d/$b$ext holds $n records, value object $v")
      }.take(3)
      missing ++ orphan ++ counts
    }
  }

  def avroRecords(f: File): Long = {
    val r = new org.apache.avro.file.DataFileReader[Object](f,
      new org.apache.avro.generic.GenericDatumReader[Object]())
    try { var n = 0L; while (r.hasNext) { r.next(); n += 1 }; n }
    finally r.close()
  }

  /** Identity digest of a whole read-back. The aggregate also folds a
    * hash over all columns, so the reader decodes every field of every
    * record, as a consumer of the lake would. */
  def readDigest(df: DataFrame, kp: Column): Digest = {
    val all = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    val hashed = df.select(kp.cast("int").as("__kp"), col("offset").cast("long").as("__off"),
      all.as("__all"))
    val id = xxhash64(col("__kp"), col("__off"))
    val r = hashed.agg(count(lit(1)), sum(id.bitwiseAND(lit(0xffffffffL))),
      bit_xor(id), bit_xor(col("__all"))).head
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

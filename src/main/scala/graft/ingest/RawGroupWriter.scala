package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** W4 raw-bytes writer
  * (format/bytearray/ByteArrayRecordWriterProvider.java:38-92): each record's
  * value bytes followed by the configured line separator
  * (`format.bytearray.separator`, default `\n`), streamed task-side straight
  * to the final object key — the same direct-path pattern as
  * AvroGroupWriter, so ByteArray needs no staging rename either. True
  * binary payloads round-trip byte-exact; string payloads write their UTF-8
  * bytes (what the reference's ByteArrayConverter passes through). */
object RawGroupWriter {

  /** One object per (encodedPartition, fileName) group of `df`, whose
    * groups must each sit wholly inside one partition (an
    * `IngestWriter.assign`ed frame): only sorts within partitions. */
  private[ingest] def write(df: DataFrame, epartCol: String,
                            fnameCol: String, orderCol: String,
                            valueCol: String, topicDir: String,
                            compression: Option[String],
                            separator: String)
      : Seq[IngestWriter.FileInfo] = {
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val sepBytes = separator.getBytes("UTF-8")
    val gzip = compression.contains("gzip")

    val arranged = df
      .sortWithinPartitions(col(epartCol), col(fnameCol), col(orderCol))

    val infos = arranged.toDF().rdd.mapPartitions { rows =>
      val fs = FileSystem.get(new java.net.URI(topicDir), hadoopConf.value)
      var currentKey: (String, String) = null
      var out: java.io.OutputStream = null
      val written =
        scala.collection.mutable.ArrayBuffer.empty[IngestWriter.FileInfo]
      def close(): Unit = if (out != null) { out.close(); out = null }
      val result = rows.flatMap { row =>
        val epart = row.getAs[String](epartCol)
        val fname = row.getAs[String](fnameCol)
        if ((epart, fname) != currentKey) {
          close()
          currentKey = (epart, fname)
          val dest = new Path(s"$topicDir/$epart/$fname")
          fs.mkdirs(dest.getParent)
          val raw = fs.create(dest, true) // X1: idempotent overwrite
          out = if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw
          written += IngestWriter.FileInfo(epart, fname, dest.toString)
        }
        val bytes = row.get(row.fieldIndex(valueCol)) match {
          case b: Array[Byte] => b
          case s: String => s.getBytes("UTF-8")
          case null => Array.empty[Byte]
          case other => other.toString.getBytes("UTF-8")
        }
        out.write(bytes)
        out.write(sepBytes)
        Iterator.empty[IngestWriter.FileInfo]
      } ++ {
        close()
        written.iterator
      }
      result
    }.collect().toSeq

    infos.sortBy(f => (f.encodedPartition, f.fileName))
  }
}

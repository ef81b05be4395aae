package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** The data files of a file-source path, and their bounded head: the
  * input [[CsvIngest]] and [[JsonIngest]] infer schemas from.
  * Both go through the Hadoop FS, so they work against HDFS/S3 at scale,
  * not just local disk.
  */
private[graft] object DataFiles {

  /** Bytes of a file that schema inference reads. 64 KiB holds about
    * 2,000 rows of the nine-column reference CSV, 1,400 of the lineitem
    * exports and 160 JSONL documents: past polars' 100-row
    * `infer_schema_length`. The budget is small because Spark's
    * inference over in-memory lines costs about 0.13 s of local jobs
    * plus 10 ms per 1,000 lines (4-vCPU VM, Spark 4.1, local[4]); a
    * 1 MiB prefix (33,000 lines) took 0.4 s there, more than Spark's
    * sampled inference job over a whole 8 MB file. Bytes, not rows,
    * keep the cost flat when rows are long.
    */
  val PrefixBytes: Int = 64 << 10

  /** All data files of `path` in name order (the directory-prefix row
    * order contract), or just `path` if it is a file. Empty files and
    * `_`/`.` markers (`_SUCCESS`, checksums) are skipped.
    */
  def list(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.getFileStatus(p).isDirectory) Seq(path)
    else {
      val files = fs.listStatus(p)
        .filter(s => s.isFile && s.getLen > 0 && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
        .map(_.getPath.toString)
        .toSeq
      require(files.nonEmpty, s"$path holds no data file")
      files
    }
  }

  /** Name, length and modification time of every file under `path`
    * (recursively), or of `path` itself if it is a file, in name order.
    * It changes when a file is rewritten, added or removed, so it keys
    * anything derived from the files' contents or listing.
    */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val files = ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      files += s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}"
    }
    files.sorted.mkString("\n")
  }

  /** The whole lines in the first [[PrefixBytes]] of `files`, read in
    * order on the driver and decoded through each file's compression
    * codec if it has one. A file shorter than the budget, such as the
    * header-only part a writer leaves for an empty partition, hands the
    * rest of the budget to the next file. A line that crosses the budget
    * is dropped, unless it is the first, which is read to its end.
    */
  def headLines(spark: SparkSession, files: Seq[String]): Dataset[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val codecs = new CompressionCodecFactory(conf)
    def eol(b: Int) = b == '\n' || b == '\r'
    val lines = ArrayBuffer.empty[String]
    var left = PrefixBytes
    files.iterator.takeWhile(_ => left > 0).foreach { file =>
      val p = new Path(file)
      val raw = p.getFileSystem(conf).open(p)
      val in = Option(codecs.getCodec(p)).fold[java.io.InputStream](raw)(_.createInputStream(raw))
      try {
        val buf = in.readNBytes(left)
        left -= buf.length
        val cut = buf.lastIndexWhere(b => eol(b))
        val whole =
          if (left > 0) buf
          else if (cut >= 0) buf.take(cut)
          else if (lines.isEmpty)
            buf ++ Iterator.continually(in.read()).takeWhile(b => b >= 0 && !eol(b)).map(_.toByte)
          else Array.emptyByteArray
        // Hadoop's line reader drops a UTF-8 byte-order mark and splits
        // on \n, \r\n and \r; the file scan sees the lines the same way
        if (whole.nonEmpty)
          lines ++= new String(whole, UTF_8).stripPrefix("\uFEFF").split("\r\n|\n|\r")
      } finally in.close()
    }
    spark.createDataset(lines.toSeq)(Encoders.STRING)
  }
}

package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.TextInputFormat
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** Newline-delimited word-list source — the reference's input format
  * (`/root/reference/mapreduce.erl:41-43`: whole-file read + split on \n).
  *
  * Spark's `text` source already handles line splitting, emits no trailing
  * empty element, and scales to many files/splits. The one behavioral gap
  * is the reference's trailing-element drop `tl(lists:reverse(Words))`
  * (`mapreduce.erl:44,82,303`): on a file NOT terminated by a newline it
  * silently discards the real last word (SURVEY.md §5 quirk — `test.ngl`'s
  * final `spirit`). `referenceQuirk = true` reproduces that for golden
  * parity.
  *
  * Scale note: quirk mode reads one uncompressed file through Hadoop's
  * line reader, split into at least `defaultParallelism` line-aligned
  * splits (more once the file outgrows the block size), keyed by each
  * line's byte offset. The driver scans the file's tail backwards to the
  * last line terminator, and the consumer's own single pass drops the one
  * row keyed by the offset found — by position, never by value, because
  * words repeat. The read itself runs no job. Default mode
  * (`referenceQuirk = false`) is a plain distributed `text` scan with zero
  * extra work.
  */
object WordListSource {

  /** Read-buffer size of the driver's backward scan for the final line. */
  private[graft] val TailScanBytes = 8192

  def read(spark: SparkSession, path: String,
           referenceQuirk: Boolean = false): DataFrame =
    if (!referenceQuirk) spark.read.textFile(path).toDF("w")
    else {
      val drop = unterminatedLineStart(spark, path)
      val sc = spark.sparkContext
      import spark.implicits._
      sc.hadoopFile[LongWritable, Text, TextInputFormat](path, sc.defaultParallelism)
        .filter(_._1.get != drop)
        .map(_._2.toString)
        .toDF("w")
    }

  /** The byte offset at which Hadoop's line reader starts the file's final
    * line if that line is unterminated: 0 for a file without a terminator.
    * For a file whose last byte is `\n`, its length, where no line starts. */
  private def unterminatedLineStart(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val status =
      try fs.getFileStatus(p)
      catch {
        case _: FileNotFoundException => throw new AnalysisException(
          "PATH_NOT_FOUND", Map("path" -> fs.makeQualified(p).toString))
      }
    require(status.isFile, s"referenceQuirk mode expects a single file: $path")
    require(new CompressionCodecFactory(conf).getCodec(p) == null,
      s"referenceQuirk mode expects an uncompressed file: $path")
    lastLineStart(fs, p, status.getLen)
  }

  private def lastLineStart(fs: FileSystem, p: Path, len: Long): Long = {
    if (len == 0) return 0L
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](TailScanBytes)
      in.readFully(len - 1, buf, 0, 1)
      if (buf(0) == '\n') return len
      // The line reader also ends lines at a bare '\r': a final '\r'
      // terminates the final line rather than starting a new one.
      var hi = if (buf(0) == '\r') len - 1 else len // [0, hi) is unscanned
      while (hi > 0) {
        val n = math.min(buf.length.toLong, hi).toInt
        val lo = hi - n
        in.readFully(lo, buf, 0, n)
        var i = n - 1
        while (i >= 0) {
          if (buf(i) == '\n' || buf(i) == '\r') return lo + i + 1
          i -= 1
        }
        hi = lo
      }
      0L
    } finally in.close()
  }
}

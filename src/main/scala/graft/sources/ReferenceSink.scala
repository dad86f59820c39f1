package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftRefusal

/** The reference's formatted text sink (`/root/reference/mapreduce.erl:204-214`):
  * each sorted key/value pair as `~s: ~c~c ~w\r\n` with two literal tabs —
  * `"ab: \t\t 12\r\n"`. Byte-golden for integer counts (Erlang `~w` and
  * JVM Long.toString agree); float probabilities use JVM repr, which
  * diverges from Erlang's — goldens for those compare parsed values
  * (SURVEY.md §7 risk register).
  *
  * Parity-mode sink: the reference appends its one sorted result file from
  * one process, and so does this one — from the driver, through the
  * session's Hadoop filesystem, with no Spark job. The file is a finished
  * result of at most [[MaxRows]] rows, never raw data. */
object ReferenceSink {

  /** The most rows a result file holds: the `[a-z]` gate bounds the
    * reference's keys at 26² bigrams, plus the `onlyOne` `totalCount`
    * row (BASELINE.md). */
  val MaxRows = 677

  /** Write `results.txt`-style output: one file, `part-00000.txt`, sorted
    * by the string column `keyCol` in Spark's string order, then
    * `_SUCCESS`; an existing `path` is replaced. Each line is formatted by
    * Spark's own cast, so the bytes match a Spark text write of the same
    * rows. On a local relation (the `TextPipeline.*FromWords` results)
    * the formatting projection folds into the relation and the write runs
    * no Spark job. Refuses a frame of more than [[MaxRows]] rows. */
  def writeCounts(df: DataFrame, keyCol: String, valCol: String,
      path: String): Unit = {
    require(df.schema(keyCol).dataType == StringType,
      s"writeCounts sorts on a string key; $keyCol is ${df.schema(keyCol).dataType}")
    val rows = df.select(col(keyCol), concat(col(keyCol), lit(": \t\t "),
        col(valCol).cast("string"), lit("\r\n")))
      .limit(MaxRows + 1).collect()
    GraftRefusal.check(rows.length <= MaxRows,
      s"writeCounts writes one result file of at most $MaxRows rows from " +
        s"driver memory; the frame for $path has more")
    val lines = rows.sortBy(r => UTF8String.fromString(r.getString(0))).map(_.getString(1))
    val dir = new Path(path)
    val fs = dir.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    fs.delete(dir, true)
    val tmp = new Path(dir, "_part-00000.txt.tmp")
    val out = fs.create(tmp, false)
    try lines.foreach(l => out.write(l.getBytes(UTF_8))) finally out.close()
    if (!fs.rename(tmp, new Path(dir, "part-00000.txt")))
      throw new java.io.IOException(s"could not rename $tmp in $dir")
    fs.create(new Path(dir, "_SUCCESS"), false).close()
  }

  /** Split-phase partitioned word sink — the reference's 26-way
    * first-letter fan-out (`/root/reference/mapreduce.erl:158-185`:
    * `readLines` filters each word and appends it to `only<c>.txt`).
    *
    * Re-expressed as a hive-partitioned text write: the same split-phase
    * filter, then `partitionBy(first_letter)` so each letter's words land
    * in their own directory (`first_letter=c/part-*.txt` — the layout
    * analog of `onlyc.txt`). Unlike the reference's single-process file
    * fan-out, every partition is written in parallel by whichever tasks
    * hold the data, and a downstream scan filtered on `first_letter`
    * prunes to one directory (the reference's "mapper per letter file"
    * becomes partition pruning).
    *
    * Files: each scan task writes one part file per first letter it holds,
    * so a request writes up to letters × scan tasks — 104 (26 × 4) on the
    * benchmark's 354,984-line word list at `local[4]`. Kept over one file
    * per letter: on that list at `local[4]` (median of 9) this write took
    * 290 ms, a `repartition(first_letter)` first 341 ms (it shuffles every
    * word) and an unpartitioned write 154 ms. */
  def writeSplitPhase(words: DataFrame, path: String): Unit =
    graft.operators.TextPipeline.mainFilter(words)
      .select(col("w").as("value"),
        substring(col("w"), 1, 1).as("first_letter"))
      .write.mode("overwrite").partitionBy("first_letter").text(path)
}

package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's formatted text sink (`/root/reference/mapreduce.erl:204-214`):
  * each sorted key/value pair as `~s: ~c~c ~w\r\n` with two literal tabs —
  * `"ab: \t\t 12\r\n"`. Byte-golden for integer counts (Erlang `~w` and
  * JVM Long.toString agree); float probabilities use JVM repr, which
  * diverges from Erlang's — goldens for those compare parsed values
  * (SURVEY.md §7 risk register).
  *
  * Parity-mode sink: the reference writes one sorted file, so this
  * coalesces to a single partition and sorts inside it — applied AFTER
  * aggregation, where the data is at most the key-domain size (≤677
  * rows), never on raw data. Sorting within the one partition needs no
  * range partitioner, so a write runs no sampling job. */
object ReferenceSink {

  /** Write `results.txt`-style output, one file sorted by `keyCol`. Each
    * line lacks only the trailing newline, which the text writer adds to
    * complete the CRLF. */
  def writeCounts(df: DataFrame, keyCol: String, valCol: String,
      path: String): Unit =
    df.coalesce(1).sortWithinPartitions(keyCol)
      .select(concat(col(keyCol), lit(": \t\t "), col(valCol).cast("string"),
        lit("\r")).as("value"))
      .write.mode("overwrite").text(path)

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
    * becomes partition pruning). */
  def writeSplitPhase(words: DataFrame, path: String): Unit =
    graft.operators.TextPipeline.mainFilter(words)
      .select(col("w").as("value"),
        substring(col("w"), 1, 1).as("first_letter"))
      .write.mode("overwrite").partitionBy("first_letter").text(path)
}

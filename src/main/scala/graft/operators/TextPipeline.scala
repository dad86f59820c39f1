package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

import graft.functions.{BigramSlots, NGramArray}

/** Character n-gram frequency pipeline — the reference's core capability
  * (`/root/reference/mapreduce.erl`), re-expressed as composable,
  * Catalyst-optimizable DataFrame operators.
  *
  * Reference semantics implemented here (citations into /root/reference):
  *  - split-phase filter: keep word iff first char ∈ [a-z] and length ≥ 2
  *    (`mapreduce.erl:173-185`, helper `firstLetter/1` at 257-258)
  *  - overlapping stride-1 bigram extraction, both chars ∈ [a-z]
  *    (`countCombos/2`, `mapreduce.erl:260-295`) — generalized to n-grams
  *  - partial (map-side) + final hash aggregation (`mapreduce.erl:275-282`,
  *    `232-255`) — supplied automatically by Catalyst's
  *    HashAggregate(Partial) → Exchange → HashAggregate(Final)
  *  - probability = count / grand total (`calcProb/2`, `mapreduce.erl:137-141`)
  *  - `onlyOne` divergent semantics: no first-letter filter, and a
  *    `totalCount` row (words whose final two chars are both [a-z],
  *    `mapreduce.erl:283-292`) appears in the output and inflates the
  *    probability denominator (`mapreduce.erl:40-55`, SURVEY.md §2 #7/#12)
  *
  * Two paths. The word-list entry points (`*FromWords`) are ONE fold
  * stage (FuseME, SIGMOD 2022: no intermediate materialized or shuffled):
  * each scan task folds its words into a fixed 677-slot array
  * ([[graft.functions.BigramSlots]], the reference's per-mapper table),
  * the driver adds one per scan task, and the ≤ 677 finished
  * rows come back as a local relation — one job, no exchange, no
  * probability join, both reference files written from memory. The docs
  * path (`bigramCounts`, `bigramProbabilities`, `onlyOneProbabilities`,
  * `ngramCounts`) stays a lazy plan for the query surface: [[NGramArray]]
  * explode → keyed aggregate → broadcast 1-row total (never an
  * empty-frame window, which funnels all rows through one partition).
  * Its map-side combine is Catalyst's partial aggregation: the `[a-z]`
  * gate bounds the keys at 26^n, so the shuffle carries at most
  * `numPartitions × 26^n` rows, like the reference's per-mapper ETS table.
  */
object TextPipeline {

  /** Tokenize a text column on single spaces → one row per word, column `w`.
    * Plays the role of the reference's line-oriented scan
    * (`mapreduce.erl:41-43`): `documents.text` is a space-separated word
    * list (FIXTURES.md §B). Empty tokens (from repeated spaces) are kept —
    * downstream length guards drop them, exactly as the reference's guards
    * drop empty lines (`mapreduce.erl:260,313`). */
  def tokenize(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("w"))

  /** Split-phase filter (`mapreduce.erl:173-185`): keep word iff
    * length ≥ 2 and first char ∈ [a-z]. Both predicates are codegen'd and
    * benefit from Catalyst predicate pushdown when applied over a scan. */
  def mainFilter(words: DataFrame): DataFrame =
    words.filter(length(col("w")) >= 2 &&
      substring(col("w"), 1, 1).between("a", "z"))

  /** `onlyOne`-mode filter: only the length guard (`mapreduce.erl:260`) —
    * no first-letter gate (SURVEY.md §3 entry point 1). */
  def onlyOneFilter(words: DataFrame): DataFrame =
    words.filter(length(col("w")) >= 2)

  /** All overlapping stride-1 character n-grams of `word` whose characters
    * are all in [a-z] — provably equivalent to the reference's skip-ahead
    * scan (`mapreduce.erl:260-295`; equivalence argument in SURVEY.md §2 #5).
    * Backed by the codegen'd native expression [[graft.functions.NGramArray]]
    * (the built-in `sequence`+`transform`+`filter`+`rlike` formulation runs
    * the lambda on the interpreted path — measured 10-100× slower with JIT
    * deopt storms; see NGramArray's Scaladoc). */
  def ngramsCol(word: Column, n: Int): Column = NGramArray(word, n)

  /** Built-in-functions formulation of [[ngramsCol]] — kept as the
    * executable specification for NGramArray's equivalence test. */
  def ngramsColBuiltin(word: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val pattern = s"^[a-z]{$n}$$"
    // sequence() needs start <= stop with step 1; guard short words.
    val starts = sequence(lit(1), length(word) - (n - 1), lit(1))
    val grams = transform(starts, i => word.substr(i, lit(n)))
    when(length(word) >= n, filter(grams, g => g.rlike(pattern)))
      .otherwise(array().cast("array<string>"))
  }

  /** Explode words into their valid n-grams, column `gram`. */
  def explodeNgrams(words: DataFrame, n: Int): DataFrame =
    words.select(explode(ngramsCol(col("w"), n)).as("gram"))

  /** n-gram → count. Catalyst plans this as
    * HashAggregate(Partial) → Exchange hashpartitioning(key) →
    * HashAggregate(Final): the reference's mapper-ETS combiner + reducer
    * sum (`mapreduce.erl:275-282`, `232-255`) with executor-to-executor
    * shuffle instead of the driver-routed funnel (`mapreduce.erl:216-229`). */
  def freqTable(grams: DataFrame, keyName: String): DataFrame =
    grams.select(col("gram").as(keyName))
      .groupBy(keyName).agg(count(lit(1)).as("cnt"))

  /** Attach `p` = cnt / Σcnt (`calcProb/2`, `mapreduce.erl:137-141`),
    * rounded to 12 dp for cross-engine float determinism (SURVEY.md §7).
    * The denominator is a 1-row aggregate broadcast back via cross join —
    * scale-safe (no global window, no collect on the data path). */
  def withProbability(counts: DataFrame, cntCol: String = "cnt"): DataFrame = {
    val total = counts.agg(sum(col(cntCol)).as("_total"))
    counts.crossJoin(broadcast(total))
      .withColumn("p", probability(col(cntCol), col("_total")))
      .drop("_total")
  }

  private def probability(cnt: Column, total: Column): Column =
    round(cnt.cast("double") / total.cast("double"), 12)

  /** Predicate for the `totalCount` side-channel counter
    * (`mapreduce.erl:283-292`): word's final two chars are both [a-z].
    * Plain substring range checks — no regex on the hot path. */
  def totalCountPred(word: Column): Column = {
    val c1 = word.substr(length(word) - 1, lit(1))
    val c2 = word.substr(length(word), lit(1))
    length(word) >= 2 && c1.between("a", "z") && c2.between("a", "z")
  }

  /** The `totalCount` counter as a 1-row table keyed by the literal
    * `totalCount` (the reference's atom key). */
  def totalCountRow(words: DataFrame, keyName: String): DataFrame =
    words.filter(totalCountPred(col("w")))
      .agg(count(lit(1)).as("cnt"))
      .select(lit("totalCount").as(keyName), col("cnt"))

  // ---- Assembled pipelines (the reference's entry points, SURVEY.md §3) ----

  /** Distributed (`main`) semantics: filtered words → bigram counts,
    * sorted by key (`mapreduce.erl:58-127`). */
  def bigramCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    freqTable(explodeNgrams(mainFilter(tokenize(docs, textCol)), 2), "bigram")

  /** [[bigramProbabilities]] over a word frame (column `w`, the shape
    * [[graft.sources.WordListSource]] yields for the reference's `.ngl`
    * corpora) as one fold stage ([[slotFold]]): the docs path's rows,
    * doubles and schema. */
  def bigramProbabilitiesFromWords(words: DataFrame): DataFrame =
    slotFold(words, onlyOne = false)

  /** `main` semantics with probabilities — the reference's full output
    * (`results.txt` + `probabilities.txt` as one sorted table). */
  def bigramProbabilities(docs: DataFrame, textCol: String = "text"): DataFrame =
    withProbability(bigramCounts(docs, textCol)).orderBy("bigram")

  /** Generalized n-gram counts (the reference hard-codes n=2). */
  def ngramCounts(docs: DataFrame, n: Int, textCol: String = "text"): DataFrame =
    freqTable(explodeNgrams(mainFilter(tokenize(docs, textCol)), n), s"gram$n")

  /** `onlyOne` semantics (`mapreduce.erl:40-55`): no first-letter filter;
    * the `totalCount` row is present in the output AND in the probability
    * denominator (SURVEY.md §2 #7/#12 divergences, kept deliberately). */
  def onlyOneProbabilities(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = onlyOneFilter(tokenize(docs, textCol))
    // totalCount rides the bigrams' explode: one scan, like the reference's
    // single ETS table holding both kinds of key (`mapreduce.erl:275-292`).
    val keys = words.select(explode(concat(ngramsCol(col("w"), 2),
      when(totalCountPred(col("w")), array(lit("totalCount")))
        .otherwise(array().cast("array<string>")))).as("gram"))
    withProbability(freqTable(keys, "bigram")).orderBy("bigram")
  }

  /** [[onlyOneProbabilities]] over an already-tokenized word frame
    * (column `w`), as one fold stage like [[bigramProbabilitiesFromWords]]. */
  def onlyOneProbabilitiesFromWords(words: DataFrame): DataFrame =
    slotFold(words, onlyOne = true)

  /** One job of one stage: each task folds its words into 677 slots and
    * the driver adds the arrays — the reference's mapper tables merged into
    * its one `orddict` (`mapreduce.erl:96-103`). Returns the non-zero slots
    * in Spark's string order (`totalCount` between `to` and `tp`) as a
    * local relation, `p` by the docs path's expression over the literal
    * total. Not `persist`: a CacheManager entry keyed by the plan would
    * hand a later read of the same path this call's data. */
  private def slotFold(words: DataFrame, onlyOne: Boolean): DataFrame = {
    val slots = words.select("w").queryExecution.toRdd
      .aggregate(new Array[Long](BigramSlots.Slots))((acc, row) =>
        if (row.isNullAt(0)) acc else BigramSlots.fold(row.getUTF8String(0), onlyOne, acc),
        BigramSlots.add)
    val rows = slots.indices.filter(slots(_) > 0)
      .map(s => Row(BigramSlots.key(s), slots(s)))
      .sortBy(r => UTF8String.fromString(r.getString(0)))
    // the docs path's nullability: onlyOne's keys pass a nullable `array<string>`
    val schema = StructType(Seq(StructField("bigram", StringType, nullable = onlyOne),
      StructField("cnt", LongType, nullable = false)))
    words.sparkSession.createDataFrame(rows.asJava, schema)
      .withColumn("p", probability(col("cnt"), lit(slots.sum)))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextPipeline
import graft.sources.{ReferenceSink, WordListSource}

/** Grounds the engine on the reference's ACTUAL workload: the full
  * 354,984-line corpus `/root/reference/354984si.ngl` (the file behind
  * every published timing in the reference README, `README.md:25-44`,
  * and the `Read 354913 lines` counter at `mapreduce.erl:168`), plus
  * the split-phase 26-way partitioned sink (`mapreduce.erl:158-185`).
  *
  * Golden values below were computed independently (outside Spark) by
  * executing the reference's filter/bigram semantics over the corpus
  * bytes; FIXTURES.md §A records the same line/survivor counts. */
class ReferenceCorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val corpus = "/root/reference/354984si.ngl"
  private val testNgl = "/root/reference/test.ngl"

  test("full corpus: split-phase filter keeps exactly 354,913 words") {
    // the reference logs `Read 354913 lines` after its filter
    // (mapreduce.erl:168); 45 lines start with a non-letter, 26 are
    // shorter than 2 chars (FIXTURES.md)
    val words = WordListSource.read(spark, corpus, referenceQuirk = true)
    assert(TextPipeline.mainFilter(words).count() === 354913L)
  }

  test("corpus-swap pin: the bench env default reads exactly 354,984 " +
      "words (the reference_corpus_words artifact field)") {
    // Bench's same-data baseline cells (bigram_reference_corpus*) read
    // SPARK_GRAFT_REFERENCE_CORPUS with this default and emit the raw
    // word count as reference_corpus_words next to the two timings
    // (VERDICT r15 item 3). This pin resolves the SAME env var, so an
    // override to a tiny fixture — which would silently ship a
    // flattering wall time — fails here instead. The file is
    // newline-terminated, so quirk mode drops nothing: raw count =
    // line count = 354,984 (the filter's 354,913 survivors are pinned
    // in the test above).
    val path = sys.env.getOrElse("SPARK_GRAFT_REFERENCE_CORPUS", corpus)
    assert(WordListSource.read(spark, path, referenceQuirk = true)
      .count() === 354984L,
      s"corpus at $path is not the reference's 354,984-word file — the " +
        "bigram_reference_corpus bench rows would not be a same-data " +
        "baseline")
  }

  test("full corpus: bigram totals match the independently computed goldens") {
    val words = WordListSource.read(spark, corpus, referenceQuirk = true)
    val counts = TextPipeline.freqTable(
      TextPipeline.explodeNgrams(TextPipeline.mainFilter(words), 2), "bigram")
      .persist()
    try {
      val (distinct, total) = (counts.count(),
        counts.agg(sum("cnt")).head().getLong(0))
      assert(distinct === 654L, "distinct bigrams")
      assert(total === 2994841L, "total bigram occurrences")
      val top = counts.orderBy(desc("cnt"), asc("bigram")).head()
      assert(top.getString(0) === "er" && top.getLong(1) === 64993L, "top bigram")
      val first = counts.orderBy("bigram").head()
      assert(first.getString(0) === "aa" && first.getLong(1) === 213L,
        "first sorted bigram")
    } finally counts.unpersist()
  }

  test("word-frame pipeline entry points (the bigram_reference_corpus " +
      "bench rows) reproduce the corpus goldens end-to-end") {
    // bigramProbabilitiesFromWords/onlyOneProbabilitiesFromWords are
    // what the same-data baseline bench cells time over this exact
    // file (Bench.scala benchOnly) — pin their VALUES here so the
    // timing rows can never drift off the reference semantics
    val words = WordListSource.read(spark, corpus, referenceQuirk = true)
    val probs = TextPipeline.bigramProbabilitiesFromWords(words).persist()
    try {
      assert(probs.count() === 654L, "distinct bigrams (main mode)")
      assert(probs.agg(sum("cnt")).head().getLong(0) === 2994841L)
      val er = probs.filter(col("bigram") === "er").head()
      assert(er.getAs[Long]("cnt") === 64993L)
      assert(er.getAs[Double]("p") ===
        BigDecimal(64993.0 / 2994841.0)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)
    } finally probs.unpersist()
    val oo = TextPipeline.onlyOneProbabilitiesFromWords(words).persist()
    try {
      // onlyOne mode: no first-letter gate, plus the totalCount row in
      // the table AND the denominator (the reference's divergence)
      val tc = oo.filter(col("bigram") === "totalCount")
      assert(tc.count() === 1L, "totalCount row present")
      val denom = oo.agg(sum("cnt")).head().getLong(0)
      val first = oo.orderBy("bigram").head()
      assert(first.getString(0) <= "aa", "sorted output starts at/before aa")
      assert(oo.filter(col("p") =!= round(col("cnt") / lit(denom.toDouble), 12))
        .count() === 0L, "p = cnt / (bigrams + totalCount) for every row")
    } finally oo.unpersist()
  }

  test("split-phase sink: 26 letter partitions, contents = filtered words") {
    val out = java.nio.file.Files.createTempDirectory("splitphase").toString
    try {
      val words = WordListSource.read(spark, corpus, referenceQuirk = true)
      ReferenceSink.writeSplitPhase(words, out)
      // layout parity with only<a>.txt..only<z>.txt: one directory per letter
      val dirs = new java.io.File(out).listFiles()
        .filter(_.isDirectory).map(_.getName).sorted
      assert(dirs.toSeq === ('a' to 'z').map(c => s"first_letter=$c"),
        "expected 26 first_letter partitions")
      // skew facts from FIXTURES.md: max 's' = 37,438, min 'x' = 429 — read
      // back through partition pruning (a pruned scan touches ONE directory)
      val back = spark.read.option("basePath", out).text(out)
        .withColumn("first_letter",
          regexp_extract(input_file_name(), "first_letter=([a-z])", 1))
      val s = spark.read.text(s"$out/first_letter=s").count()
      val x = spark.read.text(s"$out/first_letter=x").count()
      assert(s === 37438L, "words under s")
      assert(x === 429L, "words under x")
      assert(back.count() === 354913L, "total words across partitions")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("split-phase sink on test.ngl: per-letter contents are exact") {
    val out = java.nio.file.Files.createTempDirectory("splitphase-sm").toString
    try {
      val words = WordListSource.read(spark, testNgl, referenceQuirk = true)
      ReferenceSink.writeSplitPhase(words, out)
      val expected = TextPipeline.mainFilter(words)
        .collect().map(_.getString(0)).groupBy(_.head)
      expected.foreach { case (letter, ws) =>
        val got = spark.read.text(s"$out/first_letter=$letter")
          .collect().map(_.getString(0)).sorted
        assert(got.toSeq === ws.sorted.toSeq, s"partition $letter")
      }
      // no stray partitions beyond the letters that actually occur
      val dirs = new java.io.File(out).listFiles()
        .filter(_.isDirectory).map(_.getName).sorted
      assert(dirs.toSeq === expected.keys.toSeq.sorted.map(c => s"first_letter=$c"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}

package graft

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextPipeline
import graft.sources.{ReferenceSink, WordListSource}

/** The paper's job end to end on the in-repo fixture
  * `wordlist/quirks.ngl`: quirk read → `*FromWords` → reference sink. The
  * goldens are derived by hand, line by line, in `wordlist/quirks.md`. */
class WordListPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private val fixture =
    Paths.get(getClass.getResource("/wordlist/quirks.ngl").toURI).toString
  private val FixtureLines = 24

  private val mainGolden = Seq("ab" -> 4L, "ak" -> 1L, "an" -> 2L, "ap" -> 1L,
    "ay" -> 1L, "ba" -> 2L, "be" -> 1L, "br" -> 1L, "ca" -> 1L, "do" -> 1L,
    "eb" -> 1L, "ka" -> 1L, "le" -> 1L, "ll" -> 1L, "na" -> 2L, "on" -> 1L,
    "pl" -> 1L, "po" -> 1L, "pp" -> 1L, "ra" -> 1L, "we" -> 1L, "ya" -> 1L,
    "ye" -> 1L, "ze" -> 1L, "zz" -> 1L)
  private val onlyOneGolden = (mainGolden ++ Seq("es" -> 1L, "is" -> 1L,
    "iv" -> 1L, "li" -> 1L, "ok" -> 1L, "ti" -> 1L, "totalCount" -> 16L,
    "ve" -> 1L)).sortBy(_._1)

  private def words = WordListSource.read(spark, fixture, referenceQuirk = true)

  private def counts(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

  private lazy val outRoot = Files.createTempDirectory("wordlist-out")
  private def outDir(): Path = Files.createTempDirectory(outRoot, "case")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(outRoot.toFile)
    finally super.afterAll()

  private def partFile(dir: Path): Path = {
    val parts = dir.toFile.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1, s"one part file in $dir")
    parts.head.toPath
  }

  private def countsBytes(rows: Seq[(String, Long)]): Array[Byte] =
    rows.map { case (k, v) => s"$k: \t\t $v\r\n" }.mkString.getBytes(US_ASCII)

  /** Writes both reference files from one result and returns how many
    * input records the whole request read. */
  private def writeBoth(result: DataFrame => DataFrame, dir: Path): Long =
    SparkProbe.measure(spark) {
      val r = result(words)
      ReferenceSink.writeCounts(r, "bigram", "cnt", dir.resolve("counts").toString)
      ReferenceSink.writeCounts(r, "bigram", "p", dir.resolve("probs").toString)
    }._2.recordsRead

  private def checkFiles(dir: Path, golden: Seq[(String, Long)]): Unit = {
    assert(Files.readAllBytes(partFile(dir.resolve("counts"))) sameElements
      countsBytes(golden), "counts file is byte-exact")
    val total = golden.map(_._2).sum.toDouble
    val probs = new String(Files.readAllBytes(partFile(dir.resolve("probs"))), US_ASCII)
      .split("\r\n").toSeq.map { line =>
        val Array(k, v) = line.split(": \t\t ", 2)
        k -> v.toDouble
      }
    assert(probs.map(_._1) === golden.map(_._1))
    probs.zip(golden).foreach { case ((k, p), (_, c)) =>
      assert(math.abs(p - c / total) <= 1e-12, s"p($k)")
    }
  }

  test("main: bigram counts and probabilities match the hand-derived golden") {
    val r = TextPipeline.bigramProbabilitiesFromWords(words)
    assert(counts(r) === mainGolden)
    assert(r.collect().forall(row => row.getDouble(2) ===
      BigDecimal(row.getLong(1) / 31.0).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        .toDouble))
  }

  test("onlyOne: totalCount row in the table and in the denominator") {
    val r = TextPipeline.onlyOneProbabilitiesFromWords(words)
    assert(counts(r) === onlyOneGolden)
    assert(onlyOneGolden.map(_._2).sum === 54L)
  }

  test("one scan per request: both main files come from a single pass") {
    val dir = outDir()
    assert(writeBoth(TextPipeline.bigramProbabilitiesFromWords, dir) === FixtureLines,
      "input records read for one result and two writes")
    checkFiles(dir, mainGolden)
  }

  test("one scan per request: both onlyOne files come from a single pass, " +
      "with the lazy docs path's rows") {
    val dir = outDir()
    assert(writeBoth(TextPipeline.onlyOneProbabilitiesFromWords, dir) === FixtureLines,
      "input records read for one result and two writes")
    checkFiles(dir, onlyOneGolden)
    // the fixture's words hold no space, so the docs path tokenizes a
    // one-word-per-row text column back into the same words
    val docsPath: Seq[Row] =
      TextPipeline.onlyOneProbabilities(words.toDF("text")).collect().toSeq
    assert(TextPipeline.onlyOneProbabilitiesFromWords(words).collect().toSeq === docsPath)
  }

  test("each *FromWords request is one job of one stage over the 24 input " +
      "records, with its docs-path twin's schema") {
    for ((fromWords, docsPath) <- Seq[(DataFrame => DataFrame, DataFrame => DataFrame)](
        (TextPipeline.bigramProbabilitiesFromWords, TextPipeline.bigramProbabilities(_)),
        (TextPipeline.onlyOneProbabilitiesFromWords, TextPipeline.onlyOneProbabilities(_)))) {
      val (r, usage) = SparkProbe.measure(spark)(fromWords(words))
      assert((usage.jobs, usage.stages, usage.recordsRead) === ((1, 1, FixtureLines.toLong)))
      assert(r.schema === docsPath(words.toDF("text")).schema)
    }
  }

  test("the sink writes a lazy aggregate's counts byte-exact too") {
    val dir = outDir()
    val lazyCounts = TextPipeline.freqTable(
      TextPipeline.explodeNgrams(TextPipeline.mainFilter(words), 2), "bigram")
    ReferenceSink.writeCounts(lazyCounts, "bigram", "cnt", dir.toString)
    assert(Files.readAllBytes(partFile(dir)) sameElements countsBytes(mainGolden))
  }

  test("writeCounts on a materialized result runs no Spark job and leaves " +
      "one part file plus _SUCCESS") {
    val dir = outDir().resolve("counts")
    val r = TextPipeline.bigramProbabilitiesFromWords(words)
    val (_, usage) = SparkProbe.measure(spark) {
      ReferenceSink.writeCounts(r, "bigram", "cnt", dir.toString)
    }
    assert(usage.jobs === 0)
    val visible = dir.toFile.listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(visible.toSeq === Seq("_SUCCESS", "part-00000.txt"))
    assert(Files.readAllBytes(partFile(dir)) sameElements countsBytes(mainGolden))
  }

  test("a second writeCounts to the same path replaces the first") {
    val dir = outDir().resolve("counts")
    val r = TextPipeline.onlyOneProbabilitiesFromWords(words)
    ReferenceSink.writeCounts(r, "bigram", "cnt", dir.toString)
    ReferenceSink.writeCounts(r.filter("bigram < 'b'"), "bigram", "cnt", dir.toString)
    assert(Files.readAllBytes(partFile(dir)) sameElements
      countsBytes(onlyOneGolden.filter(_._1 < "b")))
  }

  test("writeCounts refuses a frame of more than 677 rows") {
    import spark.implicits._
    val dir = outDir().resolve("counts")
    val big = (0 until 678).map(i => f"k$i%04d" -> i.toLong).toDF("k", "v")
    val e = intercept[GraftRefusal](ReferenceSink.writeCounts(big, "k", "v", dir.toString))
    assert(e.getMessage.contains("677"))
    assert(!Files.exists(dir), "a refused write leaves nothing behind")
    ReferenceSink.writeCounts(big.limit(677), "k", "v", dir.toString)
    assert(Files.readAllLines(partFile(dir)).size === 677)
  }

  test("split-phase layout: one directory per first letter, exact words") {
    val out = outDir().resolve("split")
    ReferenceSink.writeSplitPhase(words, out.toString)
    val expected = Map('a' -> Seq("ab", "ab", "ab1c", "apple"),
      'b' -> Seq("ba", "banana", "be"), 'c' -> Seq("c3po", "cab"),
      'd' -> Seq("don't"), 'k' -> Seq("kayak"), 'w' -> Seq("we'll"),
      'y' -> Seq("ye"), 'z' -> Seq("zebra", "zz"))
    val dirs = out.toFile.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs === expected.keys.toSeq.sorted.map(c => s"first_letter=$c"))
    expected.foreach { case (letter, ws) =>
      val got = spark.read.text(out.resolve(s"first_letter=$letter").toString)
        .collect().map(_.getString(0)).sorted.toSeq
      assert(got === ws, s"partition $letter")
    }
  }
}

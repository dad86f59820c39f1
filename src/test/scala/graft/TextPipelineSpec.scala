package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextPipeline
import graft.sources.WordListSource

/** Golden + property tests for the flagship bigram pipeline.
  * Golden numbers from FIXTURES.md (reference `test.ngl` under `main`
  * semantics; sf0.001 documents vs DuckDB). */
class TextPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf0001 = "/root/testdata/sf0.001"

  private def testNglWords = // reference quirk drops unterminated `spirit`
    WordListSource.read(spark, TestSpark.referenceFile("test.ngl"),
      referenceQuirk = true)

  test("test.ngl golden: 78 distinct bigrams, 128 occurrences (main semantics)") {
    val counts = TextPipeline.freqTable(
      TextPipeline.explodeNgrams(TextPipeline.mainFilter(testNglWords), 2),
      "bigram").cache()
    assert(counts.count() === 78L)
    assert(counts.agg(sum("cnt")).as[Long].head() === 128L)
    val first = counts.orderBy("bigram").limit(7)
      .as[(String, Long)].collect().toList
    assert(first === List("ac" -> 1L, "ai" -> 1L, "ap" -> 1L, "ar" -> 3L,
      "at" -> 3L, "ay" -> 3L, "be" -> 1L))
    counts.unpersist()
  }

  test("test.ngl golden: 32 words pass the main filter; totalCount = 30") {
    val words = TextPipeline.mainFilter(testNglWords)
    assert(words.count() === 32L)
    val tc = TextPipeline.totalCountRow(words, "bigram")
      .as[(String, Long)].head()
    assert(tc === ("totalCount" -> 30L))
  }

  test("quirk off keeps the unterminated final word `spirit`") {
    val raw = WordListSource.read(spark, TestSpark.referenceFile("test.ngl"))
    assert(raw.count() === 33L)
    assert(raw.filter($"w" === "spirit").count() === 1L)
  }

  test("sf0.001 documents golden: 82 distinct bigrams, 97,778 occurrences") {
    val counts = TextPipeline.bigramCounts(
      Tables.documents(spark, sf0001)).cache()
    assert(counts.count() === 82L)
    assert(counts.agg(sum("cnt")).as[Long].head() === 97778L)
    val first = counts.orderBy("bigram").limit(3).as[(String, Long)].collect()
    assert(first.toList === List("ab" -> 903L, "ag" -> 953L, "al" -> 1848L))
    counts.unpersist()
  }

  test("probabilities sum to 1.0") {
    val p = TextPipeline.bigramProbabilities(Tables.documents(spark, sf0001))
      .agg(sum("p")).as[Double].head()
    assert(math.abs(p - 1.0) < 1e-9)
  }

  test("onlyOne semantics: totalCount row present and in the denominator") {
    val df = TextPipeline.onlyOneProbabilities(Tables.documents(spark, sf0001))
      .cache()
    val tc = df.filter($"bigram" === "totalCount").count()
    assert(tc === 1L)
    // denominator includes the totalCount row => probabilities sum to 1.0
    val s = df.agg(sum("p")).as[Double].head()
    assert(math.abs(s - 1.0) < 1e-9)
    df.unpersist()
  }

  test("ngramsCol ≡ brute-force adjacent-gram spec (randomized)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0'&\"/9"
    val words = Seq.fill(500) {
      val len = rnd.nextInt(12)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    } :+ "" :+ "a" :+ "ab" :+ "a'b" :+ "''" :+ "tree"

    def spec(w: String, n: Int): Seq[String] =
      (0 to w.length - n).map(i => w.substring(i, i + n))
        .filter(_.forall(c => c >= 'a' && c <= 'z'))

    for (n <- Seq(2, 3)) {
      // custom codegen'd expression AND built-in formulation, both vs spec
      val got = words.toDF("w")
        .select($"w", TextPipeline.ngramsCol($"w", n).as("grams"),
          TextPipeline.ngramsColBuiltin($"w", n).as("builtin"))
        .as[(String, Seq[String], Seq[String])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      words.foreach { w =>
        assert(got(w)._1 === spec(w, n), s"NGramArray word=$w n=$n")
        assert(got(w)._2 === spec(w, n), s"builtin word=$w n=$n")
      }
    }
  }

  test("reference sink reproduces the golden results.txt bytes") {
    val counts = TextPipeline.freqTable(
      TextPipeline.explodeNgrams(TextPipeline.mainFilter(testNglWords), 2),
      "bigram")
    val out = java.nio.file.Files.createTempDirectory("refsink").toString
    graft.sources.ReferenceSink.writeCounts(counts, "bigram", "cnt", out)
    val file = new java.io.File(out).listFiles()
      .find(_.getName.startsWith("part-")).get
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val text = new String(bytes, "UTF-8")
    // golden first rows from FIXTURES.md, byte-exact incl. tabs + CRLF
    assert(text.startsWith(
      "ac: \t\t 1\r\nai: \t\t 1\r\nap: \t\t 1\r\nar: \t\t 3\r\nat: \t\t 3\r\n"))
    assert(text.split("\r\n").length === 78)
  }

  test("driver contract: entry returns rows; queries/oracles keys line up") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle key must have a query; queries without oracle are the
    // documented non-SQL-expressible ones
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle keys without query: ${o -- q}")
  }
}

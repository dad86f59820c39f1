package graft

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WordListSource

/** The reference-quirk read (`referenceQuirk = true`): one lazy pass over
  * line-aligned Hadoop splits that drops the unterminated final line by
  * its byte offset. Fixture and split layout: `wordlist/quirks.md`. */
class WordListSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val fixture =
    Paths.get(getClass.getResource("/wordlist/quirks.ngl").toURI).toString
  private val fixtureLines =
    new String(Files.readAllBytes(Paths.get(fixture)), US_ASCII).split("\n", -1).toSeq

  private def quirkRead(path: String): Seq[String] =
    WordListSource.read(spark, path, referenceQuirk = true)
      .collect().map(_.getString(0)).toSeq

  private def tempFile(content: String): String = {
    val f = Files.createTempFile("wordlist", ".ngl")
    Files.write(f, content.getBytes(US_ASCII))
    f.toFile.deleteOnExit()
    f.toString
  }

  test("fixture: the quirk read runs no job, scans 4 splits and drops only " +
      "the final line") {
    assert(fixtureLines.size === 24 && fixtureLines.last === "apple")
    val (words, usage) = SparkProbe.measure(spark) {
      WordListSource.read(spark, fixture, referenceQuirk = true)
    }
    assert(usage.jobs === 0, "building the quirk read must not run a job")
    val parts = words.rdd.glom().collect().map(_.map(_.getString(0)).toSeq).toSeq
    assert(parts.size > 1, "the quirk read must scan more than one split")
    // the split layout derived in quirks.md: lines 1-6, 7-12, 13-17, 18-23
    assert(parts === Seq(fixtureLines.slice(0, 6), fixtureLines.slice(6, 12),
      fixtureLines.slice(12, 17), fixtureLines.slice(17, 23)))
    assert(parts.flatten === fixtureLines.init, "exactly the final line is dropped")
    assert(parts.flatten.count(_ == "apple") === 1,
      "the earlier copy of the final word survives")
  }

  test("fixture: default mode keeps the unterminated final line") {
    val raw = WordListSource.read(spark, fixture).collect().map(_.getString(0)).toSeq
    assert(raw === fixtureLines)
  }

  test("a newline-terminated file drops nothing") {
    assert(quirkRead(tempFile("ab\ncd\nab\n")) === Seq("ab", "cd", "ab"))
    assert(quirkRead(tempFile("ab\r\ncd\r\n")) === Seq("ab", "cd"))
  }

  test("a single unterminated line gives no rows; so does an empty file") {
    assert(quirkRead(tempFile("word")) === Seq())
    assert(quirkRead(tempFile("")) === Seq())
  }

  test("the backward scan finds a terminator more than one read buffer back") {
    val long = "x" * (3 * WordListSource.TailScanBytes + 5)
    assert(quirkRead(tempFile(s"ab\ncd\n$long")) === Seq("ab", "cd"))
    assert(quirkRead(tempFile(long)) === Seq())
  }

  test("carriage returns end lines as the line reader does") {
    assert(quirkRead(tempFile("ab\r\ncd")) === Seq("ab"))
    assert(quirkRead(tempFile("ab\rcd")) === Seq("ab"))
    assert(quirkRead(tempFile("ab\ncd\r")) === Seq("ab"))
  }

  test("randomized: the quirk read is the default read minus its last row " +
      "unless the file ends with a newline") {
    val rnd = new scala.util.Random(7)
    val alphabet = "ab\n\n\r"
    for (_ <- 1 to 30) {
      val text = Seq.fill(rnd.nextInt(120))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val path = tempFile(text)
      val plain = WordListSource.read(spark, path).collect().map(_.getString(0)).toSeq
      val expected = if (text.endsWith("\n")) plain else plain.dropRight(1)
      assert(quirkRead(path) === expected, s"file ${text.map(_.toInt)}")
    }
  }

  test("a missing file fails as the default read does, with PATH_NOT_FOUND") {
    val dir = Files.createTempDirectory("wordlist")
    try {
      val missing = dir.resolve("absent.ngl")
      val e = intercept[AnalysisException](
        WordListSource.read(spark, missing.toString, referenceQuirk = true))
      assert(e.getMessage.contains("PATH_NOT_FOUND"))
    } finally Files.delete(dir)
  }

  test("a compressed file is refused: its line keys are not byte offsets") {
    val gz = Files.createTempFile("wordlist", ".ngl.gz")
    try {
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
      try out.write("ab\ncd".getBytes(US_ASCII)) finally out.close()
      intercept[IllegalArgumentException](
        WordListSource.read(spark, gz.toString, referenceQuirk = true))
    } finally Files.delete(gz)
  }
}

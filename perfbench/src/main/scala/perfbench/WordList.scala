package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** The paper's input shape, generated from a seed: a newline-delimited
  * lowercase word list of the reference corpus's line count (354,984
  * lines, about 3.5 MB), one file, last line unterminated. About 2% of
  * the lines fail the split-phase filter (a 1-character word, or a
  * non-letter first character); a few more valid words carry an inner
  * digit or apostrophe, so the n-gram gate drops some of their bigrams.
  *
  * Single-threaded and deterministic: the same seed gives the same bytes. */
object WordList {
  val Lines = 354984

  // English-like letter weights (per mille), so bigram counts are skewed
  // the way a real word list's are rather than uniform.
  private val weights = Array(82, 15, 28, 43, 127, 22, 20, 61, 70, 2, 8, 40,
    24, 67, 75, 19, 1, 60, 63, 91, 28, 10, 24, 2, 20, 1)
  private val cumulative = weights.scanLeft(0)(_ + _).tail
  private val punct = "-'.,;!?&"

  private def letter(r: SplittableRandom): Char = {
    val x = r.nextInt(cumulative.last)
    var i = 0
    while (cumulative(i) <= x) i += 1
    ('a' + i).toChar
  }

  private def word(r: SplittableRandom, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) { sb.append(letter(r)); i += 1 }
    sb.toString
  }

  /** The generated lines, in file order. */
  def lines(seed: Long): Array[String] = {
    val r = new SplittableRandom(seed)
    Array.fill(Lines) {
      val kind = r.nextInt(1000)
      if (kind < 10) word(r, 1) // 1.0%: too short for the filter
      else if (kind < 20) { // 1.0%: digit or punctuation first
        val first =
          if (r.nextBoolean()) ('0' + r.nextInt(10)).toChar
          else punct.charAt(r.nextInt(punct.length))
        first.toString + word(r, 1 + r.nextInt(9))
      } else {
        val w = word(r, 2 + r.nextInt(8) + r.nextInt(8))
        if (kind < 30) { // 1.0%: an inner digit or apostrophe
          val at = 1 + r.nextInt(w.length - 1)
          val c = if (r.nextBoolean()) ('0' + r.nextInt(10)).toChar else '\''
          w.substring(0, at) + c + w.substring(at)
        } else w
      }
    }
  }

  /** Write `lines` as one file whose last line has no trailing newline. */
  def write(lines: Array[String], path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("\n").getBytes(US_ASCII))
  }

  /** Plain-Scala golden of the two run modes, independent of Spark. Both
    * apply the reference reader's quirk: on an unterminated file the last
    * line is dropped. */
  final case class Golden(main: Seq[(String, Long)], onlyOne: Seq[(String, Long)],
      split: Map[Char, Seq[String]]) {

    /** The reference sink's bytes: `key: \t\t value\r\n`, sorted by key. */
    def countsBytes(rows: Seq[(String, Long)]): Array[Byte] =
      rows.map { case (k, v) => s"$k: \t\t $v\r\n" }.mkString.getBytes(US_ASCII)

    def probabilities(rows: Seq[(String, Long)]): Seq[(String, Double)] = {
      val total = rows.map(_._2).sum.toDouble
      rows.map { case (k, v) => k -> v / total }
    }
  }

  private def isLower(c: Char): Boolean = c >= 'a' && c <= 'z'

  private def addBigrams(w: String, into: mutable.Map[String, Long]): Unit = {
    var i = 0
    while (i + 1 < w.length) {
      if (isLower(w.charAt(i)) && isLower(w.charAt(i + 1))) {
        val g = w.substring(i, i + 2)
        into(g) = into.getOrElse(g, 0L) + 1
      }
      i += 1
    }
  }

  def golden(lines: Array[String]): Golden = {
    val words = lines.dropRight(1) // the unterminated last line is dropped
    val kept = words.filter(w => w.length >= 2 && isLower(w.charAt(0)))
    val main = mutable.HashMap.empty[String, Long]
    kept.foreach(addBigrams(_, main))
    val only = mutable.HashMap.empty[String, Long]
    var totalCount = 0L
    words.foreach { w =>
      if (w.length >= 2) {
        addBigrams(w, only)
        if (isLower(w.charAt(w.length - 2)) && isLower(w.charAt(w.length - 1)))
          totalCount += 1
      }
    }
    if (totalCount > 0) only("totalCount") = totalCount
    Golden(main.toSeq.sortBy(_._1), only.toSeq.sortBy(_._1),
      kept.groupBy(_.charAt(0)).map { case (c, ws) => c -> ws.toSeq.sorted })
  }
}

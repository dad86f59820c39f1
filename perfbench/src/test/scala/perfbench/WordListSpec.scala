package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WordListSpec extends AnyFunSuite {

  test("the generator is seeded and has the reference corpus's shape") {
    val a = WordList.lines(5)
    assert(a.sameElements(WordList.lines(5)))
    assert(!a.sameElements(WordList.lines(6)))
    assert(a.length == 354984)
    val bytes = a.map(_.length + 1).sum - 1 // no newline after the last line
    assert(bytes > 3300000 && bytes < 3700000)
    val rejected = a.count(w => w.length < 2 || !(w.charAt(0) >= 'a' && w.charAt(0) <= 'z'))
    assert(math.abs(rejected.toDouble / a.length - 0.02) < 0.002)
  }

  test("the golden applies main and onlyOne semantics and drops the unterminated last line") {
    val g = WordList.golden(Array("abc", "b", "9ab", "ab'c", "xy", "spirit"))
    // main: words kept by the split-phase filter are abc, ab'c, xy
    assert(g.main == Seq("ab" -> 2L, "bc" -> 1L, "xy" -> 1L))
    // onlyOne: no first-letter gate, and the totalCount row (abc, 9ab, xy)
    assert(g.onlyOne == Seq("ab" -> 3L, "bc" -> 1L, "totalCount" -> 3L, "xy" -> 1L))
    assert(g.split == Map('a' -> Seq("ab'c", "abc"), 'x' -> Seq("xy")))
    assert(new String(g.countsBytes(g.main)) == "ab: \t\t 2\r\nbc: \t\t 1\r\nxy: \t\t 1\r\n")
    assert(g.probabilities(g.onlyOne).map(_._2).sum == 1.0)
  }
}

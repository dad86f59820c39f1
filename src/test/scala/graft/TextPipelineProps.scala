package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.operators.TextPipeline

/** ScalaCheck properties for the bigram extractor — the three
  * properties SURVEY.md §5 commits to:
  *  (a) n-gram extraction ≡ the all-adjacent-valid-windows
  *      specification (the §2 #5 equivalence argument, executed);
  *  (b) probabilities sum to 1 ± ε whenever any bigram survives;
  *  (c) counts are invariant under input permutation (what justifies
  *      dropping the reference's list-reversal quirk, §2 #2);
  * plus (d): the word-list fold stage (`*FromWords`) returns the docs
  * path's rows, `p` included, for both `main` and `onlyOne`.
  * Runs on the sbt ScalaCheck test framework (no scalatest bridge). */
object TextPipelineProps extends Properties("TextPipeline") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // corpus-like words: lowercase letters plus the punctuation classes the
  // real word list contains (digits, quote, apostrophe, slash, ampersand)
  private val wordChar: Gen[Char] =
    Gen.frequency(9 -> Gen.choose('a', 'z'),
      1 -> Gen.oneOf('0', '9', '\'', '"', '/', '&'))
  private val word: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, wordChar)).map(_.mkString)
  private val corpus: Gen[List[String]] =
    Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, word))

  // fold-vs-docs words: [a-z] plus digits, apostrophe, CR and the
  // multibyte é ß 中, so first characters and final pairs vary; 0-1-char
  // words included; no spaces, which the docs path splits on
  private val foldChar: Gen[Char] =
    Gen.frequency(8 -> Gen.choose('a', 'z'),
      1 -> Gen.oneOf('0', '7', '\'', '\r', 'é', 'ß', '中'))
  private val foldWord: Gen[String] =
    Gen.frequency(1 -> Gen.chooseNum(0, 1), 4 -> Gen.chooseNum(2, 9))
      .flatMap(n => Gen.listOfN(n, foldChar)).map(_.mkString)
  private val foldCorpus: Gen[List[String]] =
    Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, foldWord))

  /** The executable specification: all length-n windows whose chars are
    * all in [a-z]. */
  private def specNgrams(w: String, n: Int): Seq[String] =
    if (w.length < n) Seq.empty
    else (0 to w.length - n).map(i => w.substring(i, i + n))
      .filter(_.forall(c => c >= 'a' && c <= 'z'))

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15) // each sample runs a Spark job

  property("ngrams == adjacent-valid-window spec") =
    Prop.forAll(corpus, Gen.chooseNum(1, 4)) { (ws, n) =>
      val got = ws.toDF("w")
        .select(TextPipeline.ngramsCol($"w", n)).as[Seq[String]]
        .collect().toList
      got == ws.map(specNgrams(_, n).toList)
    }

  property("probabilities sum to 1 when any bigram survives") =
    Prop.forAll(corpus) { ws =>
      val docs = Seq(ws.mkString(" ")).toDF("text")
      val probs = TextPipeline.bigramProbabilities(docs)
        .select("p").as[Double].collect()
      probs.isEmpty || math.abs(probs.sum - 1.0) < 1e-9
    }

  property("bigram counts are permutation-invariant") =
    Prop.forAll(corpus) { ws =>
      val a = TextPipeline.bigramCounts(Seq(ws.mkString(" ")).toDF("text"))
        .as[(String, Long)].collect().toMap
      val b = TextPipeline.bigramCounts(
        Seq(ws.reverse.mkString(" ")).toDF("text"))
        .as[(String, Long)].collect().toMap
      a == b
    }

  property("*FromWords fold == docs path, row for row, p included") =
    Prop.forAll(foldCorpus) { ws =>
      val (words, text) = (ws.toDF("w"), ws.toDF("text"))
      TextPipeline.bigramProbabilitiesFromWords(words).collect().toSeq ==
        TextPipeline.bigramProbabilities(text).collect().toSeq &&
      TextPipeline.onlyOneProbabilitiesFromWords(words).collect().toSeq ==
        TextPipeline.onlyOneProbabilities(text).collect().toSeq
    }
}

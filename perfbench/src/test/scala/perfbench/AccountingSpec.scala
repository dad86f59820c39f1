package perfbench

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class AccountingSpec extends AnyFunSuite {

  test("a request that throws stays in the run: attempted, failed, error rate, throughput") {
    val (samples, window) = Loop.run(Seq("a", "b", "c"), new Random(1), passes = 2, firstId = 0,
      tracedPass = _ => false) { (kind, _, _) =>
      Thread.sleep(20)
      if (kind == "b") throw new IllegalStateException("injected")
    }(() => ())
    assert(samples.size == 6)
    assert(samples.count(_.error.nonEmpty) == 2)
    assert(samples.filter(_.kind == "b").forall(_.wallS.isPosInfinity))
    val o = Outcome.of(samples, window, untimed = 3, otherFailures = 0)
    assert(o.attempted == 9)
    assert(o.failed == 2)
    assert(o.errorRate == 2.0 / 9)
    // the failed requests' time stays in the window; only successes count
    assert(o.throughputRps == 4 / window)
    assert(window >= 6 * 0.02)
    // failures sort last: with 2 of 6 failed the median is still finite
    assert(!o.p50.isInfinite)
    assert(!o.tail._1.isInfinite && o.tail._2 == 50.0)
  }

  test("a word-list request on a path that does not exist is counted as failed") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val dir = Files.createTempDirectory("perfbench")
      val words = Files.writeString(dir.resolve("words.ngl"), "ab\ncd\nef")
      val (samples, window) = Loop.run(Seq("ok", "missing"), new Random(3), passes = 1,
        firstId = 0, tracedPass = _ => false) { (kind, _, _) =>
        val path = if (kind == "ok") words else dir.resolve("absent.ngl")
        graft.sources.WordListSource.read(spark, path.toString, referenceQuirk = true).count()
      }(() => ())
      FileTree.deleteTree(dir)
      val o = Outcome.of(samples, window, untimed = 0, otherFailures = 0)
      assert(o.attempted == 2 && o.failed == 1 && o.errorRate == 0.5)
      assert(samples.find(_.kind == "missing").get.error.exists(_.contains("PATH_NOT_FOUND")))
    } finally spark.stop()
  }

  test("the tail is the highest listed percentile with ten samples beyond it") {
    val xs = (1 to 44).map(_.toDouble)
    assert(Stats.tail(xs) == ((33.0, 75.0, 11)))
    assert(Stats.tail((1 to 21).map(_.toDouble)) == ((11.0, 50.0, 10)))
    // under 20 samples no percentile has ten beyond it: p50 and its count
    assert(Stats.tail((1 to 9).map(_.toDouble)) == ((5.0, 50.0, 4)))
  }

  test("layer self times add up to the request's wall time") {
    val t = new Tracer
    t.enabled = true
    t.request(7, "r") {
      t.span("operators", "build")(Thread.sleep(15))
      t.span("exec", "write")(t.span("sink", "inner")(Thread.sleep(10)))
    }
    val root = t.spans.find(_.layer == "request").get
    val self = t.selfTimes(7)
    assert(self.values.sum == root.durUs)
    assert(self("operators") >= 15000 && self("sink") >= 10000)
  }
}

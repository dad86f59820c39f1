package graft

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Pins the corpus-size memo contract (VERDICT r8 item 5): the geometry
  * dial's `embeddingCorpusCount` runs ONE Spark action per (session,
  * corpus dir) — every further geometry-aware caller in the session
  * reads the memo, paying zero jobs. Counts SQL executions via the
  * [[CcJobCountSpec]] listener pattern (raw job counts are AQE-noisy).
  *
  * The corpus is a fresh copy of the fixture embeddings parquet in a
  * temp dir: the memo is keyed by (session, dir), and other specs in
  * the same JVM may already have warmed the fixture dirs. */
class CorpusCountMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("embeddingCorpusCount pays one action per (session, corpus)") {
    // fresh memo key: copy the embeddings parquet into a temp corpus dir
    val src = java.nio.file.Paths.get(
      "/root/testdata/sf0.001/embeddings.parquet") // a single parquet file
    val dir = java.nio.file.Files.createTempDirectory("graft_cnt")
    val dst = dir.resolve("embeddings.parquet")
    java.nio.file.Files.copy(src, dst)

    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent)
          : Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ => ()
      }
    }
    def stableCount(): Int = {
      var n = execs.get()
      var stableSince = System.nanoTime()
      while (System.nanoTime() - stableSince < 500L * 1000 * 1000) {
        Thread.sleep(50)
        val cur = execs.get()
        if (cur != n) { n = cur; stableSince = System.nanoTime() }
      }
      n
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = stableCount()
      val expected = spark.read.parquet(dst.toString).count()
      val afterPlain = stableCount()
      assert(afterPlain - before >= 1) // the control count is >= 1 action

      val n1 = Dedup.embeddingCorpusCount(spark, dir.toString)
      val afterFirst = stableCount()
      assert(n1 === expected)
      assert(afterFirst - afterPlain >= 1,
        "first memo lookup ran no action at all?")

      // every further lookup — the per-caller cost the memo eliminates —
      // is action-free
      for (_ <- 1 to 3)
        assert(Dedup.embeddingCorpusCount(spark, dir.toString) === expected)
      val afterMemo = stableCount()
      assert(afterMemo === afterFirst,
        s"memoized lookups ran ${afterMemo - afterFirst} extra actions")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}

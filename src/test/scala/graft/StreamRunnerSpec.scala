package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.streaming.EventStream

/** The driver-surface stream runner (`EventStream.runAvailableNow`) and
  * the session setting it relies on: a repeated stream request reuses its
  * compiled classes, the runner returns every micro-batch's rows without
  * a file round trip, and it leaves no scratch directory behind. */
class StreamRunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  /** Names in the JVM temp directory that start with `prefix`. */
  private def tmpEntries(prefix: String): Set[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toSet
    finally ls.close()
  }

  private def outDirs(): Set[String] =
    tmpEntries("graft-").filter(_.contains("-out"))

  test("a second run of a stream entry compiles no new classes") {
    // Spark caches generated classes per (context classloader, code); with
    // per-session artifact isolation every streaming query's cloned session
    // brought a fresh classloader and the second run recompiled them all
    // (17 classes for this entry on this fixture)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val first = EventStream.windowedCountsStreamVerified(spark, d).collect().toSeq
    val before = compiles
    val second = EventStream.windowedCountsStreamVerified(spark, d).collect().toSeq
    assert(compiles - before === 0L, "classes compiled by the second run")
    assert(second === first)
    assert(first.nonEmpty)
  }

  test("the runner returns every micro-batch's rows in the caller's session") {
    val dir = Files.createTempDirectory("graft-runnerspec-src")
    try {
      val src = dir.resolve("t").toString
      spark.range(0, 2000).select(col("id"), (col("id") % 7).as("k"))
        .repartition(4).write.parquet(src)
      val ss = spark.newSession()
      val q = ss.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .filter(col("k") =!= 3)
      var dataBatches = 0
      val got = EventStream.runAvailableNow(spark, q, "runnerspec",
        run => dataBatches = run.recentProgress.count(_.numInputRows > 0))
      assert(dataBatches === 4, "one micro-batch per source file")
      assert(got.sparkSession eq spark)
      assert(got.schema === q.schema)
      val want = spark.read.parquet(src).filter(col("k") =!= 3)
      assert(got.as[(Long, Long)].collect().sorted.toSeq ===
        want.as[(Long, Long)].collect().sorted.toSeq)
      assert(tmpEntries("graft-runnerspec-ckpt").isEmpty)
    } finally FileUtils.deleteDirectory(dir.toFile)
  }

  test("an empty source gives an empty frame with the query's schema") {
    val dir = Files.createTempDirectory("graft-runnerspec-empty")
    try {
      val q = spark.newSession().readStream
        .schema("id LONG, k LONG").parquet(dir.toString)
      val got = EventStream.runAvailableNow(spark, q, "runnerspec")
      assert(got.schema === q.schema)
      assert(got.count() === 0L)
    } finally FileUtils.deleteDirectory(dir.toFile)
  }

  test("a run leaves no output or checkpoint directory, also when the " +
      "check throws") {
    val outBefore = outDirs()
    val ckptBefore = tmpEntries("graft-enrich-ckpt")
    EventStream.enrichedStreamVerified(spark, d).count()
    assert(tmpEntries("graft-enrich-ckpt") === ckptBefore)
    val q = spark.newSession().readStream
      .schema(EventStream.eventSchema(spark, d))
      .parquet(s"$d/events.parquet{,/*}")
    val e = intercept[IllegalStateException](
      EventStream.runAvailableNow(spark, q, "runnerspec-throw",
        _ => throw new IllegalStateException("check failed")))
    assert(e.getMessage === "check failed")
    assert(tmpEntries("graft-runnerspec-throw-ckpt").isEmpty)
    assert(outDirs() === outBefore, "a stream run left an output directory")
  }
}

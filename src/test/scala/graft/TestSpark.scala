package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** [[Bench.referenceFile]], failing the calling test with the setting
    * and the path named when the file is missing (Spark's own error is a
    * bare `PATH_NOT_FOUND`). */
  def referenceFile(name: String): String = {
    val p = Bench.referenceFile(name)
    if (!java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(p)))
      org.scalatest.Assertions.fail(s"reference file $p not found: set " +
        "SPARK_GRAFT_REFERENCE_DIR to the directory that holds it")
    p
  }
}

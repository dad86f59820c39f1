package graft
/** Dev helper: steady-state per-query timings (rounds at local[32]). */
object Prof {
  def main(args: Array[String]): Unit = {
    val spark = Graft.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROF_ROUNDS", "2").toInt
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    for (round <- 1 to rounds; name <- names) {
      spark.catalog.clearCache() // per-query persists must not span runs
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d).write.format("noop").mode("overwrite").save()
      println(f"XQX round$round $name ${(System.nanoTime()-t0)/1e9}%.2f s")
    }
    spark.stop()
  }
}

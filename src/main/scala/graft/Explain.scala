package graft
/** Dev helper: print formatted/executed plans for declared queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Graft.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions","8")
      .config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val executed = args.headOption.contains("--executed")
    val names = (if (executed) args.drop(1) else args).toSeq match {
      case Seq() => SparkEntry.queries.keys.toSeq.sorted
      case s => s
    }
    names.foreach { n =>
      println(s"========== $n ==========")
      val df = SparkEntry.queries(n)(spark, "/root/testdata/sf0.01")
      if (executed) {
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}

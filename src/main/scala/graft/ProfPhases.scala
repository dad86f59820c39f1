package graft

/** Dev helper (r21 optimization round): per-PHASE timing of a declared
  * query — separates (a) DataFrame construction (eager localCheckpoint
  * jobs run here), (b) physical planning (executedPlan force), and
  * (c) execution via the noop sink — so an optimization targets the
  * phase the time actually goes to (guide §1: measure first). Rounds
  * repeat to shake JIT warmup; judge the later rounds. */
object ProfPhases {
  def main(args: Array[String]): Unit = {
    val spark = Graft.builder().master(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROF_ROUNDS", "3").toInt
    val names =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    // per-job attribution: jobId, wall, call site — shows WHICH eager
    // action (localCheckpoint at file:line, noop write) eats the build
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStart.put(e.jobId, (System.nanoTime(),
            e.stageInfos.map(si => s"${si.name} [${si.numTasks}]")
              .mkString(" <- ")))
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = jobStart.remove(e.jobId)
          if (st != null)
            jobs.add(f"  job ${e.jobId}%4d ${(System.nanoTime() - st._1) / 1e9}%7.3f s  ${st._2}")
        }
      })
    val showJobs = sys.env.get("SPARK_GRAFT_PROF_JOBS").contains("1")
    for (round <- 1 to rounds; name <- names) {
      jobs.clear()
      spark.catalog.clearCache()
      def t[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      val (df, tBuild) = t(SparkEntry.queries(name)(spark, d))
      val (_, tPlan) = t(df.queryExecution.executedPlan)
      val (_, tExec) =
        t(df.write.format("noop").mode("overwrite").save())
      println(f"XPX round$round $name build=$tBuild%.3f plan=$tPlan%.3f " +
        f"exec=$tExec%.3f total=${tBuild + tPlan + tExec}%.3f s")
      if (showJobs) { Thread.sleep(100)
        jobs.forEach(l => println(l)) }
    }
    spark.stop()
  }
}

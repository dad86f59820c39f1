package graft

import org.apache.spark.sql.SparkSession

/** Library entry point — how an application adopts graft.
  *
  * Either start from [[builder]] (pre-wired extensions + the configs the
  * engine assumes) or call [[install]] on an already-running session.
  * After that, every operator in `graft.operators._` is a plain function
  * over DataFrames, the native expressions are SQL-callable
  * (`ngram_array`, `cosine_similarity`, `topk_agg`, `hist_quantile`, …)
  * and `NativeAsOf.joinAsOf` plans through the custom strategy.
  *
  * Deliberately NOT set here: master, shuffle partitions, memory — those
  * belong to the deployment (spark-submit / cluster manager), not the
  * library. The driver mains (`Verify`/`Bench`/`Prof`) size them for
  * this container's local mode. */
object Graft {

  /** A builder with graft's session extensions and the fixed configs
    * the engine relies on:
    *  - UTC session time (all date/window oracles are UTC-defined);
    *  - nanosecond-parquet timestamp reads (`Tables.events`);
    *  - the local filesystem for both Hadoop APIs, `FileSystem` and
    *    `FileContext`: [[GraftLocalFileSystem]] and [[GraftLocalFs]], which
    *    fork no `chmod`/`readlink` process per file (Hadoop's stock classes
    *    fork `chmod` without the native library and `readlink` with or
    *    without it; see [[NioRawLocalFileSystem]]);
    *  - no per-session artifact isolation
    *    (`spark.sql.artifact.isolation.enabled=false`). Spark caches
    *    generated classes under the key (context classloader, code), and
    *    with isolation on every session, including the clone each
    *    streaming query runs in, gets a classloader of its own: a repeated
    *    stream request recompiled every generated class (17 Janino
    *    compiles per `events_windowed_stream` run on the sf0.001
    *    fixture). graft adds no jars or files to any session, so isolation
    *    bought it nothing. A caller that needs per-session artifacts must
    *    build its own session.
    *
    * Every graft `main` and the test session start here and add only
    * their master, partition and log settings. [[install]] does not set
    * the filesystem: a live session's `FileSystem` cache may already hold
    * the stock class. */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosConf, "true")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[GraftLocalFs].getName)
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** Install graft on a live session: SQL-registers the native
    * expressions and the as-of strategy/pruning rule (idempotent). */
  def install(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    graft.plans.NativeAsOf.ensureRegistered(spark)
    if (!spark.conf.getOption(Tables.NanosConf).contains("true"))
      spark.conf.set(Tables.NanosConf, "true")
    spark
  }

  /** The SQL entry surface: register the star schema at `dir` as temp
    * views (plain table names), so every analog is writable as
    * `spark.sql` text — `SELECT … FROM lineitem JOIN orders …` — with
    * the graft native functions available by name after [[install]].
    * `events` registers through [[Tables.events]], so the
    * nanos-vs-micros timestamp normalization applies to the SQL surface
    * too. A temp view over a parquet-backed DataFrame resolves to the
    * SAME LogicalRelation the DataFrame API plans, so SQL text and
    * DataFrame twins optimize to identical plans (`SqlSurfaceSpec`
    * pins canonicalized-plan equality). */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }
}

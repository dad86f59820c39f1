package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface of the native expressions. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def registry = spark.sessionState.functionRegistry
  private def resolves(name: String) = registry.functionExists(FunctionIdentifier(name))

  test("native expressions are callable from SQL after registration") {
    import spark.implicits._
    // the builder's extensions inject the same names: drop them first, so
    // only `register` can make them resolve
    GraftFunctions.all.foreach { case (name, _, _) =>
      registry.dropFunction(FunctionIdentifier(name)) }
    assert(GraftFunctions.all.forall { case (name, _, _) => !resolves(name) })
    GraftFunctions.register(spark)
    assert(GraftFunctions.all.forall { case (name, _, _) => resolves(name) })

    Seq(("tree house", 1L)).toDF("t", "id").createOrReplaceTempView("tv")
    val grams = spark.sql(
      "SELECT ngram_array(t, 2) AS g, word_shingles(t, 1) AS w FROM tv")
      .as[(Seq[String], Seq[String])].head()
    assert(grams._1 === Seq("tr", "re", "ee", "ho", "ou", "us", "se"))
    assert(grams._2 === Seq("tree", "house"))

    val cos = spark.sql(
      """SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                         array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
      .as[Double].head()
    assert(cos === 1.0)

    // constant hash 42 over 3 rows: exactly 42's bits win the vote
    val sim = spark.sql(
      "SELECT simhash_agg(CAST(42 AS BIGINT)) AS s FROM range(3)")
      .as[Long].head()
    assert(sim === 42L)

    val buckets = spark.sql(
      """SELECT lsh_buckets(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT))) AS b""")
      .as[Seq[Long]].head()
    assert(buckets.length === graft.functions.LshBuckets.Tables)

    // 3-4-5 triangle: ||(3,4)|| = 5 exactly
    val norm = spark.sql(
      "SELECT vector_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n")
      .as[Double].head()
    assert(norm === 5.0)

    // top-2 of ids 0..4 scored by id: (4, 3), ranks from array position
    val topk = spark.sql(
      "SELECT topk_agg(id, CAST(id AS DOUBLE), 2) AS t FROM range(5)")
      .as[Seq[(Long, Double)]].head()
    assert(topk === Seq((4L, 4.0), (3L, 3.0)))

    // median of 0..9 over [0,10) in 10 unit bins: rank 5 → bin 4, one
    // value per bin → 0 + 1*4 + 1*(1/1) = 5.0
    val hq = spark.sql(
      "SELECT hist_quantile(CAST(id AS DOUBLE), 0.0, 10.0, 10, 0.5) AS q FROM range(10)")
      .as[Double].head()
    assert(hq === 5.0)
  }

  test("Graft.install wires SQL functions and the native as-of on a live session") {
    import spark.implicits._
    // undo what an earlier install left, so the asserts below see this one
    registry.dropFunction(FunctionIdentifier("vector_norm"))
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies.filterNot(_ == graft.plans.AsOfJoinStrategy)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == graft.plans.PruneAsOfJoinColumns)
    assert(!resolves("vector_norm"))
    Graft.install(spark)
    assert(resolves("vector_norm"))
    assert(spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
    assert(spark.experimental.extraOptimizations.contains(graft.plans.PruneAsOfJoinColumns))
    assert(spark.sql("SELECT vector_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))")
      .as[Double].head() === 5.0)
    val left = Seq((1L, 10L, "a")).toDF("k", "lts", "v")
    val right = Seq((1L, 5L, 7L)).toDF("rk", "rts", "rv")
    val j = graft.plans.NativeAsOf.joinAsOf(left, right, "k", "rk", "lts", "rts")
    assert(j.select("rv").as[Option[Long]].head() === Some(7L))
    assert(j.queryExecution.executedPlan.toString.contains("AsOfJoin "))
  }
}

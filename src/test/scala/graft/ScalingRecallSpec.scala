package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[plantedTwinRecall]] — the quality column of SCALING.json's
  * synthetic composite-cap-crossing row (VERDICT r12 item 3) — at
  * fixture scale, on the SAME corpus construction that row used
  * (xxhash64 iid components, every stride-th vector twinned with one
  * component negated, ids offset by the base count). The 5 M-vector
  * measurement and this spec share one recall definition, so the
  * committed `recall_x2517` number is backed by a unit-pinned
  * counter, not ad-hoc arithmetic. */
class ScalingRecallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The cap-crossing row's synthetic corpus at a small n (the row
    * built the same shape at 4 Mi base vectors). */
  private def synthCorpus(n: Long) = {
    val baseVec = spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> " +
        "cast(pmod(xxhash64(id, j), 1048576) / 524288.0 - 1.0 as float))")
        .as("embedding"))
    val plants = baseVec
      .filter(col("vec_id") % operators.Dedup.CompositePlantStride === 0)
      .select((col("vec_id") + lit(n)).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "IF(i = cast(vec_id % 64 as int), -x, x))").as("embedding"))
    baseVec.unionByName(plants)
  }

  /** Recall of planted near-identical twins in an edge frame, in the
    * declared-floor regime (VERDICT r12 item 3). `corpus` holds base
    * vectors plus plants at `vec_id = base + idOffset` (only plant ids
    * reach `idOffset`, so the twin join needs no stride filter);
    * `pairs` is an edge frame with `(vec_a, vec_b, cosine)` rows,
    * vec_a < vec_b. Eligible = twins whose 6dp-ROUNDED cosine is at
    * least [[operators.Dedup.CompositeRecallFloorCosine]] — 6dp-rounded
    * because that is what the edge frame's `cosine` column carries, so
    * recovered and eligible share ONE floor definition (an exact-cosine
    * eligibility filter would let a boundary twin count as recovered
    * but not eligible); it is the same regime the fixture-scale floor
    * spec (`SimilaritySpec`) asserts, so the 5 M-vector measurement
    * (SCALING.json) and the unit floor share one definition.
    * Returns (recovered, eligible, recall); recall is −1 when no twin
    * is eligible (nothing to measure). Both counts are single
    * aggregate actions — audit cost, outside any timed window. */
  private def plantedTwinRecall(corpus: DataFrame, pairs: DataFrame,
      idOffset: Long): (Long, Long, Double) = {
    val floorCos = operators.Dedup.CompositeRecallFloorCosine
    // BOTH filters apply the floor to the 6dp-ROUNDED cosine — the edge
    // frame emits round(cos, 6) (Dedup's verify projection), so an
    // exact-cosine eligibility filter would use a DIFFERENT floor
    // definition: a twin with true cosine in [0.8999995, 0.9) would
    // count as recovered but not eligible, biasing recall upward (and
    // past 1.0 in degenerate corpora)
    val eligible = corpus.select(col("vec_id"), col("embedding").as("va"))
      .join(corpus.select((col("vec_id") - lit(idOffset)).as("vec_id"),
        col("embedding").as("vb")), "vec_id")
      .filter(round(
        graft.functions.CosineSimilarity(col("va"), col("vb")), 6)
        >= floorCos)
      .count()
    val recovered = pairs
      .filter(col("vec_b") === col("vec_a") + lit(idOffset) &&
        col("cosine") >= floorCos)
      .count()
    (recovered, eligible,
      if (eligible == 0) -1.0 else recovered.toDouble / eligible)
  }

  test("recall over the production dial meets the declared floor on " +
      "the harness's synthetic corpus shape") {
    val n = 4096L
    val corpus = synthCorpus(n)
    val total = corpus.count()
    val pairs = operators.Dedup.embeddingLshPairsScaledOn(corpus, total)
    val (recovered, eligible, recall) =
      plantedTwinRecall(corpus, pairs, n)
    // one flipped component of 64 iid components keeps the twin cosine
    // ~1 - 2x^2/S; most plants sit in the >=0.9 declared-floor regime
    assert(eligible > n / operators.Dedup.CompositePlantStride / 2,
      s"implausibly few eligible twins ($eligible) - corpus shape drifted")
    assert(recovered <= eligible)
    info(f"synthetic recall at n=$total: $recall%.3f ($recovered/$eligible)")
    assert(recall >= operators.Dedup.CompositeRecallFloor,
      f"recall $recall%.3f below declared floor " +
        f"${operators.Dedup.CompositeRecallFloor} on the synthetic shape")
  }

  test("counter counts exactly the planted twins, in the floor regime " +
      "only") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Array.fill(4)(1.0f)),       // base, twin below the floor
      (1L, Array.fill(4)(1.0f)),       // base, twin in the floor regime
      (2L, Array.fill(4)(1.0f))        // base, no twin
    ).toDF("vec_id", "embedding").unionByName(Seq(
      (10L, Array(-1.0f, 1.0f, 1.0f, 1.0f)),  // twin of 0: cos = 0.5
      (11L, Array(0.9f, 1.0f, 1.0f, 1.0f))    // twin of 1: cos ~ 0.9996
    ).toDF("vec_id", "embedding"))
    // pairs frame: the true twin of 1 recovered, plus a non-twin pair
    // and a twin-of-0 pair (below floor) that must NOT count
    val pairs = Seq(
      (1L, 11L, 0.9996), (0L, 10L, 0.5), (0L, 2L, 1.0))
      .toDF("vec_a", "vec_b", "cosine")
    val (recovered, eligible, recall) =
      plantedTwinRecall(corpus, pairs, 10L)
    assert(eligible === 1L, "only vec 1's twin is in the >=0.9 regime")
    assert(recovered === 1L)
    assert(recall === 1.0)
    // empty floor regime -> recall is -1 (nothing to measure), not NaN
    val loneBase = Seq((0L, Array.fill(4)(1.0f))).toDF("vec_id", "embedding")
      .unionByName(Seq((10L, Array(-1.0f, 1.0f, 1.0f, 1.0f)))
        .toDF("vec_id", "embedding"))
    val (_, e2, r2) = plantedTwinRecall(
      loneBase, pairs.limit(0), 10L)
    assert(e2 === 0L)
    assert(r2 === -1.0)
  }
}

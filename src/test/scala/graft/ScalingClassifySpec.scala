package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins refusal classification (VERDICT r9 item 6 / r10 item 1): a
  * guarded operator declining oversized input BY DESIGN is told apart
  * from a real error by the [[GraftRefusal]] TYPE anywhere on the cause
  * chain, never by message text — the distinction SCALING.json's −2 vs
  * −1 cells recorded. The former
  * `getMessage.contains("refus")` sniff recorded `dedup_clusters` ×64
  * as −1 (Spark had wrapped the refusal, and the WRAPPER's message was
  * matched) while ×16's unwrapped throw recorded −2 — the same guard,
  * two codes. */
class ScalingClassifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a guarded op at oversized input throws a typed refusal that " +
      "classifies as -2") {
    import spark.implicits._
    // 20001 signatures in ONE (t, bucket) cell — past the occupancy
    // guard's ceiling, the condition the ×64 corpus triggers for real
    val oversized = spark.range(graft.operators.Dedup.MaxLshBucketOccupancy + 1)
      .select(col("id").as("vec_id"), lit(0).as("t"), lit(7L).as("bucket"))
    val e = intercept[Throwable] {
      graft.operators.Dedup
        .lshCandidatesOnBuckets(oversized, "spec geometry").count()
    }
    assert(GraftRefusal.isRefusal(e), s"guard threw untyped: $e")
  }

  test("a Spark-WRAPPED refusal still classifies as -2 (by type, " +
      "not message)") {
    // the r9 misclassification shape: executor/driver wrapping puts a
    // non-"refus" message OUTERMOST; only the cause chain carries the type
    val wrapped = new SparkException("Job aborted due to stage failure",
      new SparkException("Task failed while writing rows",
        new GraftRefusal("dedup_clusters refused: 2^32 id space")))
    assert(GraftRefusal.isRefusal(wrapped))
  }

  test("a real error classifies as -1 even when its MESSAGE says " +
      "'refused'") {
    // the sniff's other failure mode: message-matching would record an
    // iteration-limit bug as by-design
    val err = new IllegalStateException(
      "kcore refused to converge (not a scale guard)")
    assert(!GraftRefusal.isRefusal(err))
  }

  test("isRefusal terminates on a cyclic cause chain") {
    val a = new RuntimeException("a")
    val b = new RuntimeException("b")
    a.initCause(b); b.initCause(a)
    assert(!GraftRefusal.isRefusal(a))
    val c = new SparkException("outer", new GraftRefusal("inner refusal"))
    assert(GraftRefusal.isRefusal(c))
  }
}

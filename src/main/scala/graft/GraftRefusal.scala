package graft

/** Typed refusal thrown by every scale guard in the library — the
  * occupancy/domain/cardinality bounds under which a guarded baseline
  * declines oversized input and names its scale dial instead of
  * detonating (the [[operators.Dedup.MaxNaiveShingleDf]] convention).
  *
  * A TYPE, not a message: a former scaling harness classified
  * refusals by sniffing `getMessage.contains("refus")`, which
  * misclassified `dedup_clusters` ×64 as an error (-1) while ×16
  * recorded the refusal (-2) — VERDICT r9 item 6. Callers match
  * on the type (via [[GraftRefusal.isRefusal]], which walks the cause
  * chain because Spark may wrap driver-side exceptions); extending
  * `IllegalArgumentException` keeps every existing `require`-era
  * catch/spec surface working unchanged. */
class GraftRefusal(message: String) extends IllegalArgumentException(message)

object GraftRefusal {
  /** `require`-shaped guard: refusal guards call this instead of
    * `require` so the thrown refusal is typed. */
  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new GraftRefusal(msg)

  /** How many cause links [[isRefusal]] will walk. Cyclic cause chains
    * are constructible (`a.initCause(b); b.initCause(a)`) and an
    * unbounded walk would spin a caller's classification path
    * forever; real wrap depth (SparkException over driver exceptions)
    * is single digits, so 50 is pure headroom — the JDK's own
    * `printStackTrace` guards the same hazard with a dejaVu set. */
  val MaxCauseDepth = 50

  /** True when `e` or any of the first [[MaxCauseDepth]] links of its
    * cause chain is a refusal. */
  def isRefusal(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < MaxCauseDepth) {
      if (cur.isInstanceOf[GraftRefusal]) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }
}

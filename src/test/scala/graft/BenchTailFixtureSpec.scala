package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-trips the committed bench-output tail fixtures through the
  * REAL consumer-side extraction (`tools/parse_bench_tail.py`) inside
  * `sbt test` (VERDICT r12 item 4): the take-the-LAST-line artifact
  * protocol is enforced by conventions spread across Bench (log level
  * ERROR, compact stdout line, shutdown-hook re-print) and build.sbt
  * (StdoutOutput, showSuccess=false) — any of which a future edit can
  * silently break. The r12 fixtures are real captures from the kill
  * experiments: a SIGTERM-cut mid-suite tail and a normal-exit final
  * tail; the fixed-policy fixture is the real tail of a full sf0.1
  * sweep at local[4]. All must STRICT-parse (json.loads of the last
  * non-empty line, exit code 0 — the brittlest consumer imaginable).
  * If python3 ever disappears from the environment the test fails
  * loudly rather than skipping: the driver's own consumer is python, so
  * a box that cannot run the extraction cannot validate the protocol at
  * all. */
class BenchTailFixtureSpec extends AnyFunSuite {
  import scala.sys.process._

  /** Names inside a compact-line JSON array capture ("a","b" → 2).
    * `"".split(",")` yields `Array("")` — length 1 — so a bare split
    * cannot tell an empty `failed:[]` from one name; an empty/blank
    * capture must count 0. */
  private def arrayNameCount(capture: String): Int = {
    val g = capture.trim
    if (g.isEmpty) 0 else g.split(",").length
  }

  test("arrayNameCount distinguishes an empty capture from one name " +
      "(ADVICE r18: \"\".split(\",\") is Array(\"\"), length 1, so a " +
      "bare split would report an empty watch array as 1 name and the " +
      "cap assertion could not catch a regression to watch:[])") {
    assert(arrayNameCount("") === 0)
    assert(arrayNameCount("  ") === 0)
    assert(arrayNameCount(""""only_one"""") === 1)
    assert(arrayNameCount(""""a","b","c"""") === 3)
    // a capture capped at the compact line's limit counts exactly it
    val capped = (1 to Bench.CompactCap).map(i => s""""f$i"""").mkString(",")
    assert(arrayNameCount(capped) === Bench.CompactCap)
  }

  private val fixedPolicyFixture =
    "tools/fixtures/bench_tail_fixed_policy.txt"
  private val fixtures = Seq(
    "tools/fixtures/bench_tail_r12_sigterm.txt", // timeout-cut capture
    "tools/fixtures/bench_tail_r12_final.txt",   // normal-exit capture
    // real captures of the line shape Bench wrote before the fixed
    // policy (storm-escape and watch arrays; the r18 one is a driver
    // sweep's tail whose watch array overflowed the compact cap): the
    // extractor must still read old artifacts, such as the old-policy
    // sweeps in plans/pr3/
    "tools/fixtures/bench_tail_r14_unescaped.txt",
    "tools/fixtures/bench_tail_r16_watch.txt",
    "tools/fixtures/bench_tail_r17_adjudicated.txt",
    "tools/fixtures/bench_tail_r18_watchcap.txt",
    fixedPolicyFixture)

  for (fx <- fixtures)
    test(s"$fx strict-parses through tools/parse_bench_tail.py") {
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(fx)),
        s"committed fixture $fx missing (cwd must be the repo root)")
      val out = new StringBuilder
      val logger = ProcessLogger(l => out.append(l).append('\n'))
      val rc = Seq("python3", "tools/parse_bench_tail.py", fx).!(logger)
      assert(rc === 0,
        s"strict last-line extraction failed (rc=$rc):\n$out")
      assert(out.toString.contains("strict : parsed"),
        s"unexpected extractor output:\n$out")
    }

  test("the fixed-policy fixture's final line carries the failure " +
      "accounting and the host shape") {
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(fixedPolicyFixture))
    val last = txt.linesIterator.filter(_.trim.nonEmpty).toSeq.last
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(last)
    for (k <- Seq("failed", "failed_total", "queries_done", "cpus",
        "mem_total_gb", "load_avg", "sibling_jvms"))
      assert(j.has(k), s"final line lacks `$k`:\n$last")
    val failedTotal = j.get("failed_total").asInt
    val listed = """"failed":\[([^\]]*)\]""".r
      .findFirstMatchIn(last).map(m => arrayNameCount(m.group(1)))
    assert(listed === Some(math.min(failedTotal, Bench.CompactCap)), last)
    assert(!last.contains("storm"), "the fixed policy ships no storm fields")
  }
}

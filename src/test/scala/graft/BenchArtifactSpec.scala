package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Failed cells are loud: [[Bench.artifactLines]] must name every −1
  * cell in both artifact lines and keep it out of `total` and
  * `queries_done`, so a failure can never make the suite look faster.
  * Pure function, no Spark session: the lines are built from an
  * injected result map. */
class BenchArtifactSpec extends AnyFunSuite {
  private val env = Bench.Env(sfDir = "/data/sf0.1",
    fullArtifact = "BENCH_LIVE.json", siblingJvms = 0, loadAvg = 0.5,
    cpus = 4, memTotalGb = 15.5, referenceCorpusWords = Some(354984L))
  private val mapper = new ObjectMapper()

  private def parse(line: String): JsonNode = {
    assert(!line.contains('\n'), "an artifact line must be ONE line")
    mapper.readTree(line)
  }
  private def names(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq

  test("one injected -1 cell is named in both lines and counted by " +
      "neither total nor queries_done") {
    val results = scala.collection.mutable.LinkedHashMap(
      "shared_prefix_edges" -> 2.0, "bigram_probs" -> 0.25,
      "bigram_reference_corpus" -> -1.0, "word_topk" -> 0.125)
    val (compactLine, fullLine) = Bench.artifactLines(results, env)
    for (line <- Seq(compactLine, fullLine)) {
      val j = parse(line)
      assert(j.get("metric").asText === "total")
      assert(j.get("unit").asText === "sec")
      assert(j.get("value").asDouble === 2.375)
      assert(j.get("queries_done").asInt === 3)
      assert(names(j.get("failed")) === Seq("bigram_reference_corpus"))
      assert(j.get("failed_total").asInt === 1)
      // host shape and contamination telemetry ride in both lines
      assert(j.get("cpus").asInt === 4)
      assert(j.get("mem_total_gb").asDouble === 15.5)
      assert(j.get("load_avg").asDouble === 0.5)
      assert(j.get("sibling_jvms").asInt === 0)
      assert(j.get("reference_corpus_words").asLong === 354984L)
      assert(j.get("sf").asText === "/data/sf0.1")
    }
    // the full line keeps every cell, the failed one as -1
    val fq = parse(fullLine).get("queries")
    assert(fq.size === 4)
    assert(fq.get("bigram_reference_corpus").asDouble === -1.0)
    // the compact line's worst-10 ranks successful cells only, and it
    // points at the full artifact
    val c = parse(compactLine)
    assert(c.get("queries").fieldNames().asScala.toSeq.head ===
      "shared_prefix_edges")
    assert(!c.get("queries").has("bigram_reference_corpus"))
    assert(c.get("full_artifact").asText === "BENCH_LIVE.json")
  }

  test("the compact line caps failed names at CompactCap; failed_total " +
      "and the full line keep the real count") {
    val results = scala.collection.mutable.LinkedHashMap(
      (1 to 10).map(i => f"cell_$i%02d" -> -1.0) :+ ("ok_cell" -> 1.0): _*)
    val (compactLine, fullLine) = Bench.artifactLines(results, env)
    val c = parse(compactLine)
    assert(names(c.get("failed")) === (1 to Bench.CompactCap)
      .map(i => f"cell_$i%02d"))
    assert(c.get("failed_total").asInt === 10)
    assert(c.get("queries_done").asInt === 1)
    assert(names(parse(fullLine).get("failed")).size === 10)
  }

  test("tools/compare_bench.py divides out the suite-median shift, names " +
      "the outlier cell and lists failed cells from two full lines") {
    import scala.sys.process._
    val cells = (1 to 9).map(i => s"q$i" -> (0.5 + i / 10.0))
    val old = scala.collection.mutable.LinkedHashMap(
      cells :+ ("broken" -> 1.0): _*)
    // a uniform 1.2x host shift, one 3x outlier, one newly failed cell
    val nw = scala.collection.mutable.LinkedHashMap(
      cells.map { case (k, v) => k -> (if (k == "q5") v * 3.0 else v * 1.2) }
        :+ ("broken" -> -1.0): _*)
    def write(m: collection.Map[String, Double]) = {
      val f = java.io.File.createTempFile("bench", ".json")
      f.deleteOnExit()
      java.nio.file.Files.writeString(f.toPath,
        Bench.artifactLines(m, env)._2 + "\n")
      f.getPath
    }
    val out = new StringBuilder
    val rc = Seq("python3", "tools/compare_bench.py", write(old), write(nw))
      .!(ProcessLogger(l => out.append(l).append('\n')))
    val txt = out.toString
    assert(rc === 1, txt)
    assert(txt.contains("NEW failed cells (1): broken"), txt)
    assert(txt.contains("median per-query ratio (the host shift): 1.200"),
      txt)
    val flagged = txt.linesIterator.filter(_.startsWith("  ")).toSeq
    assert(flagged.size === 1 && flagged.head.trim.startsWith("q5 "), txt)
  }

  test("no failures: empty failed array, total over every cell, and an " +
      "unreadable reference corpus omits its word count") {
    val results = scala.collection.mutable.LinkedHashMap(
      "a" -> 1.5, "b" -> 0.5)
    val (compactLine, fullLine) = Bench.artifactLines(results,
      env.copy(referenceCorpusWords = None))
    for (line <- Seq(compactLine, fullLine)) {
      val j = parse(line)
      assert(j.get("value").asDouble === 2.0)
      assert(j.get("queries_done").asInt === 2)
      assert(j.get("failed").size === 0)
      assert(j.get("failed_total").asInt === 0)
      assert(!j.has("reference_corpus_words"))
    }
  }
}

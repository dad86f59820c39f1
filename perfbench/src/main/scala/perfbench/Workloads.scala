package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Dedup, DedupOracles, TextPipeline}
import graft.sources.{ReferenceSink, WordListSource}
import graft.streaming.StreamObserver

/** A named set of request types. [[prepare]] makes the inputs; [[warm]]
  * runs one request untimed and keeps what the check needs; [[run]] is a
  * timed request; [[between]] runs untimed after every request. [[check]]
  * runs once after the timed window and returns one line per failed check. */
trait Workload {
  def kinds: Seq[String]
  /** Timed passes per 10 s of `--seconds`. A run's pass count is fixed by
    * this and `--seconds`, not by a clock, so its sample count (and with it
    * the tail percentile) stays the same when the program gets faster or
    * slower. Tuned so that a run takes about `--seconds` on a 4-core host. */
  def passesPer10s: Int
  def prepare(): Unit = ()
  def warm(kind: String, id: Int): Unit
  def run(kind: String, id: Int): Unit
  def between(): Unit = ()
  def check(): Seq[String]
  /** Files and bytes request `id` wrote through the sink (0 if none). */
  def sinkOutput(id: Int): (Long, Long) = (0L, 0L)
  /** Untimed hooks around a traced request; the listener bus has drained
    * before [[traceEnd]]. */
  def traceBegin(): Unit = ()
  def traceEnd(): Unit = ()
}

object FileTree {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  /** Regular files under `p` that Spark wrote as data (`part-*`). */
  def partFiles(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val walk = Files.walk(p)
    try walk.iterator.asScala.filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.startsWith("part-")).toSeq.sorted
    finally walk.close()
  }
}

/** The paper's job over a seeded 354,984-line word list: `main` and
  * `onlyone` write the counts and probabilities files through the reference
  * sink; `split` writes the 26-way split-phase layout. Every timed request
  * writes its own output directory, checked against the plain-Scala golden
  * after the window. */
final class WordListWorkload(spark: SparkSession, work: Path, seed: Long, t: Tracer)
    extends Workload {
  val kinds = Seq("main", "onlyone", "split")
  val passesPer10s = 2 // a pass takes about 3.4 s
  val input: Path = work.resolve("input/words.ngl")
  private val outRoot = work.resolve("out")
  private var golden: WordList.Golden = _
  private val written = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
  /** Median of three generate-and-write passes, seconds. */
  var generateS = 0.0

  override def prepare(): Unit = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      WordList.write(WordList.lines(seed), input)
      (System.nanoTime() - t0) / 1e9
    }
    generateS = times.sorted.apply(1)
    golden = WordList.golden(WordList.lines(seed))
  }

  def dir(id: Int): Path = outRoot.resolve(s"req-$id")

  def warm(kind: String, id: Int): Unit = run(kind, id)

  def run(kind: String, id: Int): Unit = {
    val path = input.toString
    val words = t.span("sources", "WordListSource.read") {
      WordListSource.read(spark, path, referenceQuirk = true)
    }
    def counts(df: => DataFrame): Unit = {
      val probs = t.span("operators", s"TextPipeline.$kind")(df)
      t.span("sink", "ReferenceSink.writeCounts") {
        ReferenceSink.writeCounts(probs, "bigram", "cnt", dir(id).resolve("counts").toString)
      }
      t.span("sink", "ReferenceSink.writeCounts") {
        ReferenceSink.writeCounts(probs, "bigram", "p", dir(id).resolve("probs").toString)
      }
    }
    kind match {
      case "main" => counts(TextPipeline.bigramProbabilitiesFromWords(words))
      case "onlyone" => counts(TextPipeline.onlyOneProbabilitiesFromWords(words))
      case "split" => t.span("sink", "ReferenceSink.writeSplitPhase") {
        ReferenceSink.writeSplitPhase(words, dir(id).resolve("split").toString)
      }
    }
    written += kind -> id // only completed requests are checked
  }

  override def sinkOutput(id: Int): (Long, Long) = {
    val files = FileTree.partFiles(dir(id))
    (files.size.toLong, files.map(Files.size).sum)
  }

  def check(): Seq[String] = {
    val failures = written.toSeq.flatMap { case (kind, id) =>
      val d = dir(id)
      val problem =
        try kind match {
          case "main" => checkCounts(d, golden.main)
          case "onlyone" => checkCounts(d, golden.onlyOne)
          case "split" => checkSplit(d.resolve("split"))
        } catch { case e: Exception => Some(s"unreadable output: $e") }
      problem.map(p => s"wordlist_bigram $kind request $id: $p")
    }
    FileTree.deleteTree(outRoot)
    failures
  }

  private def single(d: Path): Path = FileTree.partFiles(d) match {
    case Seq(f) => f
    case fs => throw new IllegalStateException(s"${fs.size} part files in $d")
  }

  private def checkCounts(d: Path, rows: Seq[(String, Long)]): Option[String] = {
    val bytes = Files.readAllBytes(single(d.resolve("counts")))
    if (!java.util.Arrays.equals(bytes, golden.countsBytes(rows)))
      return Some("counts file differs from the golden bytes")
    val parsed = new String(Files.readAllBytes(single(d.resolve("probs"))), US_ASCII)
      .split("\r\n").toSeq.filter(_.nonEmpty).map { line =>
        val Array(k, v) = line.split(": \t\t ", 2)
        k -> v.toDouble
      }
    val want = golden.probabilities(rows)
    if (parsed.map(_._1) != want.map(_._1)) Some("probabilities file keys differ")
    else parsed.zip(want).collectFirst {
      case ((k, got), (_, exp)) if math.abs(got - exp) > 1e-12 =>
        s"probability of $k is $got, golden $exp"
    }
  }

  private def checkSplit(d: Path): Option[String] = {
    val got = FileTree.partFiles(d).groupBy(_.getParent.getFileName.toString).map {
      case (dirName, files) =>
        dirName.stripPrefix("first_letter=").head ->
          files.flatMap(f => Files.readAllLines(f, US_ASCII).asScala).sorted
    }
    if (got.keySet != golden.split.keySet) Some("split letters differ")
    else golden.split.collectFirst {
      case (c, ws) if got(c) != ws => s"split words for '$c' differ"
    }
  }
}

/** Batch entries of the query library run through a `noop` write. The
  * warm-up pass writes each result as parquet instead, and the DuckDB oracle
  * of each entry checks it once per run, after the JVM exits. */
final class QueryWorkload(spark: SparkSession, data: String, work: Path, t: Tracer,
    val kinds: Seq[String], val passesPer10s: Int, streaming: Boolean) extends Workload {
  private val checkDir = work.resolve("check")
  /** Peak state rows and bytes over the traced streaming requests. */
  var statePeak = (0L, 0L)

  private def build(kind: String): DataFrame = kind match {
    case QueryWorkload.NearDupEdges => Dedup.nearDupEdges(spark, data)
    case name => SparkEntry.queries(name)(spark, data)
  }

  override def traceBegin(): Unit = if (streaming) StreamObserver.arm()

  override def traceEnd(): Unit = if (streaming) {
    val (rows, bytes) = StreamObserver.disarm()
    statePeak = (math.max(statePeak._1, rows), math.max(statePeak._2, bytes))
  }

  def warm(kind: String, id: Int): Unit =
    build(kind).write.mode("overwrite").parquet(checkDir.resolve(kind).toString)

  def run(kind: String, id: Int): Unit = {
    val df = t.span("operators", kind)(build(kind))
    t.span("exec", "noop write")(df.write.format("noop").mode("overwrite").save())
  }

  override def between(): Unit = spark.catalog.clearCache()

  /** The oracle SQL per entry, for the DuckDB check that runs after the
    * JVM exits; the check itself reports its failures. */
  def check(): Seq[String] = {
    val oracles = kinds.map(k => k -> QueryWorkload.oracle(k))
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}"))
    Nil
  }
}

object QueryWorkload {
  val NearDupEdges = "dedup_near_dup_edges"

  /** The batch mix: the unmemoized near-duplicate edge build and three
    * library entries, one each for ANN, relational and text. None of them
    * reads a `Dedup.*Shared` memo, which would make a repeat request free. */
  val Mix = Seq(NearDupEdges, "ann_topk_ivf_kmeans", "rel_salted_join", "text_bpe_vocab")

  /** Four of the library's streaming entries: a watermarked window, a
    * stream-stream interval join, streaming dedup, and IVF probes of a
    * static index. */
  val Streams = Seq("events_windowed_stream", "events_range_join_stream",
    "events_dedup_stream", "ann_ingest_stream")

  /** `Dedup.nearDupEdges` has no oracle entry of its own: its oracle is the
    * exact-Jaccard edge CTE that the cluster oracle builds at
    * `Dedup.ClusterJaccardThreshold`, selected as the `(a, b)` edge list. */
  def oracle(kind: String): String =
    if (kind != NearDupEdges) SparkEntry.oracleSql(kind)
    else {
      val sql = DedupOracles.clusters
      val cut = sql.indexOf(",\nund AS (")
      require(cut > 0, "cluster oracle no longer has the edges CTE")
      sql.substring(0, cut) + "\nSELECT i AS a, j AS b FROM edges ORDER BY a, b"
    }
}

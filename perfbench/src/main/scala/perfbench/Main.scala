package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.perfbenchshim.Bus

import graft.Graft

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  /** A finite number with all its digits; a latency that never completed
    * (a failed request) reads 1e9 s. */
  def num(d: Double): String =
    if (d.isNaN) "0" else if (d.isInfinite) "1e9" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** One request of the timed window. `wallS` is infinite when it failed. */
final case class Sample(id: Int, kind: String, pass: Int, traced: Boolean, wallS: Double,
    error: Option[String])

object Loop {
  /** One closed-loop client: `passes` whole passes over `kinds`, each in a
    * seeded order. A request that throws is recorded as failed, with an
    * infinite latency, and stays in the run. Returns the samples and the
    * window's wall time. */
  def run(kinds: Seq[String], rng: Random, passes: Int, firstId: Int,
      tracedPass: Int => Boolean)(request: (String, Int, Boolean) => Unit)(
      between: () => Unit): (Seq[Sample], Double) = {
    val samples = ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    for (pass <- 0 until passes) {
      val traced = tracedPass(pass)
      rng.shuffle(kinds).foreach { kind =>
        val id = firstId + samples.size
        val s0 = System.nanoTime()
        val error =
          try { request(kind, id, traced); None }
          catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val wall = if (error.isEmpty) (System.nanoTime() - s0) / 1e9 else Double.PositiveInfinity
        samples += Sample(id, kind, pass, traced, wall, error.map(_.take(300)))
        between()
      }
    }
    (samples.toSeq, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of a few standard percentiles that has at least ten
    * samples beyond it (nearest rank), as (value, percentile, beyond).
    * Under 20 samples not even p50 has ten beyond it; then p50 is reported
    * with the samples it does have beyond it, rather than a maximum that
    * one outlier sets. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    val ranked = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).map { p =>
      val rank = math.max(1, math.ceil(p / 100 * n).toInt) // 1-based
      (s(rank - 1), p, n - rank)
    }
    ranked.find(_._3 >= 10).getOrElse(ranked.last)
  }
}

/** End-to-end accounting of one run. Every attempted request counts: one
  * that threw stays in `attempted`, adds to `failed`, sorts as an infinite
  * latency, and its time stays in the window `throughputRps` divides by. A
  * traced run's latencies come from its untraced passes only. */
final case class Outcome(attempted: Int, failed: Int, errorRate: Double, throughputRps: Double,
    p50: Double, tail: (Double, Double, Int), latencySamples: Int)

object Outcome {
  /** `untimed` requests ran outside the window (warm-up); `otherFailures`
    * are failed untimed requests and failed output checks. */
  def of(samples: Seq[Sample], windowS: Double, untimed: Int, otherFailures: Int): Outcome = {
    val untraced = samples.filterNot(_.traced)
    val lat = (if (untraced.nonEmpty) untraced else samples).map(_.wallS)
    val attempted = untimed + samples.size
    val failed = otherFailures + samples.count(_.error.nonEmpty)
    Outcome(attempted, failed, failed.toDouble / attempted,
      samples.count(_.error.isEmpty) / windowS, Stats.median(lat), Stats.tail(lat), lat.size)
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, data: String, out: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("data")).toAbsolutePath.toString,
      Paths.get(m("out")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val master = s"local[$cores]"
    val hostStart = Host.stamp()
    Files.createDirectories(a.work)
    val sessionT0 = System.nanoTime()
    val spark = Graft.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - sessionT0) / 1e9
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)

    val workload: Workload = a.workload match {
      case "wordlist_bigram" => new WordListWorkload(spark, a.work, a.seed, tracer)
      case "analytics_mix" =>
        new QueryWorkload(spark, a.data, a.work, tracer, QueryWorkload.Mix, 1, streaming = false)
      case "event_stream" =>
        new QueryWorkload(spark, a.data, a.work, tracer, QueryWorkload.Streams, 1,
          streaming = true)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.prepare()
    val generateS = workload match {
      case w: WordListWorkload => w.generateS
      case _ => 0.0
    }
    val rng = new Random(a.seed)

    // Warm-up: one untimed pass of every request type, which also keeps
    // what the correctness check reads.
    val warmT0 = System.nanoTime()
    val warmFailures = rng.shuffle(workload.kinds).zipWithIndex.flatMap { case (kind, i) =>
      val r = try { workload.warm(kind, i); None }
      catch { case e: Exception => Some(kind -> s"warm-up $kind: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      workload.between()
      r
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = sessionReadyS + generateS + warmS

    Bus.drain(spark.sparkContext)
    listener.synchronized(listener.batchTriggerMs.clear())
    // A traced run alternates untraced and traced passes, starting and
    // ending untraced, so the untraced latencies it compares the traced
    // ones with lie on both sides of them.
    val nominal = math.max(1, math.round(workload.passesPer10s * a.seconds / 10.0).toInt)
    val passes = if (a.trace) math.max(3, nominal | 1) else nominal
    val layers = new LayerAcc
    val (samples, windowS) = Loop.run(workload.kinds, rng, passes,
      workload.kinds.size, pass => a.trace && pass % 2 == 1) { (kind, id, traced) =>
      if (!traced) workload.run(kind, id)
      else {
        workload.traceBegin()
        listener.detail = true
        tracer.enabled = true
        try tracer.request(id, kind)(workload.run(kind, id))
        finally {
          tracer.enabled = false
          Bus.drain(spark.sparkContext)
          listener.detail = false
          workload.traceEnd()
          layers.add(id, tracer, listener.drain(), workload.sinkOutput(id))
        }
      }
    } { () => workload.between() }
    Bus.drain(spark.sparkContext)
    val batchMs = listener.synchronized(listener.batchTriggerMs.toSeq)

    val checkFailures = workload.check()
    val peakRssMb = Host.vmHwmKb / 1024.0
    spark.stop()

    val untracedFailures = warmFailures.map(_._2)
    val o = Outcome.of(samples, windowS, workload.kinds.size,
      untracedFailures.size + checkFailures.size)
    val (tailV, tailP, tailBeyond) = o.tail

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "latency_p50_s" -> (o.p50, "s"),
      "latency_tail_s" -> (tailV, "s"),
      "throughput_rps" -> (o.throughputRps, "req/s"))
    val perLayer =
      if (!a.trace) Nil
      else layers.metrics(sessionStartS, workload,
        Stats.median(samples.filter(_.traced).map(_.wallS)) / o.p50) :+
        ("streaming.batch_p50_ms" -> (Stats.median(batchMs.map(_.toDouble)), "ms")) :+
        ("jvm.peak_rss_mb" -> (peakRssMb, "MB"))
    def metricJson(ms: Seq[(String, (Double, String))]) =
      Json.obj(ms.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

    val hostEnd = Host.stamp()
    val artifact = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "seconds" -> a.seconds.toString,
      "master" -> Json.str(master),
      "host" -> Json.obj(Seq(
        "nproc" -> cores.toString,
        "mem_total_kb" -> Host.memTotalKb.toString,
        "load_avg_start" -> Json.str(hostStart),
        "load_avg_end" -> Json.str(hostEnd),
        "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
        "spark" -> Json.str(spark.version),
        "scala" -> Json.str(scala.util.Properties.versionNumberString))),
      "setup" -> Json.obj(Seq(
        "jvm_to_session_s" -> Json.num(sessionReadyS),
        "session_start_s" -> Json.num(sessionStartS),
        "generate_s_median_of_3" -> Json.num(generateS),
        "warm_up_s" -> Json.num(warmS))),
      "window_s" -> Json.num(windowS),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "tail" -> Json.obj(Seq("percentile" -> Json.num(tailP), "samples" -> o.latencySamples.toString,
        "beyond" -> tailBeyond.toString)),
      "error_rate" -> Json.num(o.errorRate),
      "micro_batches" -> batchMs.size.toString,
      "warm_failed_kinds" -> warmFailures.map(f => Json.str(f._1)).mkString("[", ", ", "]"),
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "failures" -> (untracedFailures ++ samples.flatMap(s => s.error.map(e => s"request ${s.id} ${s.kind}: $e")) ++
        checkFailures).map(Json.str).mkString("[", ", ", "]"),
      "samples" -> samples.map(s => Json.obj(Seq("id" -> s.id.toString, "kind" -> Json.str(s.kind),
        "pass" -> s.pass.toString, "traced" -> s.traced.toString, "wall_s" -> Json.num(s.wallS),
        "error" -> s.error.map(Json.str).getOrElse("null")))).mkString("[", ",\n", "]"),
      "metrics" -> metricJson(e2e),
      "per_layer" -> metricJson(perLayer),
      "layer_table" -> layers.tableJson))
    Files.createDirectories(a.out.getParent)
    Files.writeString(a.out, artifact + "\n")
    if (a.trace) Files.writeString(Paths.get(a.out.toString.stripSuffix(".json") + ".spans.json"),
      tracer.toJson)
  }
}

/** Host shape, read from /proc. */
object Host {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Exception => "" }
  private def kb(text: String, key: String): Long =
    text.linesIterator.find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  def stamp(): String = read("/proc/loadavg").trim
  def memTotalKb: Long = kb(read("/proc/meminfo"), "MemTotal:")
  def vmHwmKb: Long = kb(read("/proc/self/status"), "VmHWM:")
}

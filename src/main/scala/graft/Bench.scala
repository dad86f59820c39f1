package graft

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Output protocol: after EVERY query completes, the full cumulative
  * result line (`{"metric":"total",...}`) is re-printed to stdout. Each
  * line is a valid, complete bench artifact over the queries finished so
  * far, so a driver timeout/kill at any point still leaves the last
  * printed line as a usable partial result — the round can never again
  * lose all per-query numbers to an rc=124 (BENCH_r03 failure mode).
  * Consumers should take the LAST matching line.
  *
  * Pass policy (fixed; no prior file is read):
  *   - streaming-sink queries (`*_stream`): TWO timed passes, min.
  *     The FIRST streaming invocation in a JVM pays ~1.5-1.7 s of
  *     micro-batch-planner/state-store/sink JIT on top (measured r5:
  *     3.6 s vs 1.95 s steady for the dedup stream), so a single pass
  *     systematically overstates the first stream queries.
  *   - batch queries: one warmup pass (JIT + whole-stage-codegen
  *     compilation dominate cold runs) whose time is FOLDED into the
  *     min as a free extra sample, then a first timed pass. If the
  *     first timed pass exceeds [[SlowPassSec]], one more timed pass
  *     runs — min of 3 samples total ("slow-3pass"), which bounds the
  *     wall cost of slow queries. Fast queries run two more passes —
  *     min of 4 samples ("min-of-4").
  *   - a global wall budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default
  *     1500 s) degrades the policy to single-pass-no-warmup once
  *     exceeded, so the tail of the suite still produces numbers.
  * A failed pass reads −1; a cell whose passes all fail ships −1 and
  * is named in the `failed` array of both artifact lines (see
  * [[artifactLines]]), never counted in `total` or `queries_done`.
  * Per-query wall time goes to stderr as it happens, so any future
  * stall is attributable to a specific query.
  */
object Bench {
  private val SlowPassSec = 5.0
  /** Name-array cap in the compact stdout line (the full line is
    * uncapped; `failed_total` always carries the real count). */
  val CompactCap = 8

  /** Run-constant fields of every artifact line: host shape and
    * contamination telemetry, measured once at startup. */
  final case class Env(
      sfDir: String,
      fullArtifact: String,
      siblingJvms: Int,
      loadAvg: Double,
      cpus: Int,
      memTotalGb: Double,
      referenceCorpusWords: Option[Long])

  private def fmt(v: Double): String = // 4dp: 0.1 ms grain, keeps lines short
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  /** The (compact stdout line, full file line) pair over the cells
    * finished so far, in run order. A negative value is a failed cell:
    * it stays in the full line's `queries` map as −1, is named in
    * `failed` (capped at [[CompactCap]] names in the compact line), and
    * counts toward `failed_total` — never toward `total` or
    * `queries_done`, so a failure cannot make the suite look faster. */
  def artifactLines(results: collection.Map[String, Double],
      env: Env): (String, String) = {
    def cells(kv: Iterable[(String, Double)]): String =
      kv.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    def names(s: Iterable[String]): String =
      s.map(n => s""""$n"""").mkString("[", ",", "]")
    val ok = results.filter(_._2 >= 0)
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = ok.valuesIterator.sum
    def counts(cap: Int): String =
      s""""queries_done":${ok.size},"failed":${names(failed.take(cap))},""" +
        s""""failed_total":${failed.size}"""
    // omitted, not fabricated, when the corpus was unreadable (the two
    // reference cells then ship −1 and are named in `failed`)
    val corpusField = env.referenceCorpusWords
      .map(n => s""","reference_corpus_words":$n""").getOrElse("")
    val envFields =
      s""""sibling_jvms":${env.siblingJvms},"load_avg":${fmt(env.loadAvg)},""" +
        s""""cpus":${env.cpus},"mem_total_gb":${fmt(env.memTotalGb)}$corpusField"""
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${cells(results)},""" +
        s"""${counts(Int.MaxValue)},$envFields,"sf":"${env.sfDir}"}"""
    // stdout carries a COMPACT line (<2 KB) instead of the full one: the
    // driver keeps only a bounded TAIL of stdout, and the full cumulative
    // line (>7 KB at 258 queries) was front-truncated past parseability
    // three rounds running (BENCH_r8-r10 `parsed: null`). Totals +
    // worst-10 + the reference's headline pipeline always fit; the full
    // per-query map lives in the file named by `full_artifact`.
    val worst = ok.toSeq.sortBy(-_._2).take(10)
    val headliners = Seq("bigram_probs", "bigram_probs_onlyone",
      "bigram_counts", "trigram_counts", "word_topk")
      .flatMap(n => results.get(n).map(n -> _))
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${cells((worst ++ headliners).distinct)},""" +
        s"""${counts(CompactCap)},$envFields,"full_artifact":"${env.fullArtifact}","sf":"${env.sfDir}"}"""
    (compact, full)
  }

  /** MemTotal from /proc/meminfo in GiB, or −1 where unreadable. */
  private def memTotalGb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toDouble / (1024 * 1024)).getOrElse(-1.0)
    finally src.close()
  } catch { case _: Exception => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500").toDouble
    val spark = Graft.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the take-the-last-line artifact protocol must
    // survive a driver TIMEOUT KILL, where the capture is cut at an
    // arbitrary point. At WARN, Spark logs steadily DURING queries
    // ("Broadcasting large task binary" fires per stage), so a mid-query
    // cut leaves a WARN line after the last compact JSON line — measured
    // r12: a SIGTERM at query 19 left ten of them trailing and strict
    // last-line extraction failed. At ERROR the only steady-state output
    // is the per-query stderr progress line followed by the stdout JSON
    // line, so any cut point leaves a JSON line last (the shutdown-hook
    // re-print cannot be relied on under a timeout: killing sbt does
    // NOT kill this forked JVM — measured r12, it ORPHANS with a broken
    // stdout pipe and keeps running, so no hook fires at the cut point;
    // see the shutdown-hook block below).
    spark.sparkContext.setLogLevel("ERROR")

    // Same-data baseline rows (VERDICT r14 item 4): the bigram pipeline
    // over the ACTUAL reference corpus /root/reference/354984si.ngl —
    // the exact 3.5 MB file behind every BASELINE.md number (6.238 s
    // `main`, 7.379 s `onlyOne` on the reference's best single-box
    // config, timings.txt:1-17). The standing sf0.1 comparison carried
    // an honest caveat (the sf0.1 documents corpus is ~6x smaller);
    // these cells retire it with a direct apples-to-apples wall time.
    // Bench-only, like the shared_* rows: no oracle entry, no new query
    // (the VALUES are already golden-pinned by ReferenceCorpusSpec) —
    // only a timing over the same bytes the reference timed.
    val refCorpus = sys.env.getOrElse(
      "SPARK_GRAFT_REFERENCE_CORPUS", "/root/reference/354984si.ngl")
    def refWords() =
      sources.WordListSource.read(spark, refCorpus, referenceQuirk = true)
    val benchOnly: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "bigram_reference_corpus" -> (() =>
        operators.TextPipeline.bigramProbabilitiesFromWords(refWords())),
      "bigram_reference_corpus_onlyone" -> (() =>
        operators.TextPipeline.onlyOneProbabilitiesFromWords(refWords())))
    // Corpus-swap pin (VERDICT r15 item 3): the two rows above are a
    // same-data baseline only if they actually read the 354,984-line
    // file — an env override to a tiny fixture would silently ship a
    // flattering number. The artifact therefore carries the corpus's
    // own word count as `reference_corpus_words` next to the cells
    // (ReferenceCorpusSpec pins the same count against the same env
    // default).
    val refCorpusWords: Option[Long] =
      try Some(refWords().count())
      catch {
        case e: Exception =>
          System.err.println(
            s"[bench] reference corpus $refCorpus unreadable: ${e.getMessage}")
          None
      }

    def runOnce(name: String): Double = {
      // operators may persist shared subtrees within a query; drop those
      // caches so every timed run recomputes from the source. EXCEPTION:
      // Dedup's sharedEdges memo (localCheckpoint, not SQL cache)
      // survives deliberately — clustering/propagation timed passes
      // measure CONSUMER cost over the once-materialized graph, the
      // documented shared-intermediate design (SCALE.md)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try benchOnly.get(name).map(_())
        .getOrElse(SparkEntry.queries(name)(spark, sfDir))
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    val streaming = names.filter(_.endsWith("_stream")).toSet
    val benchStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchStart) / 1e9

    // --- environment-contamination telemetry (VERDICT r12 item 2) ----
    // Two measured contamination modes move timings without touching
    // code: an ORPHANED sibling JVM from a killed sbt run (74/258
    // queries 1.3-1.9x high, uniformly) and general host load. The
    // artifact itself records both at startup, next to the host shape.
    // A sibling is any OTHER java process whose command line mentions
    // this repo's code ("graft" — the forked classpath and the sbt
    // runMain args both carry it), excluding this process and its
    // ancestor chain (the parent sbt's own args say "graft.Bench").
    val siblingJvms: Int = try {
      val self = ProcessHandle.current()
      val ancestors = Iterator.iterate(Option(self))(
        _.flatMap(h => Option(h.parent().orElse(null))))
        .takeWhile(_.isDefined).take(16).flatten.map(_.pid()).toSet
      import scala.jdk.CollectionConverters._
      ProcessHandle.allProcesses().iterator().asScala.count { h =>
        !ancestors.contains(h.pid()) && {
          val info = h.info()
          val cmd = info.command().orElse("")
          val line = cmd + " " +
            info.arguments().orElse(Array.empty[String]).mkString(" ")
          cmd.contains("java") && line.contains("graft")
        }
      }
    } catch { case _: Exception => -1 }
    val loadAvg: Double = try
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Exception => -1.0 }
    if (siblingJvms > 0)
      System.err.println(s"[bench] WARNING: $siblingJvms sibling graft " +
        s"JVM(s) detected at startup (load_avg=$loadAvg) - timings may " +
        "be contention-contaminated")

    // Whole-suite codegen/JIT pre-warm at a tiny sf (r8, VERDICT r7 item
    // 2): queries whose FIRST sf0.1 executions still carried Janino
    // compilation + C2 warmup + code-cache churn from neighbors read
    // >2× their steady state. One untimed sweep at sf0.001 compiles
    // every query's generated classes up front (~100-150 s against the
    // 1500 s budget), so the timed loop starts JIT-hot for the whole
    // suite, not just the query at hand. Disable with
    // SPARK_GRAFT_BENCH_WARM_DIR="" (and it auto-skips once the sweep
    // has eaten a quarter of the budget).
    val warmDir =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty) {
      val t0 = System.nanoTime()
      val warmCap = budgetSec / 4
      // Parallel: a serial sweep measured >360 s cold (each query pays
      // its own Janino compile + planner warmup serially on the driver
      // thread) — compilation is per-thread work, so a pool overlaps it,
      // sized to the run's cores (at most 8). Streaming sinks are
      // excluded: their cost is micro-batch engine overhead, not
      // codegen, and their own 2-pass policy already absorbs the
      // first-stream tax. No clearCache() inside the sweep (racy across
      // threads); one clear at the end.
      val pool =
        java.util.concurrent.Executors.newFixedThreadPool(math.min(8, cpus))
      val warmed = new java.util.concurrent.atomic.AtomicInteger
      val batch = names.filterNot(streaming)
      for (name <- batch) pool.execute { () =>
        if (elapsed < warmCap) {
          try {
            SparkEntry.queries(name)(spark, warmDir)
              .write.format("noop").mode("overwrite").save()
            warmed.incrementAndGet()
          } catch { case _: Throwable => () }
        }
      }
      pool.shutdown()
      val drained = pool.awaitTermination(
        warmCap.toLong + 60, java.util.concurrent.TimeUnit.SECONDS)
      if (!drained) {
        // stragglers past the cap must not overlap the timed loop (CPU
        // contention + clearCache() racing their cache writes — ADVICE
        // r8): interrupt them (Spark jobs are interruptible) and wait
        // out the unwind before timing starts
        System.err.println("[bench] pre-warm stragglers at cap; interrupting")
        pool.shutdownNow()
        if (!pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS))
          System.err.println(
            "[bench] WARNING: pre-warm stragglers still running; timed " +
              "passes may be contaminated")
      }
      spark.catalog.clearCache()
      System.err.println(
        f"[bench] pre-warm sweep at $warmDir: ${warmed.get}/${batch.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Self-contained artifact (VERDICT r4 item 3): the driver's log
    // capture keeps only a tail, which front-truncates the (>2000 char)
    // final cumulative line — so the full line is also rewritten to a
    // file after every query: always one complete, parseable JSON
    // object regardless of how the stdout capture was sliced, and
    // timeout-proof (any prefix of the run leaves the last
    // fully-written file state).
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LIVE.json"))
    val env = Env(sfDir, outFile.getFileName.toString, siblingJvms, loadAvg,
      Runtime.getRuntime.availableProcessors, memTotalGb(), refCorpusWords)
    // The LAST stdout line of the whole process must be the compact
    // JSON artifact line (the consumer's take-the-last-line protocol;
    // see build.sbt's outputStrategy/showSuccess notes). A shutdown
    // hook re-prints it at JVM exit — after Spark's own stop banners
    // and after any post-loop output — and mirrors it to stderr as a
    // second survival channel for captures that interleave the two
    // streams. Registered through HADOOP's ShutdownHookManager at
    // priority 1, NOT Runtime.addShutdownHook: raw JVM hooks run
    // CONCURRENTLY, so Spark's teardown logging could land after the
    // re-printed line; Hadoop runs its hooks sequentially in
    // descending priority, and all of Spark's shutdown is one hook at
    // priority 30, so priority 1 prints strictly after it. NOTE this
    // covers NORMAL exits only. Measured r12: under a driver-style
    // timeout (SIGTERM to sbt) the forked JVM is not killed at all —
    // it ORPHANS with a broken stdout pipe and keeps running — so no
    // hook fires and the capture is cut at an arbitrary line. The
    // timeout guarantee comes instead from the quiet steady-state
    // output contract at the setLogLevel("ERROR") call above: between
    // per-query JSON lines nothing else prints, so any cut point
    // leaves a complete JSON line last (verified by SIGTERMing sbt
    // mid-suite: the 53-query partial artifact strict-parsed).
    val lastCompact =
      new java.util.concurrent.atomic.AtomicReference[String](null)
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        override def run(): Unit = {
          val c = lastCompact.get()
          if (c != null) {
            println(c); Console.out.flush()
            System.err.println(c); System.err.flush()
          }
        }
      }, 1)
    def emit(): Unit = {
      val (compact, line) = artifactLines(results, env)
      lastCompact.set(compact)
      println(compact)
      Console.out.flush()
      // atomic replace (write temp + move) so a kill mid-write can never
      // leave a truncated artifact, and guarded so an unwritable cwd
      // degrades to the stdout protocol instead of aborting the suite
      try {
        val tmp = outFile.resolveSibling(outFile.getFileName.toString + ".tmp")
        java.nio.file.Files.writeString(tmp, line + "\n")
        java.nio.file.Files.move(tmp, outFile,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
          // the stdout line is COMPACT (worst-10 + headliners only), so an
          // unwritable cwd would otherwise lose the full per-query map
          // entirely (ADVICE r11) — fall back to printing the full line
          println(line)
          Console.out.flush()
      }
    }

    // Pre-materialize the shared edge graphs before any timed pass, and
    // ship each build as its OWN artifact line (`shared_*`, the Scaling
    // naming — VERDICT r8 item 3): consumers then measure CONSUMER cost
    // over the memoized graph, and a slow build shows up attributed to
    // the build line instead of smearing onto whichever consumer runs
    // first (the r8 `dedup_report` 2.5x drift class). One-shot by
    // nature (the memo makes a second pass free), but the sf0.001
    // pre-warm sweep above has already compiled the codegen for these
    // pipelines, so the single sample is JIT-warm.
    for ((kind, build) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "shared_prefix_edges" -> (() => operators.Dedup.nearDupEdgesShared(spark, sfDir)),
        "shared_minhash_edges" -> (() => operators.Dedup.minhashEdgesShared(spark, sfDir)),
        "shared_embedding_edges" -> (() => operators.Dedup.embeddingEdgesShared(spark, sfDir)),
        "shared_truth_pairs" -> (() => operators.Dedup.truthPairsShared(spark, sfDir)))) {
      val t0 = System.nanoTime()
      val sec = try { build(); (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $kind build failed: ${e.getMessage}")
            -1.0
        }
      results(kind) = sec
      System.err.println(f"[bench] $kind%-34s best=$sec%8.3f s  (shared-build)")
      spark.catalog.clearCache()
      emit()
    }

    // benchOnly rows run through the identical pass policy; they are
    // appended after the SparkEntry names (and excluded from the sf0.001
    // pre-warm above — they read the fixed reference corpus, so a
    // warm-dir pass would be meaningless; their warmup pass in the batch
    // policy covers JIT)
    for (name <- names ++ benchOnly.keys.toSeq.sorted) {
      val qStart = elapsed
      // mode is recorded in the branch actually executed, not re-derived
      // from the resulting min (ADVICE r5: a slow-branch run whose min
      // ended below the threshold was mislabeled)
      val (best, mode) =
        if (qStart > budgetSec) (runOnce(name), "budget-1pass")
        else if (streaming(name)) {
          val first = runOnce(name)
          val b = if (first < 0) first
            else Seq(first, runOnce(name)).filter(_ >= 0).min
          (b, "stream-2pass")
        } else {
          // the warmup is a fully-timed pass over cleared caches — folding
          // it into the min is a free extra sample (a deopt storm can
          // contaminate EVERY post-warmup pass of one query: measured r5,
          // ann_topk_lsh min-of-3 read 15.2 s vs 0.35 s steady). min()
          // with a JIT-cold pass can only improve.
          val warm = runOnce(name)
          val first = runOnce(name)
          if (first < 0) (first, "failed")
          else if (first > SlowPassSec)
            (Seq(warm, first, runOnce(name)).filter(_ >= 0).min, "slow-3pass")
          else
            (Seq(warm, first, runOnce(name), runOnce(name)).filter(_ >= 0).min,
              "min-of-4")
        }
      results(name) = best
      System.err.println(
        f"[bench] $name%-34s best=$best%8.3f s  wall=${elapsed - qStart}%8.3f s  elapsed=$elapsed%8.1f s  ($mode)")
      emit()
    }
    spark.stop()
  }
}

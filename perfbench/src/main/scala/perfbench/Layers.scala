package perfbench

import scala.collection.mutable

/** Per-layer accounting over the traced requests. For each request it
  * places the engine-reported intervals (micro-batches, planning phases)
  * into the request's span tree, then sums self times by layer and the
  * listener's job, stage and task metrics. Metrics are means per traced
  * request unless named a peak or a ratio. */
final class LayerAcc {
  val Layers = Seq("sources", "operators", "plans", "exec", "streaming", "sink")
  private val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val selfSums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val stragglers = mutable.ArrayBuffer.empty[Double]
  private var requests = 0
  private var peakMem = 0L
  private var launched = 0L
  private var failedTasks = 0L

  private def add(k: String, v: Double): Unit = sums(k) += v

  def add(id: Int, t: Tracer, engine: EngineEvents, sink: (Long, Long)): Unit = {
    val EngineEvents(tasks, jobs, completed, batches, phases, exchanges) = engine
    requests += 1
    batches.foreach { b =>
      val trig = b.durations.getOrElse("triggerExecution", 0L)
      t.place(id, "streaming", "micro-batch", b.startMs * 1000, (b.startMs + trig) * 1000)
    }
    phases.foreach { case (s, e) => t.place(id, "plans", "planning", s * 1000, e * 1000) }

    val mine = t.spans.filter(_.request == id)
    val root = mine.find(_.layer == "request").get
    val wallS = root.durUs / 1e6
    add("request.wall_s", wallS)
    t.selfTimes(id).foreach { case (layer, us) => selfSums(layer) += us / 1e6 }
    // inclusive time of each layer's outermost spans
    val byId = mine.map(s => s.id -> s).toMap
    def inclusive(layer: String): Double = mine.filter { s =>
      s.layer == layer && !byId.get(s.parent).exists(_.layer == layer)
    }.map(_.durUs).sum / 1e6
    add("sources.read_s", inclusive("sources"))
    add("operators.build_s", inclusive("operators"))
    add("plans.plan_s", inclusive("plans"))
    add("sink.write_s", inclusive("sink"))

    val ops = mine.filter(_.layer == "operators")
    add("operators.build_jobs", jobs.count(j =>
      ops.exists(s => s.startUs <= j.startMs * 1000 && j.startMs * 1000 < s.endUs)).toDouble)
    add("plans.exchanges", exchanges.toDouble)

    val stageIds = jobs.flatMap(_.stageIds).toSet
    add("exec.jobs", jobs.size.toDouble)
    add("exec.stages", (stageIds & completed).size.toDouble)
    add("exec.stages_skipped", (stageIds -- completed).size.toDouble)
    add("exec.tasks", tasks.size.toDouble)
    add("exec.run_s", unionMs(tasks.map(x => (x.launchMs, x.finishMs))) / 1e3)
    val taskS = tasks.map(x => x.finishMs - x.launchMs).sum / 1e3
    add("exec.task_s", taskS)
    add("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9)
    add("exec.gc_s", tasks.map(_.gcMs).sum / 1e3)
    add("exec.parallelism", if (wallS > 0) taskS / wallS else 0.0)
    add("exec.shuffle_write_bytes", tasks.map(_.shWrite).sum.toDouble)
    add("exec.shuffle_read_bytes", tasks.map(_.shRead).sum.toDouble)
    add("exec.spill_bytes", tasks.map(_.spill).sum.toDouble)
    add("sources.input_bytes", tasks.map(_.inBytes).sum.toDouble)
    add("sources.input_rows", tasks.map(_.inRows).sum.toDouble)
    add("sources.scan_tasks", tasks.count(_.inBytes > 0).toDouble)
    peakMem = math.max(peakMem, if (tasks.isEmpty) 0L else tasks.map(_.peakMem).max)
    launched += tasks.size
    failedTasks += tasks.count(x => x.failed || x.killed)
    val worst = tasks.groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(x => (x.finishMs - x.launchMs).toDouble)
      val med = Stats.median(d)
      if (med > 0) d.max / med else 1.0
    }
    if (worst.nonEmpty) stragglers += worst.max

    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    add("streaming.batches", batches.size.toDouble)
    add("streaming.trigger_ms", dur("triggerExecution"))
    add("streaming.add_batch_ms", dur("addBatch"))
    add("streaming.query_planning_ms", dur("queryPlanning"))
    add("streaming.wal_commit_ms", dur("walCommit"))
    add("streaming.commit_offsets_ms", dur("commitOffsets"))
    add("streaming.latest_offset_ms", dur("latestOffset"))
    add("streaming.get_batch_ms", dur("getBatch"))
    if (batches.nonEmpty)
      add("streaming.overhead_ms", inclusive("operators") * 1e3 - dur("triggerExecution"))
    add("sink.files_written", sink._1.toDouble)
    add("sink.bytes_written", sink._2.toDouble)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 >= i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total + (curE - curS) else total
  }

  private def mean(k: String) = if (requests == 0) 0.0 else sums(k) / requests
  private def meanSelf(layer: String) = if (requests == 0) 0.0 else selfSums(layer) / requests

  /** The per-layer metrics, named as in BENCHMARK.json. */
  def metrics(sessionStartS: Double, w: Workload, overheadRatio: Double): Seq[(String, (Double, String))] = {
    val (stateRows, stateBytes) = w match {
      case q: QueryWorkload => q.statePeak
      case _ => (0L, 0L)
    }
    def m(k: String, unit: String) = k -> (mean(k), unit)
    Seq(
      "session.start_s" -> (sessionStartS, "s"),
      m("request.wall_s", "s")) ++
      (Layers.map(l => s"$l.self_s" -> (meanSelf(l), "s")) :+
        ("request.unattributed_s" -> (meanSelf("unattributed"), "s"))) ++ Seq(
      m("sources.read_s", "s"), m("sources.input_bytes", "B"), m("sources.input_rows", "rows"),
      m("sources.scan_tasks", "count"),
      m("operators.build_s", "s"), m("operators.build_jobs", "count"),
      m("plans.plan_s", "s"), m("plans.exchanges", "count"),
      m("exec.run_s", "s"), m("exec.jobs", "count"), m("exec.stages", "count"),
      m("exec.stages_skipped", "count"), m("exec.tasks", "count"),
      m("exec.task_s", "s"), m("exec.task_cpu_s", "s"), m("exec.gc_s", "s"),
      m("exec.parallelism", "cores"),
      "exec.straggler_ratio" -> (if (stragglers.isEmpty) 1.0 else Stats.median(stragglers.toSeq), "ratio"),
      m("exec.shuffle_write_bytes", "B"), m("exec.shuffle_read_bytes", "B"), m("exec.spill_bytes", "B"),
      "exec.peak_exec_mem_bytes" -> (peakMem.toDouble, "B"),
      "exec.task_fail_ratio" -> (if (launched == 0) 0.0 else failedTasks.toDouble / launched, "ratio"),
      m("streaming.batches", "count"), m("streaming.trigger_ms", "ms"), m("streaming.add_batch_ms", "ms"),
      m("streaming.query_planning_ms", "ms"), m("streaming.wal_commit_ms", "ms"),
      m("streaming.commit_offsets_ms", "ms"), m("streaming.latest_offset_ms", "ms"),
      m("streaming.get_batch_ms", "ms"), m("streaming.overhead_ms", "ms"),
      "streaming.state_rows_peak" -> (stateRows.toDouble, "rows"),
      "streaming.state_bytes_peak" -> (stateBytes.toDouble, "B"),
      m("sink.write_s", "s"), m("sink.files_written", "count"), m("sink.bytes_written", "B"),
      "trace.overhead_ratio" -> (overheadRatio, "ratio"))
  }

  /** Mean self time per traced request by layer, with its share of the
    * request's wall time; the rows sum to the wall time. */
  def tableJson: String = {
    val wall = mean("request.wall_s")
    (Layers :+ "unattributed").map { l =>
      val s = meanSelf(l)
      Json.obj(Seq("layer" -> Json.str(l), "self_s" -> Json.num(s),
        "share" -> Json.num(if (wall > 0) s / wall else 0.0)))
    }.mkString("[", ", ", "]")
  }
}

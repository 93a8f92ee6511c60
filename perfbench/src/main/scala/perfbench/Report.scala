package perfbench

import PerfBench.{GateRun, PassRun, median}

/** Turns the timed gate runs and the recorded spans into the result
  * record: end-to-end metrics always, per-layer metrics in traced runs.
  * Per-pass sums are reported as their median over the run's passes. */
object Report {

  /** Micro-batch `durationMs` parts, in the order MicroBatchExecution
    * runs them inside one trigger. */
  val batchParts: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Sweep priority: an instant belongs to the innermost layer covering it. */
  private def priority(layer: String): Int = layer match {
    case l if l.startsWith("catalyst.") => 6
    case "exec.job" => 5
    case l if l.startsWith("streaming.part.") => 4
    case "streaming.batch" => 3
    case "queries.build" | "exec.write" => 2
    case _ => 1
  }

  /** Finds the timed gate whose interval holds an instant: listener spans
    * belong to the gate that was active when they started. Spans of set-up
    * and of the untimed check pass belong to none. */
  private final class GateIndex(spans: Seq[Span]) {
    val gates: Seq[Span] = spans.filter(_.layer == "gate").sortBy(_.startUs)
    def of(t: Long): Option[Span] =
      gates.findLast(_.startUs <= t).filter(t <= _.endUs)
  }

  /** The spans as JSON lines; `parent` names the gate a span was attributed to. */
  def spanLines(spans: Seq[Span]): Seq[String] = {
    val idx = new GateIndex(spans)
    spans.sortBy(_.startUs).map { s =>
      val parent = s.layer match {
        case "pass" => None
        case "gate" => Some("pass")
        case _ => idx.of(s.startUs).map(g => s"gate ${g.name}")
      }
      Json.obj(Seq("layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString) ++
        parent.map(p => "parent" -> Json.str(p)).toSeq ++
        (if (s.attrs.isEmpty) Seq.empty
         else Seq("attrs" -> Json.obj(s.attrs.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }))))
    }
  }

  def build(runs: Seq[GateRun], passes: Seq[PassRun], spans: Seq[Span],
      setupS: Double, checkS: Double, windowS: Double, cores: Int,
      traced: Boolean): Seq[(String, String)] = {
    val idx = new GateIndex(spans)
    val attributed = spans.filterNot(s => Set("gate", "pass")(s.layer))
      .flatMap(s => idx.of(s.startUs).map(_ -> s))
    def inPass(p: PassRun)(g: Span) = g.startUs >= p.startUs && g.startUs <= p.endUs

    val ok = runs.filter(_.error.isEmpty)
    val gateTimes = ok.map(_.totalS)
    val batches = attributed.map(_._2).filter(_.layer == "streaming.batch")
    val batchMs = batches.map(_.durUs / 1000.0)
    val trigMs = batchMs.sum
    val inRows = batches.map(_.attrs.getOrElse("input_rows", 0.0)).sum
    val (gp, gpPct) = highPercentile(gateTimes, 90)
    val (b50, _) = highPercentile(batchMs, 50)
    val (b90, b90Pct) = highPercentile(batchMs, 90)

    val e2e = Seq(
      "setup_s" -> setupS,
      "pass_s" -> median(passes.map(_.wallS)),
      "pass_cpu_s" -> median(passes.map(p => runs.filter(_.pass == p.index).map(_.cpuS).sum)),
      "gate_geomean_s" -> geomean(gateTimes),
      "gate_p90_s" -> gp,
      "stream_batch_p50_ms" -> b50,
      "stream_batch_p90_ms" -> b90,
      "stream_rows_per_s" -> (if (trigMs > 0) inRows / (trigMs / 1000.0) else 0.0),
      "storage_mb_left" -> median(passes.map(_.storageMbLeft)),
      "tmp_mb_left" -> median(passes.map(_.tmpMbLeft)))

    val layers =
      if (!traced) Seq.empty
      else {
        val perPassLayers = passes.map(p =>
          layerMetrics(attributed.collect { case (g, s) if inPass(p)(g) => s },
            runs.filter(_.pass == p.index), p, cores, idx.gates.filter(inPass(p))))
        val names = perPassLayers.headOption.map(_.map(_._1)).getOrElse(Seq.empty)
        names.map(n => n -> median(perPassLayers.map(_.toMap.apply(n))))
      }

    def obj(xs: Seq[(String, Double)]) = Json.obj(xs.map { case (k, v) => k -> Json.num(v) })
    Seq(
      "end_to_end" -> obj(e2e),
      "per_layer" -> obj(layers),
      "samples" -> obj(Seq(
        "passes" -> passes.size.toDouble,
        "window_s" -> windowS,
        "check_pass_s" -> checkS,
        "gate_runs" -> gateTimes.size.toDouble,
        "gate_p90_percentile" -> gpPct,
        "stream_batches" -> batchMs.size.toDouble,
        "stream_batch_p90_percentile" -> b90Pct)),
      "passes" -> Json.arr(passes.map(p => Json.obj(Seq(
        "wall_s" -> Json.num(p.wallS),
        "gc_s" -> Json.num(p.gcS),
        "jit_cpu_s" -> Json.num(p.jitCpuS),
        "gc_cpu_s" -> Json.num(p.gcCpuS),
        "heap_peak_mb" -> Json.num(p.heapPeakMb),
        "storage_mb_left" -> Json.num(p.storageMbLeft),
        "tmp_mb_left" -> Json.num(p.tmpMbLeft),
        "tmp_dirs_left" -> Json.obj(p.tmpLeft.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }))))),
      "gates" -> Json.arr(runs.map(r => Json.obj(Seq(
        "pass" -> Json.num(r.pass),
        "gate" -> Json.str(r.gate),
        "build_s" -> Json.num(r.buildS),
        "write_s" -> Json.num(r.writeS),
        "total_s" -> Json.num(r.totalS),
        "cpu_s" -> Json.num(r.cpuS)) ++
        r.error.map(e => "error" -> Json.str(e)).toSeq))))
  }

  /** Per-layer sums for one pass, from the spans attributed to its gates. */
  private def layerMetrics(spans: Seq[Span], runs: Seq[GateRun], pass: PassRun, cores: Int,
      gates: Seq[Span]): Seq[(String, Double)] = {
    def of(layer: String) = spans.filter(_.layer == layer)
    def attr(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    val wall = pass.wallS
    val build = runs.map(_.buildS).sum
    val tasks = of("exec.task")
    val batches = of("streaming.batch")
    val dataBatches = batches.count(_.attrs.getOrElse("input_rows", 0.0) > 0)
    val blocks = of("cache.block")
    val mb = 1048576.0
    def phaseMs(p: String) = of(s"catalyst.$p").map(_.durUs / 1000.0).sum
    def batchS(part: String) = attr(batches, s"ms.$part") / 1000.0
    val self = selfTimes(spans, gates)
    val selfCatalyst = self.collect { case (k, v) if k.startsWith("catalyst.") => v }.sum
    val selfStreaming = self.collect { case (k, v) if k.startsWith("streaming.") => v }.sum
    val covered = self.values.sum - self.getOrElse("gate", 0.0)
    Seq(
      "queries.build_s" -> build,
      "queries.build_share" -> (if (wall > 0) build / wall else 0.0),
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "catalyst.plans" -> of("catalyst.plan").size.toDouble,
      "exec.write_s" -> runs.map(_.writeS).sum,
      "exec.jobs" -> of("exec.job").size.toDouble,
      "exec.stages" -> of("exec.stage").size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_run_s" -> attr(tasks, "run_ms") / 1000.0,
      "exec.task_cpu_s" -> attr(tasks, "cpu_ns") / 1e9,
      "exec.sched_delay_s" -> attr(tasks, "sched_ms") / 1000.0,
      "exec.core_util" -> (if (wall > 0) attr(tasks, "run_ms") / 1000.0 / (cores * wall) else 0.0),
      "shuffle.write_mb" -> attr(tasks, "shuffle_write_b") / mb,
      "shuffle.read_mb" -> attr(tasks, "shuffle_read_b") / mb,
      "shuffle.fetch_wait_s" -> attr(tasks, "fetch_wait_ms") / 1000.0,
      "shuffle.spill_mb" -> attr(tasks, "spill_b") / mb,
      "scan.rows" -> attr(tasks, "scan_rows"),
      "scan.mb" -> attr(tasks, "scan_b") / mb,
      "streaming.queries" -> of("streaming.query").size.toDouble,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.data_batch_ratio" ->
        (if (batches.nonEmpty) dataBatches.toDouble / batches.size else 0.0),
      "streaming.planning_s" -> batchS("queryPlanning"),
      "streaming.addbatch_s" -> batchS("addBatch"),
      "streaming.walcommit_s" -> batchS("walCommit"),
      "streaming.commitoffsets_s" -> batchS("commitOffsets"),
      "streaming.latestoffset_s" -> batchS("latestOffset"),
      "streaming.input_rows" -> attr(batches, "input_rows"),
      "streaming.late_dropped_rows" -> attr(batches, "late_dropped_rows"),
      "state.instances" -> attr(batches, "state.instances"),
      "state.commit_s" -> attr(batches, "state.commit_ms") / 1000.0,
      "state.update_s" -> attr(batches, "state.update_ms") / 1000.0,
      "state.removal_s" -> attr(batches, "state.removal_ms") / 1000.0,
      "state.rows" -> attr(batches, "state.rows"),
      "state.mb" -> attr(batches, "state.bytes") / mb,
      "cache.blocks_put" -> attr(blocks, "put"),
      "cache.storage_mb_peak" ->
        (if (blocks.isEmpty) 0.0 else blocks.map(_.attrs.getOrElse("live_bytes", 0.0)).max / mb),
      "jvm.gc_s" -> pass.gcS,
      "jvm.jit_cpu_s" -> pass.jitCpuS,
      "jvm.gc_cpu_s" -> pass.gcCpuS,
      "jvm.heap_peak_mb" -> pass.heapPeakMb,
      "self.queries_s" -> self.getOrElse("queries.build", 0.0),
      "self.catalyst_s" -> selfCatalyst,
      "self.exec_job_s" -> self.getOrElse("exec.job", 0.0),
      "self.exec_write_s" -> self.getOrElse("exec.write", 0.0),
      "self.streaming_s" -> selfStreaming,
      "self.harness_s" -> (wall - gates.map(_.durUs / 1e6).sum),
      "trace.pass_s" -> wall,
      "trace.coverage" -> (if (wall > 0) covered / wall else 0.0))
  }

  /** Self time per layer over the given gates: each instant of a gate goes
    * to the innermost span covering it ([[priority]]). A micro-batch's
    * `durationMs` parts are laid out in execution order from its start;
    * whatever the parts leave of the trigger stays `streaming.batch`. */
  def selfTimes(spans: Seq[Span], gates: Seq[Span]): Map[String, Double] = {
    val expanded = spans.flatMap {
      case b if b.layer == "streaming.batch" =>
        var t = b.startUs
        b +: batchParts.flatMap { part =>
          val d = (b.attrs.getOrElse(s"ms.$part", 0.0) * 1000).toLong
          val s = Span(s"streaming.part.$part", part, t, math.min(t + d, b.endUs))
          t += d
          if (d > 0) Some(s) else None
        }
      case s if s.durUs > 0 && priority(s.layer) > 1 => Seq(s)
      case _ => Seq.empty
    }
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    gates.foreach { g =>
      val inside = (g +: expanded.filter(s => s.endUs > g.startUs && s.startUs < g.endUs))
        .map(s => s.copy(startUs = math.max(s.startUs, g.startUs), endUs = math.min(s.endUs, g.endUs)))
        .sortBy(s => (priority(s.layer), s.startUs))
      val cuts = inside.flatMap(s => Seq(s.startUs, s.endUs)).distinct.sorted
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        // `inside` is sorted by priority, so the last covering span wins
        val owner = inside.lastIndexWhere(s => s.startUs <= a && s.endUs >= b)
        if (owner >= 0) acc(inside(owner).layer) += (b - a) / 1e6
      }
    }
    acc.toMap
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  /** The `want`th percentile when at least ten samples lie above it;
    * otherwise the highest percentile that has ten above it (the median
    * when even that is lower). Returns the value and the percentile used. */
  def highPercentile(xs: Seq[Double], want: Double): (Double, Double) =
    if (xs.isEmpty) (0.0, want)
    else {
      val n = xs.size
      val pct = math.max(math.min(want, 100.0 * (1 - 10.0 / n)), math.min(want, 50.0))
      val s = xs.sorted
      val pos = pct / 100.0 * (n - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, n - 1)
      (s(lo) + (s(hi) - s(lo)) * (pos - lo), pct)
    }
}

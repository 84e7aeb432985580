package perfbench

/** The pipeline's streaming queries over the timed phase: their work,
  * and the ticks and wall seconds it is spread over. */
final case class StreamLoad(work: Seq[Work], ticks: Int, windowS: Double)

/** Per-layer metrics of a traced run, every one normalised per
  * benchmark operation (a dashboard query or a pipeline tick) so runs
  * of different lengths compare. Layers a workload does not exercise
  * report 0. */
object Layers {

  /** Every per-layer metric name and unit, in report order. */
  val all: Seq[(String, String)] = Seq(
    "build.s" -> "s", "build.jobs" -> "count",
    "plan.s" -> "s", "plan.analysis_s" -> "s", "plan.optimizer_s" -> "s", "plan.planning_s" -> "s",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s", "jvm.jit_s" -> "s", "jvm.gc_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.core_util" -> "ratio",
    "exec.driver_gap_s" -> "s", "exec.shuffle_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.input_bytes" -> "bytes", "exec.files_read" -> "count", "sql.executions" -> "count",
    "lake.files_scanned_per_query" -> "count", "lake.scan_keep_ratio" -> "ratio",
    "ingest.addbatch_s" -> "s", "ingest.walcommit_s" -> "s",
    "lake.versions" -> "count", "lake.files_live" -> "count", "lake.bytes_live" -> "bytes",
    "lake.compactions" -> "count",
    "ingest.trigger_s" -> "s", "ingest.planning_s" -> "s", "ingest.batches" -> "count",
    "cep.trigger_s" -> "s", "cep.planning_s" -> "s", "cep.batches" -> "count",
    "cep.state_rows" -> "count", "cep.state_bytes" -> "bytes",
    "export.trigger_s" -> "s", "export.planning_s" -> "s", "export.batches" -> "count",
    "export.windows" -> "count", "dash.refresh_s" -> "s") ++
    Dashboard.Classes.map(c => s"q.${c}_s" -> "s") ++ Seq(
    "cache.peak_bytes" -> "bytes", "harness.generator_lag_s" -> "s",
    "self.op_s" -> "s", "self.build_s" -> "s", "self.plan_s" -> "s", "self.exec_s" -> "s",
    "self.wait_s" -> "s",
    "trace.overhead_share" -> "ratio", "trace.recorder_s" -> "s", "trace.spans" -> "count")

  /** Build / plan / exec layer metrics over the traced operations,
    * divided by `perOps`. `lakeFiles` gives the file count of the lake
    * version a scan root read (None for scans of other tables). On the
    * pipeline, `streams` adds the streaming queries' work per tick to
    * the exec metrics, and core utilisation is over the timed phase. */
  def opLayers(ctx: Ctx, ops: Seq[OpResult], perOps: Int,
      lakeFiles: String => Option[Int], streams: Option[StreamLoad] = None): Map[String, Double] = {
    val t = ops.filter(_.traced)
    val n = math.max(1, perOps).toDouble
    def work(o: OpResult, l: String): Work =
      o.spanIds.get(l).flatMap(ctx.trace.spanWork).getOrElse(new Work)
    def sum(f: OpResult => Double): Double = t.map(f).sum
    val execWork = t.map(o => o -> work(o, "exec"))
    /** Exec work per operation, the streams' per tick included. */
    def exec(f: Work => Double): Double =
      execWork.map(w => f(w._2)).sum / n +
        streams.map(s => s.work.map(f).sum / math.max(1, s.ticks)).getOrElse(0.0)
    val busyPerOpS = streams.map(s => s.windowS / math.max(1, s.ticks)).getOrElse(sum(_.execS) / n)
    val lakeScans = t.flatMap(o => o.scans.flatMap { case (root, files) =>
      lakeFiles(root).map(total => (files.toDouble, if (total > 0) files.toDouble / total else 0.0))
    })
    val lakeQueries = t.count(o => o.scans.exists(s => lakeFiles(s._1).isDefined))
    Map(
      "build.s" -> sum(_.buildS) / n,
      "build.jobs" -> sum(work(_, "build").jobs.toDouble) / n,
      "plan.s" -> sum(_.planS) / n,
      "plan.analysis_s" -> sum(_.phases.getOrElse("analysis", 0.0)) / n,
      "plan.optimizer_s" -> sum(_.phases.getOrElse("optimization", 0.0)) / n,
      "plan.planning_s" -> sum(_.phases.getOrElse("planning", 0.0)) / n,
      "exec.s" -> sum(_.execS) / n,
      "exec.jobs" -> exec(_.jobs.toDouble),
      "exec.stages" -> exec(_.stages.toDouble),
      "exec.tasks" -> exec(_.tasks.toDouble),
      "exec.task_run_s" -> exec(_.runMs / 1000.0),
      "exec.task_cpu_s" -> exec(_.cpuNs / 1e9),
      "exec.core_util" ->
        (if (busyPerOpS > 0) exec(_.runMs / 1000.0) / (busyPerOpS * ctx.cfg.cores) else 0.0),
      "exec.driver_gap_s" -> execWork.map { case (o, w) =>
        math.max(0.0, o.execS - Trace.union(w.jobIntervals.toSeq) / 1000.0)
      }.sum / n,
      "exec.shuffle_bytes" -> exec(_.shuffleBytes.toDouble),
      "exec.spill_bytes" -> exec(_.spillBytes.toDouble),
      "exec.input_bytes" -> exec(_.inputBytes.toDouble),
      "exec.files_read" -> t.map(_.scans.map(_._2).sum).sum / n,
      "sql.executions" ->
        ctx.trace.executions.get.toDouble / math.max(1, streams.map(_.ticks).getOrElse(ops.size)),
      "lake.files_scanned_per_query" ->
        (if (lakeQueries > 0) lakeScans.map(_._1).sum / lakeQueries else 0.0),
      "lake.scan_keep_ratio" -> Stats.mean(lakeScans.map(_._2)),
      "cache.peak_bytes" -> ctx.trace.cachePeak.get.toDouble)
  }

  /** Self time per layer over the traced operations, per operation. */
  def selfTimes(ctx: Ctx, perOps: Int): Map[String, Double] = {
    val n = math.max(1, perOps).toDouble
    ctx.trace.selfTimes().groupBy(_._1.layer).map { case (l, ss) =>
      s"self.${l}_s" -> ss.map(_._2).sum / 1e9 / n
    }
  }

  /** JVM and codegen counters over a window, per operation. */
  def jvm(d: JvmCounters, perOps: Int): Map[String, Double] = {
    val n = math.max(1, perOps).toDouble
    Map("codegen.compiles" -> d.compiles / n, "codegen.compile_s" -> d.compileMs / 1000.0 / n,
      "jvm.jit_s" -> d.jitMs / 1000.0 / n, "jvm.gc_s" -> d.gcMs / 1000.0 / n)
  }

  /** Report every per-layer metric: the given values, 0 for the rest. */
  def report(ctx: Ctx, values: Map[String, Double]): Unit = {
    val unknown = values.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    all.foreach { case (name, unit) => ctx.metric(name, values.getOrElse(name, 0.0), unit) }
  }
}

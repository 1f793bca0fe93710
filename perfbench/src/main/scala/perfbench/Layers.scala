package perfbench

import java.io.PrintWriter

import scala.jdk.CollectionConverters._

/** Per-layer metrics of one traced window, derived from the spans.
  *
  * Span tree: `op` → one span per call into a layer (`op.construct`,
  * `op.plan`, `op.exec`, `jobs.ingest` …) → Spark jobs, which hang off
  * the op through its job group and sit inside the layer span that was
  * open when they started. Layer spans are the leaves among the
  * benchmark's spans, so their self time is their duration; the op's
  * self time is the harness around them. Times and counts are per op
  * unless the name says otherwise. */
final class Layers(workload: String, cores: Int, samples: Seq[Sample], wall: Double,
    tracer: Tracer, listener: SparkSpans) {
  private val ops = samples.map(_.id).toSet
  private val n = samples.size.max(1).toDouble
  private val spans = tracer.spans.asScala.toSeq.filter(s => ops(s.op))
  private val (allJobs, allStages) = listener.snapshot()
  private val jobs = allJobs.filter(j => ops(j.op))
  private val jobOp = jobs.map(j => j.jobId -> j.op).toMap
  private val stages = allStages.filter(s => jobOp.contains(s.jobId))

  private def spanS(name: String): Double =
    spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum / n

  private def jobsIn(name: String): Seq[JobRec] = {
    val open = spans.filter(_.name == name)
    jobs.filter(j => open.exists(s => s.op == j.op && j.start >= s.start && j.start <= s.end))
  }

  private def jobS(site: String => Boolean): Double =
    jobs.filter(j => site(j.callSite) && j.end > 0).map(j => (j.end - j.start) / 1e9).sum / n

  private def skew: Double = {
    val worst = stages.filter(_.taskMs.size >= 2).groupBy(s => jobOp(s.jobId)).values.map { ss =>
      ss.map(s => s.taskMs.max / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble).toSeq))).max
    }.toSeq
    if (worst.isEmpty) 1.0 else Stats.median(worst)
  }

  def metrics(counters: Map[String, Double], lostAcc: Double, dupBlocks: Double,
      persisted: Double, failRatio: Double, plain: Map[String, Double],
      traced: Map[String, Double]): Seq[(String, Double, String)] = {
    def sum(f: StageRec => Long): Double = stages.map(f).sum.toDouble
    val c = counters.withDefaultValue(0.0)
    val values = Map(
      "op.construct_s" -> spanS("op.construct"),
      "op.construct_jobs" -> jobsIn("op.construct").size / n,
      "op.plan_s" -> spanS("op.plan"),
      "op.exec_s" -> spanS("op.exec"),
      "jobs.ingest_s" -> spanS("jobs.ingest"),
      "jobs.enrich_s" -> spanS("jobs.enrich"),
      "jobs.gold_s" -> spanS("jobs.gold"),
      "jobs.reports_s" -> spanS("jobs.reports"),
      "jobs.append_yield" ->
        (if (c("jobs.rows_pending") == 0) 0.0 else c("jobs.rows_appended") / c("jobs.rows_pending")),
      "sources.sink_s" -> jobS(_.contains("graft.sources.Sinks")),
      "enrich.s" -> jobS(s => s.contains("graft.enrich.") || s.contains("graft.operators.Ranking")),
      "serve.jobs_per_request" -> (if (workload == "dashboard_serve") jobs.size / n else 0.0),
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> stages.size / n,
      "spark.tasks" -> sum(_.taskMs.size.toLong) / n,
      "spark.single_task_stage_share" ->
        (if (stages.isEmpty) 0.0 else stages.count(_.numTasks == 1).toDouble / stages.size),
      "spark.tasks_per_stage_p50" -> Stats.median(stages.map(_.numTasks.toDouble)),
      "spark.core_busy" -> sum(_.runMs) / 1000.0 / (wall * cores),
      "spark.input_records" -> sum(_.inRecords) / n,
      "spark.input_bytes" -> sum(_.inBytes) / n,
      "spark.task_skew" -> skew,
      "spark.shuffle_read_bytes" -> sum(_.shRead) / n,
      "spark.shuffle_write_bytes" -> sum(_.shWrite) / n,
      "spark.spill_bytes" -> sum(_.spill) / n,
      "spark.executor_cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "spark.executor_run_s" -> sum(_.runMs) / 1000.0 / n,
      "spark.scheduler_delay_s" -> sum(_.schedDelayMs) / 1000.0 / n,
      "spark.gc_s" -> sum(_.gcMs) / 1000.0 / n,
      "spark.persisted_rdds" -> persisted,
      "spark.failed_tasks" -> sum(_.failedTasks.toLong) / n,
      "spark.lost_accumulator_updates" -> lostAcc / n,
      "spark.duplicate_block_puts" -> dupBlocks / n,
      "fail_ratio" -> failRatio,
      "trace.overhead_p50" -> (traced("latency_p50_ms") / plain("latency_p50_ms") - 1),
      "trace.overhead_throughput" ->
        (plain("throughput_ops_s") / traced("throughput_ops_s") - 1)) ++
      Layers.counterNames.map(k => k -> c(k))
    Layers.perLayer.map { case (name, unit, _) => (name, values(name), unit) }
  }

  /** Every span, benchmark and Spark job alike, one JSON object a line. */
  def write(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.end - s.start).sum }
    spans.foreach { s =>
      w.println(Json.obj(Seq("kind" -> Json.str("span"), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "op" -> s.op.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
        "self_ns" -> (s.end - s.start - childTime.getOrElse(s.id, 0L)).toString)))
    }
    jobs.foreach { j =>
      w.println(Json.obj(Seq("kind" -> Json.str("spark.job"), "id" -> j.jobId.toString,
        "op" -> j.op.toString, "name" -> Json.str(j.callSite.takeWhile(_ != '\n')),
        "stack" -> Json.str(j.callSite), "start_ns" -> j.start.toString,
        "end_ns" -> j.end.toString, "stages" -> j.stageIds.mkString("[", ",", "]"))))
    }
    w.close()
  }
}

object Layers {
  val counterNames = Seq("jobs.rows_raw", "jobs.rows_bronze", "jobs.rows_rejected",
    "jobs.rows_pending", "jobs.rows_appended", "sources.silver_files", "sources.silver_bytes")

  /** (name, unit, better): the order and units BENCHMARK.json lists. */
  val perLayer: Seq[(String, String, String)] = Seq(
    ("op.construct_s", "s", "lower"), ("op.construct_jobs", "count", "lower"),
    ("op.plan_s", "s", "lower"), ("op.exec_s", "s", "lower"),
    ("jobs.ingest_s", "s", "lower"), ("jobs.enrich_s", "s", "lower"),
    ("jobs.gold_s", "s", "lower"), ("jobs.reports_s", "s", "lower"),
    ("jobs.rows_raw", "rows", "higher"), ("jobs.rows_bronze", "rows", "higher"),
    ("jobs.rows_rejected", "rows", "lower"), ("jobs.rows_pending", "rows", "higher"),
    ("jobs.rows_appended", "rows", "higher"), ("jobs.append_yield", "ratio", "higher"),
    ("sources.silver_files", "count", "lower"), ("sources.silver_bytes", "bytes", "lower"),
    ("sources.sink_s", "s", "lower"), ("enrich.s", "s", "lower"),
    ("serve.jobs_per_request", "count", "lower"), ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"), ("spark.tasks", "count", "lower"),
    ("spark.single_task_stage_share", "ratio", "lower"),
    ("spark.tasks_per_stage_p50", "count", "higher"), ("spark.core_busy", "ratio", "higher"),
    ("spark.input_records", "rows", "lower"), ("spark.input_bytes", "bytes", "lower"),
    ("spark.task_skew", "ratio", "lower"), ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"), ("spark.spill_bytes", "bytes", "lower"),
    ("spark.executor_cpu_s", "s", "lower"), ("spark.executor_run_s", "s", "lower"),
    ("spark.scheduler_delay_s", "s", "lower"), ("spark.gc_s", "s", "lower"),
    ("spark.persisted_rdds", "count", "lower"), ("spark.failed_tasks", "count", "lower"),
    ("spark.lost_accumulator_updates", "count", "lower"),
    ("spark.duplicate_block_puts", "count", "lower"), ("fail_ratio", "ratio", "lower"),
    ("trace.overhead_p50", "ratio", "lower"), ("trace.overhead_throughput", "ratio", "lower"))
}

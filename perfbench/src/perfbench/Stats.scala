package perfbench

/** Order statistics for the layer metrics (the end-to-end ones are computed
  * by perfbench/run.py from the raw op list).
  */
object Stats {
  /** Median; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** Spark and planning work of a set of spans over a measured stretch of
  * ops, reported per op: the delta between [[start]] and [[stop]].
  */
final class OpSpans(ctx: Ctx, spans: Seq[String]) {
  private var base: Map[String, Double] = Map.empty
  private var delta: Map[String, Double] = Map.empty
  private var ops = 0

  private def snapshot(): Map[String, Double] = {
    ctx.tracer.drain()
    val all = spans.map(ctx.tracer.get)
    def sum(f: SpanStats => Long): Double = all.map(f).sum.toDouble
    Map(
      "wall_s" -> sum(_.wallNs) / 1e9,
      "jobs" -> sum(_.jobs),
      "tasks" -> sum(_.tasks),
      "task_run_s" -> sum(_.taskRunMs) / 1e3,
      "task_cpu_s" -> sum(_.taskCpuNs) / 1e9,
      "gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle_write_mb" -> sum(_.shuffleWriteBytes) / 1e6,
      "shuffle_read_mb" -> sum(_.shuffleReadBytes) / 1e6,
      "spill_mb" -> sum(_.spillBytes) / 1e6,
      "output_mb" -> sum(_.outputBytes) / 1e6,
      "busy_s" -> sum(_.jobBusyMs) / 1e3,
      "analysis_ms" -> sum(_.analysisMs),
      "optimization_ms" -> sum(_.optimizationMs),
      "planning_ms" -> sum(_.planningMs),
      "nodes" -> sum(_.planNodes))
  }

  def start(): Unit = base = snapshot()

  /** Close the stretch after `n` ops. */
  def stop(n: Int): Unit = {
    val now = snapshot()
    delta = now.map { case (k, v) => k -> (v - base.getOrElse(k, 0.0)) }
    ops = n
  }

  /** spark.* and plan.* metrics per op. */
  def metrics: Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    def d(k: String): Double = delta.getOrElse(k, 0.0)
    val wall = d("wall_s")
    Map(
      "spark.jobs" -> d("jobs") / n,
      "spark.tasks" -> d("tasks") / n,
      "spark.task_run_s" -> d("task_run_s") / n,
      "spark.task_cpu_s" -> d("task_cpu_s") / n,
      "spark.gc_s" -> d("gc_s") / n,
      "spark.shuffle_write_mb" -> d("shuffle_write_mb") / n,
      "spark.shuffle_read_mb" -> d("shuffle_read_mb") / n,
      "spark.spill_mb" -> d("spill_mb") / n,
      "spark.output_mb" -> d("output_mb") / n,
      "spark.cpu_util" ->
        (if (wall > 0) d("task_cpu_s") / (wall * ctx.args.cores) else 0.0),
      "spark.driver_only_s" -> math.max(wall - d("busy_s"), 0.0) / n,
      "plan.analysis_ms" -> d("analysis_ms") / n,
      "plan.optimization_ms" -> d("optimization_ms") / n,
      "plan.planning_ms" -> d("planning_ms") / n,
      "plan.nodes" -> d("nodes") / n)
  }
}

package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload's code sees: the session, the tracer, the seed and a
  * fresh directory that holds every path the workload writes.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val args: Args,
    val dir: String) {
  def seed: Long = args.seed
  def trace: Boolean = args.trace

  /** Drop cached frames and the transient checkpoint blocks an op left,
    * the way the program's own bench separates runs: memo tables the
    * program pins survive.
    */
  def resetState(): Unit = {
    spark.catalog.clearCache()
    graft.CacheHygiene.freeTransient(spark, blocking = true)
  }
}

/** One workload, set up once per [[Main.SetUps]] round. */
trait Workload {
  /** Generate the inputs from the seed and prepare the state the ops
    * start from.
    */
  def setUp(): Unit
  /** Untimed ops that warm the code paths; a failure counts as a failed
    * check.
    */
  def warmUp(out: Outcomes): Unit
  /** Run ops until `deadlineNs` (and, when tracing, until the fixed traced
    * op count is reached), checking each op's output outside its timing.
    */
  def measure(deadlineNs: Long, out: Outcomes): Unit
  /** Run-level output checks. */
  def finish(out: Outcomes): Unit
  /** Per-layer metrics (traced runs only). */
  def layers(): Map[String, Double]
  /** What one op is, for the result file. */
  def opUnit: String
  /** Release what the workload started (streaming queries). */
  def close(): Unit = ()
}

object Workload {
  def make(ctx: Ctx): Workload = ctx.args.workload match {
    case "curate_batch" => new CurateBatch(ctx)
    case "incremental_daily" => new IncrementalDaily(ctx)
    case "query_suite" => new QuerySuite(ctx)
    case "stream_gate" => new StreamGate(ctx)
    case other => sys.error(s"unknown workload $other")
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace
  * 0|1 --workdir DIR --out FILE [--cores C] [--data DIR] [--golden FILE]`.
  *
  * Protocol: set up [[SetUps]] times (each with a fresh session and
  * directory; the median is reported), run the warm-up, measure for the
  * given seconds in a closed loop with one client, then run the output
  * checks. The raw result goes to `--out` as JSON; perfbench/run.py turns
  * it into metrics.
  */
object Main {
  /** Set-up rounds per run; the first also pays the JVM's cold start. */
  val SetUps = 2

  /** Layers the two benchmark workloads do not call run as probes inside a
    * traced run: their set-up, warm-up, fixed op count and output checks
    * run after the workload's own, and only their own layer metrics (by
    * prefix) are kept. A failed probe check fails the run.
    */
  val Probes: Map[String, Seq[(String, String)]] = Map(
    "curate_batch" -> Seq("query_suite" -> "suite."),
    "incremental_daily" -> Seq("stream_gate" -> "gate."))

  private def probe(base: Ctx, name: String, prefix: String,
      out: Outcomes): Map[String, Double] = {
    val dir = s"${base.args.workdir}/probe-$name"
    new java.io.File(dir).mkdirs()
    val w = Workload.make(new Ctx(base.spark, base.tracer,
      base.args.copy(workload = name), dir))
    val ops = new Outcomes
    try {
      w.setUp()
      w.warmUp(ops)
      w.measure(System.nanoTime(), ops)
      w.finish(ops)
      out.check(s"$name probe passes its output checks")(
        (ops.ops.filter(!_.ok).map(o => s"${o.name}: ${o.error}") ++
          ops.checks.filter(!_._2).map(c => s"${c._1}: ${c._3}")).headOption)
      val lat = Stats.median(ops.ops.map(_.seconds).toSeq)
      w.layers().filter(_._1.startsWith(prefix)) + (s"${prefix}op_p50_s" -> lat)
    } finally w.close()
  }

  def startSession(args: Args, dir: String): SparkSession = {
    // Every path Spark writes goes under this set-up's directory.
    System.setProperty("spark.local.dir", s"$dir/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$dir/warehouse")
    val s = graft.GraftSession.local(args.cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = Args.parse(argv)
    val jvmBoot = Host.sinceJvmStart()
    val cpuStart = Host.cpuProbeSec()
    val out = new Outcomes
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace, "cores" -> args.cores,
      "jvm_boot_s" -> jvmBoot)
    var spark: Option[SparkSession] = None
    var w: Option[Workload] = None
    var ctx: Option[Ctx] = None
    try {
      val setUps = (1 to SetUps).map { i =>
        w.foreach(_.close())
        spark.foreach(_.stop())
        if (i > 1) Files.deleteRec(new java.io.File(s"${args.workdir}/setup${i - 1}"))
        val dir = s"${args.workdir}/setup$i"
        new java.io.File(dir).mkdirs()
        val t0 = System.nanoTime()
        val s = startSession(args, dir)
        spark = Some(s)
        val c = new Ctx(s, new Tracer(s, args.trace), args, dir)
        val wl = Workload.make(c)
        ctx = Some(c)
        w = Some(wl)
        wl.setUp()
        Clock.since(t0)
      }
      result("setup_s") = setUps
      val wl = w.get
      result("op_unit") = wl.opUnit
      result("warmup_s") = Clock.time(wl.warmUp(out))._2
      val t0 = System.nanoTime()
      wl.measure(t0 + (args.seconds * 1e9).toLong, out)
      result("loop_s") = Clock.since(t0)
      wl.finish(out)
      if (args.trace) {
        val c = ctx.get
        val probes = Probes.getOrElse(args.workload, Nil)
          .flatMap { case (name, prefix) => probe(c, name, prefix, out) }
        result("layers") = wl.layers() ++ probes
      }
    } catch {
      case NonFatal(e) =>
        out.check("run completes")(Some(Outcomes.describe(e)))
        e.printStackTrace()
    } finally {
      try w.foreach(_.close()) catch { case NonFatal(_) => () }
      spark.foreach(_.stop())
    }
    result("cpu_probe_s") = Seq(cpuStart, Host.cpuProbeSec())
    result("peak_rss_mb") = Host.peakRssMb()
    result("ops") = out.ops.map(o => Map("name" -> o.name, "s" -> o.seconds,
      "ok" -> o.ok, "error" -> o.error))
    result("checks") = out.checks.map { case (n, ok, d) =>
      Map("name" -> n, "ok" -> ok, "detail" -> d) }
    result("attempted") = out.attempted
    result("failed") = out.failed
    val pw = new java.io.PrintWriter(args.out, "UTF-8")
    try pw.println(Json.render(result)) finally pw.close()
  }
}

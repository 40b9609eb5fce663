package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Command-line arguments of [[Main]]. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, workdir: String, out: String, cores: Int,
    dataDir: String, golden: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("workdir"), req("out"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      kv.getOrElse("data", ""), kv.get("golden"))
  }
}

/** One measured operation: its latency and whether it (and its output
  * check) succeeded.
  */
final case class OpRecord(name: String, seconds: Double, ok: Boolean, error: String)

/** Op and check bookkeeping. An op that throws, or whose output check
  * fails, counts as failed; so does a run-level check that fails or throws.
  */
final class Outcomes {
  val ops = ArrayBuffer.empty[OpRecord]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]

  /** Time `body` as one op. Returns None when it threw (recorded failed). */
  def op[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = body
      ops += OpRecord(name, Clock.since(t0), ok = true, "")
      Some(r)
    } catch {
      case NonFatal(e) =>
        ops += OpRecord(name, Clock.since(t0), ok = false, Outcomes.describe(e))
        None
    }
  }

  /** Mark op `i` failed by its output check (a no-op for `None`). */
  def verify(i: Int, problem: Option[String]): Unit = problem.foreach { p =>
    ops(i) = ops(i).copy(ok = false, error = p)
  }

  /** Run-level check: `body` returns None when it passes, else a reason. */
  def check(name: String)(body: => Option[String]): Unit = {
    val problem =
      try body
      catch { case NonFatal(e) => Some(Outcomes.describe(e)) }
    checks += ((name, problem.isEmpty, problem.getOrElse("")))
  }

  def attempted: Int = ops.size + checks.size
  def failed: Int = ops.count(!_.ok) + checks.count(!_._2)
}

object Outcomes {
  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
}

object Clock {
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, since(t0))
  }
}

/** Host readings that travel with every result. */
object Host {

  /** Fixed single-thread CPU busy loop: 300M LCG + xorshift steps with no
    * allocation, so its time reads the host's CPU regime. It runs at the
    * start and the end of every run; a noisy neighbour shows as a slower
    * reading next to the metrics it disturbed.
    */
  def cpuProbeSec(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 300000000) {
      h = h * 6364136223846793005L + 1442695040888963407L
      h ^= (h >>> 33)
      i += 1
    }
    // data dependency so the loop cannot be eliminated
    if (h == 42L) System.err.println("[perfbench] improbable")
    Clock.since(t0)
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Filesystem helpers for the per-run work directory. */
object Files {
  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
    ()
  }

  /** (data files, bytes) under `dir`, skipping checksum and marker files. */
  def dataFiles(dir: String): (Int, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(new java.io.File(dir)).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    (files.size, files.map(_.length).sum)
  }
}

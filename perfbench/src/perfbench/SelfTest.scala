package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Checks of the harness's own Scala code, run by
  * perfbench/tests/test_harness.py: failure counting, the tracer crediting
  * each job's stages to the span whose job group launched it, and query
  * planning to the span [[Tracer.planFor]] named.
  * Usage: perfbench.SelfTest <scratch dir>; exits 1 on any failure.
  */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]

  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) failures += what

  private def failureCounting(): Unit = {
    val out = new Outcomes
    out.op("ok")(1)
    val thrown = out.op("throws")(throw new RuntimeException("boom"))
    val i = out.ops.size
    out.op("wrong output")(2)
    out.verify(i, Some("expected 3"))
    out.check("passes")(None)
    out.check("throws")(throw new IllegalStateException("no"))
    expect(thrown.isEmpty, "a throwing op returns None")
    expect(out.ops.map(_.ok) == Seq(true, false, false),
      s"op outcomes ${out.ops.map(_.ok)}")
    expect(out.ops(1).error.contains("boom"), "a throwing op keeps its error")
    expect(out.attempted == 5, s"attempted ${out.attempted} != 5")
    expect(out.failed == 3, s"failed ${out.failed} != 3")
  }

  private def spanCrediting(dir: String): Unit = {
    System.setProperty("spark.local.dir", s"$dir/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$dir/warehouse")
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    try {
      val off = new Tracer(spark, enabled = false)
      expect(off.span("x")(41 + 1) == 42, "an untraced span runs its body")
      val t = new Tracer(spark, enabled = true)
      t.span("outer") {
        spark.range(1000).collect() // one job, no shuffle
        t.span("inner") {
          // two-stage job: the shuffle map stage and the result stage
          spark.range(20000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        }
        spark.range(10).collect()
      }
      spark.sparkContext.setJobGroup("foreign-group", "set outside the tracer")
      t.alias("foreign-group", "aliased")
      spark.range(10).collect()
      spark.sparkContext.clearJobGroup()
      t.drain()
      val (outer, inner) = (t.get("outer"), t.get("inner"))
      expect(outer.jobs == 2, s"outer jobs ${outer.jobs} != 2")
      expect(inner.jobs == 1, s"inner jobs ${inner.jobs} != 1")
      expect(inner.stages == 2, s"inner stages ${inner.stages} != 2")
      expect(inner.shuffleWriteBytes > 0 && inner.shuffleReadBytes > 0,
        "the shuffle is credited to the inner span")
      expect(outer.shuffleWriteBytes == 0, "the outer span has no shuffle")
      expect(inner.tasks == 4, s"inner tasks ${inner.tasks} != 4 (2 map + 2 reduce)")
      expect(inner.taskRunMs >= 0 && inner.taskCpuNs > 0, "inner task time recorded")
      expect(inner.queries == 0 && outer.calls == 1 && inner.calls == 1,
        "span call counts")
      expect(t.get("aliased").jobs == 1, "a foreign job group is credited via its alias")
      expect(t.get("unattributed").jobs == 0, "no job went unattributed")

      // planning phases go to the span named by planFor, and a query run
      // after a switch adds nothing to the span before it
      t.planFor("first")
      t.span("first")(spark.range(100).selectExpr("id * 2 AS x").collect())
      t.planFor("second")
      t.span("second")(spark.range(100).filter("id > 5").collect())
      t.span("second")(spark.range(100).filter("id > 6").collect())
      t.drain()
      val (first, second) = (t.get("first"), t.get("second"))
      expect(first.queries == 1, s"first span planned ${first.queries} queries, not 1")
      expect(second.queries == 2, s"second span planned ${second.queries} queries, not 2")
      expect(first.planNodes > 0 && second.planNodes > first.planNodes,
        s"plan nodes ${first.planNodes} / ${second.planNodes}")
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    failureCounting()
    spanCrediting(args.headOption.getOrElse(System.getProperty("java.io.tmpdir")))
    failures.foreach(f => println(s"FAIL $f"))
    println(if (failures.isEmpty) "SELFTEST OK" else s"SELFTEST ${failures.size} FAILED")
    if (failures.nonEmpty) sys.exit(1)
  }
}

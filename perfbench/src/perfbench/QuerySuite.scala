package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_suite`: `SparkEntry.queries` keys run one at a time, each
  * materialized to the noop sink, over the fixed sf0.001 tables under
  * perfbench/data. One op is one key; a cycle runs [[Keys]] in order, and
  * between keys the state is reset the way the program's bench does it,
  * so memoized keys hit the same way on every commit. The seed does not
  * apply: the data is fixed.
  */
final class QuerySuite(ctx: Ctx) extends Workload {
  import QuerySuite._

  private val spark = ctx.spark
  private val dir = ctx.args.dataDir
  private val queries = graft.SparkEntry.queries
  private val modOf = moduleOf()
  private val cycles = ArrayBuffer.empty[Seq[(String, Double)]]
  private val keyOps = ArrayBuffer.empty[(String, Int)]
  private val opStats = new OpSpans(ctx, Keys.map(modOf).distinct)
  private var counts = Map.empty[String, Long]

  def opUnit: String = s"one query key (a cycle is ${Keys.size} keys)"

  def setUp(): Unit = {
    require(new java.io.File(dir).isDirectory, s"no data dir $dir")
    val missing = Keys.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown query keys ${missing.mkString(", ")}")
    Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
  }

  private def cycle(out: Outcomes): Unit = {
    val times = Keys.map { k =>
      val i = out.ops.size
      ctx.tracer.planFor(modOf(k))
      out.op(k)(ctx.tracer.span(modOf(k)) {
        queries(k)(spark, dir).write.format("noop").mode("overwrite").save()
      })
      keyOps += ((k, i))
      ctx.resetState()
      ctx.tracer.drain()
      k -> out.ops(i).seconds
    }
    cycles += times
  }

  def warmUp(out: Outcomes): Unit = {
    val scratch = new Outcomes
    cycle(scratch)
    counts = rowCounts()
    cycles.clear()
    keyOps.clear()
    out.check("warm-up cycle completes")(
      scratch.ops.find(!_.ok).map(o => s"${o.name}: ${o.error}"))
  }

  def measure(deadlineNs: Long, out: Outcomes): Unit = {
    opStats.start()
    var n = 0
    while (n == 0 || System.nanoTime() < deadlineNs) {
      cycle(out)
      n += 1
      if (n == 1) opStats.stop(Keys.size)
    }
  }

  /** Row count of every key, the output check (taken after the warm-up
    * cycle, outside the timed loop).
    */
  private def rowCounts(): Map[String, Long] = Keys.map { k =>
    val n = queries(k)(spark, dir).count()
    ctx.resetState()
    k -> n
  }.toMap

  def finish(out: Outcomes): Unit = ctx.args.golden match {
    case Some(path) => Golden.write(path, counts)
    case None =>
      val expected = Golden.read(s"$dir/../query_rows.json")
      keyOps.foreach { case (k, i) =>
        if (!expected.get(k).contains(counts(k)))
          out.verify(i, Some(s"$k: ${counts(k)} rows, expected ${expected.get(k)}"))
      }
  }

  def layers(): Map[String, Double] = {
    val first = cycles.headOption.getOrElse(Nil)
    val modules = Modules.map(_._1) :+ "SparkEntry"
    modules.map { m =>
      s"suite.${m}_s" -> first.filter(kv => modOf(kv._1) == m).map(_._2).sum
    }.toMap ++ opStats.metrics
  }
}

object QuerySuite {
  /** One key per module that SparkEntry composes, plus the p01 pipeline
    * key SparkEntry defines itself. Alphabetical.
    */
  val Keys: Seq[String] = Seq(
    "d02_dedup_minhash", "e01_window_agg", "g03_triangles",
    "m01_multimodal_meta", "p01_corpus_curate", "q02_join_agg",
    "q23_topk_rank", "q34_keyword_prefix", "q37_phrase_search",
    "s02_knn_lsh", "t08_tfidf", "t23_pii_redact", "t24_cosine_apss",
    "t25_bpe_tokens")

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  type Queries = Map[String, (SparkSession, String) => DataFrame]

  /** The query maps SparkEntry.queries composes, by module name. */
  val Modules: Seq[(String, () => Queries)] = Seq(
    "Relational" -> (() => graft.pipeline.Relational.queries),
    "DocumentPipeline" -> (() => graft.pipeline.DocumentPipeline.queries),
    "Events" -> (() => graft.pipeline.Events.queries),
    "Analytics" -> (() => graft.pipeline.Analytics.queries),
    "Dedup" -> (() => graft.operators.Dedup.queries),
    "KeywordSearch" -> (() => graft.operators.KeywordSearch.queries),
    "InvertedIndex" -> (() => graft.operators.InvertedIndex.queries),
    "Redact" -> (() => graft.operators.Redact.queries),
    "Apss" -> (() => graft.operators.Apss.queries),
    "Bpe" -> (() => graft.operators.Bpe.queries),
    "Similarity" -> (() => graft.operators.Similarity.queries),
    "Graph" -> (() => graft.operators.Graph.queries),
    "Multimodal" -> (() => graft.multimodal.Multimodal.queries))

  /** key -> the module whose map defines it ("SparkEntry" for its own keys). */
  def moduleOf(): String => String = {
    val m = Modules.flatMap { case (name, qs) => qs().keys.map(_ -> name) }.toMap
    k => m.getOrElse(k, "SparkEntry")
  }
}

/** Reads and writes the flat `{"key": count}` files of expected counts. */
object Golden {
  def read(path: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val text = try src.mkString finally src.close()
    "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def write(path: String, counts: Map[String, Long]): Unit = {
    val pw = new java.io.PrintWriter(path, "UTF-8")
    try pw.println(Json.render(scala.collection.immutable.TreeMap(counts.toSeq: _*)))
    finally pw.close()
  }
}

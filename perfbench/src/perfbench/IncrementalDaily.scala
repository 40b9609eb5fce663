package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.pipeline.IncrementalRun
import graft.sources.IncrementalIngest

/** `incremental_daily`: back-to-back `IncrementalRun.run` passes, the
  * reference's daily job. Set-up generates [[NBase]] seeded docs and every
  * pass's feed, runs a first pass over the docs, and nulls the sha256 of a
  * pool of known ids in the metadata table (legacy records). Every
  * measured pass reads a 500-row feed with planted classes of known sizes:
  *
  *  - [[Replayed]] known ids with their stored content: no-ops;
  *  - [[Backfill]] known ids whose metadata sha256 is null: backfilled;
  *  - [[Novel]] new ids with new content: ingested;
  *  - [[Dups]] new ids whose text duplicates a stored doc: skipped.
  */
final class IncrementalDaily(ctx: Ctx) extends Workload {
  import IncrementalDaily._
  import ctx.spark.implicits._

  private val spark = ctx.spark
  private val off = ctx.seed * CurateBatch.IdStride
  private val store = s"${ctx.dir}/store"
  private val meta = s"${ctx.dir}/metadata"
  private val rollup = s"${ctx.dir}/rollup"
  private val feeds = s"${ctx.dir}/feeds"
  private val expected = IncrementalRun.Summary(FeedRows, Novel + Dups,
    Backfill, Novel, Dups, Novel)
  private val passSec = ArrayBuffer.empty[Double]
  private val probeSec = ArrayBuffer.empty[(Double, Double)]
  private val opStats = new OpSpans(ctx, Seq("op"))
  private var nextPass = 0
  private var lastSummary = expected

  def opUnit: String = s"one IncrementalRun.run over a $FeedRows-row feed"

  def setUp(): Unit = {
    graft.GenCorpus.generate(spark, NBase, 0, off)
      .select($"doc_id", $"source", $"text")
      .write.parquet(s"${ctx.dir}/base.parquet")
    val known = spark.read.parquet(s"${ctx.dir}/base.parquet")
    firstPass()
    // Every pass's feed, one partition per pass. A known doc serves at
    // most one pass: the pool's ids are backfilled Backfill per pass; past
    // the pool, each pass takes Step consecutive ids, replaying the first
    // Replayed and duplicating the rest under new ids.
    val r = $"doc_id" - off
    val k = (r - PoolSize) % Step
    val fromKnown = known
      .withColumn("pass", when(r < PoolSize, r / Backfill)
        .otherwise((r - PoolSize) / Step).cast("int"))
      .filter($"pass" < MaxPasses)
      .withColumn("doc_id", when(r >= PoolSize && k >= Replayed, $"doc_id" + DupIds)
        .otherwise($"doc_id"))
    val novel = graft.GenCorpus.generate(spark, MaxPasses.toLong * Novel, 0,
        off + NovelIds)
      .select($"doc_id", $"source", $"text",
        (($"doc_id" - lit(off + NovelIds)) / Novel).cast("int").as("pass"))
    fromKnown.unionByName(novel)
      .repartition(MaxPasses, $"pass")
      .write.partitionBy("pass").parquet(feeds)
  }

  private def feed(p: Int): DataFrame = spark.read.parquet(s"$feeds/pass=$p")

  /** One pass, checked against the planted class sizes. */
  private def pass(out: Outcomes, name: String): Unit = {
    val p = nextPass
    nextPass += 1
    val i = out.ops.size
    ctx.tracer.planFor("op")
    out.op(name)(ctx.tracer.span("op") {
      IncrementalRun.run(spark, feed(p), store, meta, rollup, f"pass$p%04d")
    }).foreach { s =>
      passSec += out.ops(i).seconds
      lastSummary = s
      out.verify(i, if (s == expected) None else Some(s"summary $s != $expected"))
    }
    if (ctx.trace) {
      // standalone store reads after the pass, credited apart from the op
      ctx.tracer.planFor("probe")
      probeSec += ((
        Clock.time(ctx.tracer.span("probe")(
          IncrementalIngest.storedIds(spark, store).count()))._2,
        Clock.time(ctx.tracer.span("probe")(
          IncrementalIngest.processedHashes(spark, store).count()))._2))
    }
    ctx.tracer.drain()
  }

  /** The state a day starts from: a first pass over the base docs, after
    * which the pool's metadata rows lose their sha256 (legacy records).
    */
  private def firstPass(): Unit = {
    new java.io.File(store).mkdirs()
    IncrementalRun.run(spark, spark.read.parquet(s"${ctx.dir}/base.parquet"),
      store, meta, rollup, "initial")
    spark.read.parquet(meta)
      .withColumn("sha256", when($"doc_id" < off + PoolSize, lit(null).cast("string"))
        .otherwise($"sha256"))
      .write.parquet(meta + "_legacy")
    spark.read.parquet(meta + "_legacy").write.mode(SaveMode.Overwrite).parquet(meta)
    Files.deleteRec(new java.io.File(meta + "_legacy"))
  }

  def warmUp(out: Outcomes): Unit = {
    val scratch = new Outcomes
    (1 to WarmPasses).foreach(_ => pass(scratch, "warm-up"))
    passSec.clear()
    probeSec.clear()
    out.check("warm-up passes complete with the planted summary")(
      scratch.ops.find(!_.ok).map(_.error))
  }

  def measure(deadlineNs: Long, out: Outcomes): Unit = {
    opStats.start()
    var n = 0
    while (nextPass < MaxPasses && (n < MinPasses || System.nanoTime() < deadlineNs ||
        (ctx.trace && n < TracedPasses))) {
      pass(out, "IncrementalRun.run")
      n += 1
      if (n == TracedPasses) opStats.stop(n)
    }
    if (n < TracedPasses) opStats.stop(n)
  }

  def finish(out: Outcomes): Unit =
    out.check("store audit: every stored hash is distinct") {
      val r = IncrementalIngest.audit(spark, store).head()
      val (total, unique) = (r.getAs[Long]("total_hashes"), r.getAs[Long]("unique_hashes"))
      if (total == unique) None else Some(s"$total hashes, $unique distinct")
    }

  def layers(): Map[String, Double] = {
    val m = opStats.metrics
    val (files, bytes) = Files.dataFiles(store)
    val storedDocs = spark.read.parquet(store + "/*.parquet").count()
    val novelBytes = spark.read.parquet(s"$feeds/pass=1")
      .filter($"doc_id" >= off + NovelIds).agg(sum(length($"text"))).head().getLong(0)
    val third = math.max(passSec.size / 3, 1)
    Map(
      "ingest.pass_jobs" -> m("spark.jobs"),
      "ingest.written_mb_per_pass" -> m("spark.output_mb"),
      "ingest.store_files" -> files.toDouble,
      "ingest.store_bytes_per_doc" -> bytes.toDouble / math.max(storedDocs, 1L),
      "ingest.write_amp" -> m("spark.output_mb") * 1e6 / novelBytes,
      "ingest.stored_ids_s" -> Stats.median(probeSec.map(_._1).toSeq),
      "ingest.processed_hashes_s" -> Stats.median(probeSec.map(_._2).toSeq),
      "ingest.growth_ratio" ->
        Stats.median(passSec.takeRight(third).toSeq) / Stats.median(passSec.take(third).toSeq),
      "ingest.n_feed" -> lastSummary.nFeed.toDouble,
      "ingest.n_new_ids" -> lastSummary.nNewIds.toDouble,
      "ingest.n_backfilled" -> lastSummary.nBackfilled.toDouble,
      "ingest.n_ingested" -> lastSummary.nIngested.toDouble,
      "ingest.n_skipped_duplicate" -> lastSummary.nSkippedDuplicate.toDouble,
      "ingest.n_rollup_delta_rows" -> lastSummary.nRollupDeltaRows.toDouble) ++
      m
  }
}

object IncrementalDaily {
  val NBase = 10000
  val FeedRows = 500L
  val Replayed = 100
  val Backfill = 50
  val Novel = 300
  val Dups = 50
  /** Feeds prepared in set-up; a run stops early if it uses them all. */
  val MaxPasses = 12
  /** Untimed passes first: pass time keeps falling over the first few
    * passes of a process while the JIT compiles the pass's code.
    */
  val WarmPasses = 3
  /** Measured passes per run at least, so that every run's median is
    * taken over the same number of passes, slow host or not.
    */
  val MinPasses = 3
  /** Passes the traced per-layer numbers cover (the first ones measured). */
  val TracedPasses = 6
  /** Relative ids [0, PoolSize) are the legacy null-sha256 pool. */
  val PoolSize: Int = MaxPasses * Backfill
  /** Known ids past the pool that each pass replays or duplicates. */
  val Step: Int = Replayed + Dups
  val NovelIds = 1000000L
  val DupIds = 2000000L
}

package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.pipeline.{CorpusPipeline, DocumentPipeline}

/** `curate_batch`: `CorpusPipeline.curateFull` per op, in the p07b shape
  * (`substringK = Some(20)`), over a seeded `GenCorpus` corpus with 5%
  * planted near-duplicates. The benchmark set is the five lowest ids, the
  * convention of `curationDag`.
  *
  * There is no warm-up: curation is a batch job, and each run of it is a
  * fresh driver process that pays code generation and JIT compilation in
  * its first curation. The first op measures exactly that.
  */
final class CurateBatch(ctx: Ctx) extends Workload {
  import CurateBatch._
  import ctx.spark.implicits._

  private val off = ctx.seed * IdStride
  private val nDup = NBase * 5 / 95
  private val stride = math.max(NBase / nDup, 1L)
  private val cfg = CorpusPipeline.FullConfig(substringK = Some(20))
  private val docsPath = s"${ctx.dir}/documents.parquet"
  // (stage, n_in, n_out, n_killed, stage_sec) per rep
  private val reps = ArrayBuffer.empty[Seq[(String, Long, Long, Long, Double)]]

  def opUnit: String = s"one curateFull over ${NBase + nDup} docs"

  /** (later copy, its source) for every planted pair with both in the corpus. */
  private val plantedPairs: Seq[(Long, Long)] =
    (0L until nDup).map(j => (off + NBase + j, off + j * stride))
      .filter(_._2 >= off + BenchDocs)

  private def docs: DataFrame = ctx.spark.read.parquet(docsPath)
  private def corpus: DataFrame = docs.filter($"doc_id" >= off + BenchDocs)
  private def benchmark: DataFrame = docs.filter($"doc_id" < off + BenchDocs)

  def setUp(): Unit =
    graft.GenCorpus.generate(ctx.spark, NBase, 5, off)
      .write.parquet(docsPath)

  /** One curation; returns the result, its waterfall and the surviving
    * ids.
    */
  private def curate(): (CorpusPipeline.CurationResult,
      Seq[(String, Long, Long, Long, Double)], Set[Long]) = {
    val res = CorpusPipeline.curateFull(corpus, benchmark, cfg)
    val wf = res.waterfall.collect().toSeq.map { r =>
      (r.getAs[String]("stage"), r.getAs[Long]("n_in"), r.getAs[Long]("n_out"),
        r.getAs[Long]("n_killed"), r.getAs[Double]("stage_sec"))
    }
    val kept = res.docs.select($"doc_id").as[Long].collect().toSet
    (res, wf, kept)
  }

  /** The output check of one curation, run outside its timing. The
    * waterfall's own counts are checked against counts taken apart from
    * it: the corpus size, and the rows of the frames the curation returns.
    */
  private def problem(res: CorpusPipeline.CurationResult,
      wf: Seq[(String, Long, Long, Long, Double)], kept: Set[Long]): Option[String] = {
    val nOut = wf.map(r => r._1 -> r._3).toMap
    def recount(stage: String, n: => Long): Option[String] =
      if (nOut.get(stage).contains(n)) None
      else Some(s"$stage: n_out ${nOut.get(stage)}, its frame holds $n rows")
    val survivors = plantedPairs.count { case (a, b) => kept(a) && kept(b) }
    val nRaw = wf.headOption.map(_._2)
    Seq(
      if (wf.map(_._1) != Stages) Some(s"waterfall rows ${wf.map(_._1)}") else None,
      if (!nRaw.contains(CorpusDocs)) Some(s"p00_raw: n_in $nRaw != $CorpusDocs") else None,
      recount("t23_pii_redact", kept.size.toLong),
      recount("p02_sequence_pack", res.packed.count()),
      recount("p06_epoch_shuffle", res.schedule.count()),
      if (survivors > 0) Some(s"$survivors planted pairs kept both members") else None
    ).flatten.headOption
  }

  private def once(out: Outcomes, name: String): Unit = {
    val i = out.ops.size
    ctx.tracer.planFor("op")
    out.op(name)(ctx.tracer.span("op")(curate()))
      .foreach { case (res, wf, kept) =>
        reps += wf
        out.verify(i, problem(res, wf, kept))
      }
    ctx.resetState()
    ctx.tracer.drain()
  }

  def warmUp(out: Outcomes): Unit = ()

  def measure(deadlineNs: Long, out: Outcomes): Unit = {
    opStats.start()
    var n = 0
    while (n == 0 || System.nanoTime() < deadlineNs) {
      once(out, "curateFull")
      n += 1
    }
    opStats.stop(n)
  }

  /** The stage counts of every curation in the run, keyed `seed.stage`. */
  private def counts: Seq[Map[String, Long]] =
    reps.toSeq.map(_.map(r => s"${ctx.seed}.${r._1}" -> r._3).toMap)

  /** Stage counts must repeat: within the run, and against the counts
    * recorded for this seed in data/curate_counts.json, when it has them.
    * With `--golden FILE` this seed's counts are added to FILE instead.
    */
  def finish(out: Outcomes): Unit = ctx.args.golden match {
    case Some(path) =>
      val old: Map[String, Long] =
        if (new java.io.File(path).isFile) Golden.read(path) else Map.empty
      Golden.write(path, old ++ counts.headOption.getOrElse(Map.empty))
    case None =>
      out.check("stage counts repeat") {
        val recorded = Golden.read(s"${ctx.args.dataDir}/../curate_counts.json")
          .filter(_._1.startsWith(s"${ctx.seed}."))
        val seen = (counts ++ Seq(recorded).filter(_.nonEmpty)).distinct
        if (seen.size <= 1) None
        else Some(s"${seen.size} distinct waterfalls (recorded: ${recorded.nonEmpty})")
      }
  }

  private val opStats = new OpSpans(ctx, Seq("op"))

  def layers(): Map[String, Double] = {
    val measured = reps
    val stageSec = Stages.map { st =>
      s"curate.stage_s.$st" -> Stats.median(measured.flatMap(_.find(_._1 == st).map(_._5)).toSeq)
    }
    val nOut = Stages.map { st =>
      s"curate.n_out.$st" -> measured.lastOption.flatMap(_.find(_._1 == st))
        .map(_._3.toDouble).getOrElse(0.0)
    }
    opStats.metrics ++ stageSec ++ nOut ++
      operatorLayers() ++ Kernels.measure(corpus)
  }

  /** The DAG's operators called standalone on the same corpus, each
    * materialized to the noop sink.
    */
  private def operatorLayers(): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(body: => Unit): (String, Double) = {
      ctx.tracer.planFor(name)
      val (_, s) = Clock.time(ctx.tracer.span(name)(body))
      ctx.resetState()
      name -> s
    }
    val text = corpus.select($"doc_id", $"text")
    var pairsFound = 0
    val times = Seq(
      timed("dedup.substring_s") {
        val (rw, cache) = Dedup.substringRewriteHandle(text, 20)
        noop(rw); cache.unpersist()
      },
      timed("dedup.segment_s") {
        val (rollup, caches) = Dedup.segmentNeardupFullHandle(text,
          cfg.segWidth, cfg.nearDupBands, cfg.nearDupRows, cfg.maxBucket,
          cfg.nearDupJaccard)
        noop(rollup); caches.foreach(_.unpersist())
      },
      timed("dedup.minhash_s") {
        val (pairs, cache) = Dedup.minhashPairsHandle(text, cfg.nearDupBands,
          cfg.nearDupRows, cfg.maxBucket, cfg.nearDupJaccard,
          oversizedLink = cfg.nearDupStarMode)
        val found = pairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect()
          .map { case (a, b) => (math.max(a, b), math.min(a, b)) }.toSet
        pairsFound = plantedPairs.count(found)
        cache.unpersist()
      },
      timed("dedup.semantic_s") {
        val vecs = corpus.select($"doc_id".as("vec_id"),
          org.apache.spark.sql.graft.GraftFunctions
            .hashed_bow_vector($"text", cfg.semDim).as("v"))
        val planes = Dedup.scaledPlanes(NBase + nDup, cfg.semMaxBucket)
        val (pairs, bucketed) = Dedup.semanticPairsHandle(vecs, planes,
          cfg.semDim, cfg.semMinCos, cfg.semMaxBucket)
        noop(pairs); bucketed.unpersist()
      },
      timed("dedup.decontam_s") {
        noop(DocumentPipeline.decontaminateBloomAgainst(text, benchmark))
      },
      timed("dedup.redact_s") {
        noop(graft.operators.Redact.redactOf(corpus, "text"))
      },
      timed("dedup.pack_s") {
        noop(DocumentPipeline.sequencePackOf(corpus, cfg.packBudget, cfg.packShards))
      })
    times.toMap + ("dedup.minhash_pairs" ->
      pairsFound.toDouble / math.max(plantedPairs.size, 1))
  }
}

object CurateBatch {
  /** Base docs; GenCorpus adds 5% planted near-duplicates on top. */
  val NBase = 3800L
  val BenchDocs = 5
  /** The docs curated: base and planted docs, less the benchmark set. */
  val CorpusDocs: Long = NBase + NBase * 5 / 95 - BenchDocs
  /** Seed n owns doc ids [n * IdStride, (n + 1) * IdStride). */
  val IdStride = 10000000L
  /** The waterfall rows of the p07b shape, in order. */
  val Stages: Seq[String] = Seq("p00_raw", "d01_exact", "d19_substring_dedup",
    "d18_segment_neardup", "d02_minhash_neardup", "d12_semantic_dedup",
    "d16_decontaminate", "t22_t20_quality", "t23_pii_redact",
    "p04_temperature_mix", "p02_sequence_pack", "p06_epoch_shuffle")
}

package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.streaming.StreamingOps

/** `stream_gate`: `StreamingOps.dedupStream` fed by a `MemoryStream`. Set-up
  * generates [[NIndex]] seeded docs and the waves, writes the stored dedup
  * index over the docs and starts the gate; the warm-up feeds one wave.
  * Each op adds one wave of docs and waits for `processAllAvailable`:
  *
  *  - [[StoredDups]] near-duplicates of indexed docs;
  *  - [[WaveDups]] near-duplicates of the previous wave's novel docs (the
  *    pending buffer and its `growEvery = 8` fold serve these);
  *  - [[Novel]] novel docs.
  *
  * A near-duplicate is its source text plus two mutation tokens (word
  * 3-shingle Jaccard >= 0.93). The op latency is the engine's own
  * `triggerExecution` duration.
  */
final class StreamGate(ctx: Ctx) extends Workload {
  import StreamGate._
  import ctx.spark.implicits._

  private val spark = ctx.spark
  private val off = ctx.seed * CurateBatch.IdStride
  private val store = s"${ctx.dir}/store"
  private val index = "gate_idx"
  private var waves: IndexedSeq[Wave] = IndexedSeq.empty
  private var mem: MemoryStream[(Long, String, String)] = _
  private var query: StreamingQuery = _
  private var nextWave = 0
  private val measured = ArrayBuffer.empty[(Int, Int)] // (wave, op index)
  private val progress = ArrayBuffer.empty[Map[String, Long]]
  private val opStats = new OpSpans(ctx, Seq("op"))

  /** One wave's docs and the ids the gate must drop or keep. */
  private final case class Wave(docs: Seq[(Long, String, String)],
      dupIds: Set[Long], novelIds: Set[Long])

  def opUnit: String = s"one ${StoredDups + WaveDups + Novel}-doc wave through dedupStream"

  private def mutate(id: Long, text: String): String =
    s"$text m${Math.floorMod(id, 997L)} m${Math.floorMod(id / 997, 991L)}"

  def setUp(): Unit = {
    val indexed = graft.GenCorpus.generate(spark, NIndex, 0, off)
      .select($"doc_id", $"source", $"text")
    indexed.write.parquet(s"${ctx.dir}/indexed.parquet")
    val idx = spark.read.parquet(s"${ctx.dir}/indexed.parquet")
      .orderBy($"doc_id").as[(Long, String, String)].collect()
    val novel = graft.GenCorpus.generate(spark, MaxWaves.toLong * Novel, 0,
        off + NovelIds)
      .select($"doc_id", $"source", $"text").orderBy($"doc_id")
      .as[(Long, String, String)].collect()
    waves = (0 until MaxWaves).map { w =>
      val fresh = novel.slice(w * Novel, (w + 1) * Novel).toSeq
      val ofStored = idx.slice(w * StoredDups, (w + 1) * StoredDups).toSeq.map {
        case (id, src, text) =>
          val nid = id + StoredDupIds
          (nid, src, mutate(nid, text))
      }
      val ofWave = if (w == 0) Nil else novel.slice((w - 1) * Novel,
          (w - 1) * Novel + WaveDups).toSeq.map { case (id, src, text) =>
        val nid = id + WaveDupIds
        (nid, src, mutate(nid, text))
      }
      val dups = ofStored ++ ofWave
      Wave(dups ++ fresh, dups.map(_._1).toSet, fresh.map(_._1).toSet)
    }
    Dedup.writeDedupIndex(spark.read.parquet(s"${ctx.dir}/indexed.parquet")
      .select($"doc_id", $"text"), index)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    mem = MemoryStream[(Long, String, String)]
    new java.io.File(store).mkdirs()
    query = StreamingOps.dedupStream(mem.toDF().toDF("doc_id", "source", "text"),
      index, store, checkpointDir = Some(s"${ctx.dir}/checkpoint"))
    ctx.tracer.alias(query.runId.toString, "op")
  }

  /** Feed one wave; the op's latency is its trigger's execution time. */
  private def wave(out: Outcomes, name: String): Unit = {
    val w = nextWave
    nextWave += 1
    val i = out.ops.size
    val before = query.recentProgress.count(_.numInputRows > 0)
    ctx.tracer.planFor("op")
    out.op(name)(ctx.tracer.span("op") {
      mem.addData(waves(w).docs: _*)
      query.processAllAvailable()
    }).foreach { _ =>
      val done = query.recentProgress.filter(_.numInputRows > 0)
      if (done.length == before + 1) {
        val d = done.last.durationMs
        progress += d.keySet().toArray(Array.empty[String])
          .map(k => k -> d.get(k).longValue()).toMap
        out.ops(i) = out.ops(i).copy(seconds = d.get("triggerExecution") / 1e3)
      } else out.verify(i, Some(s"wave ran as ${done.length - before} triggers"))
    }
    measured += ((w, i))
    ctx.tracer.drain()
  }

  def warmUp(out: Outcomes): Unit = {
    val scratch = new Outcomes
    wave(scratch, "warm-up")
    measured.clear()
    progress.clear()
    out.check("warm-up wave completes")(scratch.ops.find(!_.ok).map(_.error))
  }

  def measure(deadlineNs: Long, out: Outcomes): Unit = {
    opStats.start()
    var n = 0
    while (nextWave < MaxWaves &&
        (n == 0 || System.nanoTime() < deadlineNs || (ctx.trace && n < TracedWaves))) {
      wave(out, "wave")
      n += 1
      if (n == TracedWaves) opStats.stop(n)
    }
    if (n < TracedWaves) opStats.stop(n)
  }

  private var gated = (0, 0, 0, 0) // (dups gated, dups, novel gated, novel)

  def finish(out: Outcomes): Unit = {
    val kept = spark.read.parquet(store + "/*.parquet").select($"doc_id")
      .as[Long].collect().toSet
    measured.foreach { case (w, i) =>
      val wv = waves(w)
      val leaked = wv.dupIds.count(kept)
      val lost = wv.novelIds.count(id => !kept(id))
      gated = (gated._1 + wv.dupIds.size - leaked, gated._2 + wv.dupIds.size,
        gated._3 + lost, gated._4 + wv.novelIds.size)
      if (out.ops(i).ok && (leaked > 0 || lost > 0))
        out.verify(i, Some(s"wave $w: $leaked near-dups kept, $lost novel docs gated"))
    }
  }

  def layers(): Map[String, Double] = {
    def med(k: String): Double = Stats.median(progress.flatMap(_.get(k)).map(_.toDouble).toSeq)
    Map(
      "gate.add_batch_ms" -> med("addBatch"),
      "gate.query_planning_ms" -> med("queryPlanning"),
      "gate.wal_commit_ms" -> med("walCommit"),
      "gate.get_batch_ms" -> med("getBatch"),
      "gate.index_files" -> Dedup.indexFileCounts(spark, index).values.sum.toDouble,
      "gate.recall" -> gated._1.toDouble / math.max(gated._2, 1),
      "gate.false_gate_frac" -> gated._3.toDouble / math.max(gated._4, 1)) ++
      opStats.metrics
  }

  override def close(): Unit = if (query != null) query.stop()
}

object StreamGate {
  val NIndex = 5000L
  val StoredDups = 100
  val WaveDups = 25
  val Novel = 375
  /** Waves prepared in set-up; a run stops early if it uses them all. */
  val MaxWaves = 16
  /** Waves the traced per-layer numbers cover: one pending-buffer fold. */
  val TracedWaves = 8
  val NovelIds = 1000000L
  val StoredDupIds = 2000000L
  val WaveDupIds = 3000000L
}

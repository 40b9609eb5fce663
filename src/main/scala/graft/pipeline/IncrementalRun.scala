package graft.pipeline

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.sources.IncrementalIngest

/** The composed end-to-end incremental pass (run_full_pipeline.py:353-431:
  * detect-new → backfill missing hashes on already-known records → ingest
  * new content → cumulative metadata → rollup), built from the pieces the
  * library proves individually (q04 anti-join detect-new, q13
  * backfill-merge, IncrementalIngest hash-dedup append, IncrementalAgg
  * mergeable rollup). One pass does each piece of work once:
  *
  *  - one classify join: the feed (one row per id) full-outer-joined with
  *    the metadata on `doc_id`, persisted; a single aggregate over it
  *    yields the feed, new-id and backfill counts, and the new records,
  *    the backfilled metadata and the new metadata rows all come from it;
  *  - one store scan per projection: the hash projection (in
  *    `appendBatch`), the id projection (ingested vs skipped labels), and
  *    this pass's own batch file (source, text) for the rollup — never
  *    prior batches' content;
  *  - one write per state table, by swap (below);
  *  - every read of the pass's own tables carries the schema the pass
  *    writes, so no read runs a schema-inference job.
  *
  * State-table swap: a table is never deleted before its replacement
  * lands. The new version is built in `<path>_rewrite` beside a
  * `_pending` flag; removing the flag commits it — for the rollup the
  * flag is moved to the batch's merged marker, so the rollup version and
  * its marker commit in one rename. Then the live dir moves to
  * `<path>_old`, the build is renamed to `path` and `_old` is dropped.
  * Every reader of a state table first resolves a swap cut short by a
  * crash: a committed build is promoted, anything else rolls back to the
  * live (or moved-aside) version. No `_rewrite` or `_old` dir survives a
  * completed pass.
  *
  * Re-running with an already-processed feed is a no-op (ids are known →
  * nothing ingested → rollup unchanged): the resumability contract of the
  * reference's cumulative metadata_by_id, as a dataflow.
  */
object IncrementalRun {

  /** What one pass did. Every count is feed- or delta-sized by
    * construction; `nRollupDeltaRows` is the number of rows that entered
    * the rollup merge — equal to this run's ingested delta, NOT the store
    * size (the no-rescan property, assertable by callers/specs).
    */
  final case class Summary(nFeed: Long, nNewIds: Long, nBackfilled: Long,
      nIngested: Long, nSkippedDuplicate: Long, nRollupDeltaRows: Long)

  private val metaSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("sha256", StringType),
    StructField("status", StringType)))

  private val rollupSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("n_docs", LongType),
    StructField("total_chars", LongType)))

  private val docSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("text", StringType)))

  /** A state table after resolving any swap cut short, read with the
    * schema the pass writes (an empty frame if the table does not exist).
    */
  private def readOrEmpty(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    recoverSwap(path)
    if (new File(path).exists()) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** A state table's live, build and moved-aside dirs. */
  private def swapDirs(path: String): (File, File, File) =
    (new File(path), new File(path + "_rewrite"), new File(path + "_old"))

  /** Replace a small state table by swap (see the object doc). `df` may
    * read `path` lazily: it is fully written to the build before the live
    * dir moves. With `marker`, the commit moves the `_pending` flag there.
    */
  private def rewrite(df: DataFrame, path: String,
      marker: Option[File] = None): Unit = {
    val (_, tmp, _) = swapDirs(path)
    val pending = new File(tmp, "_pending")
    dropBuild(tmp)
    tmp.mkdirs()
    pending.createNewFile()
    df.write.mode(SaveMode.Append).parquet(tmp.getPath)
    marker match {
      case Some(m) => m.getParentFile.mkdirs(); move(pending, m)
      case None => Files.delete(pending.toPath)
    }
    promote(path)
  }

  /** Finish or undo a swap of `path` that a crash cut short. A build is
    * committed once Spark's job commit wrote its `_SUCCESS` and its
    * `_pending` flag is gone; a committed build is promoted. Otherwise the
    * build is dropped and a moved-aside live dir is moved back.
    */
  private def recoverSwap(path: String): Unit = {
    val (live, tmp, old) = swapDirs(path)
    if (new File(tmp, "_SUCCESS").exists() && !new File(tmp, "_pending").exists())
      promote(path)
    else {
      dropBuild(tmp)
      if (!live.exists() && old.exists()) move(old, live)
      deleteRec(old)
    }
  }

  /** Move the live dir aside (if it is still there), rename the
    * committed build to `path`, drop the old version.
    */
  private def promote(path: String): Unit = {
    val (live, tmp, old) = swapDirs(path)
    if (live.exists()) { deleteRec(old); move(live, old) }
    move(tmp, live)
    deleteRec(old)
  }

  /** Delete an uncommitted build, `_SUCCESS` first: a build cut short in
    * its deletion must never read as committed.
    */
  private def dropBuild(tmp: File): Unit = {
    new File(tmp, "_SUCCESS").delete()
    deleteRec(tmp)
  }

  private def move(from: File, to: File): Unit =
    Files.move(from.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE)

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }

  /** Merge a delta-docs frame (source, n_chars columns) into the persisted
    * per-source rollup — the rollup-maintenance step shared by the batch
    * run and the streaming form (StreamingOps.rollupStream). With
    * `marker`, the new rollup version and the marker commit together.
    */
  def mergeRollup(spark: SparkSession, deltaDocs: DataFrame,
      rollupPath: String, marker: Option[File] = None): Unit = {
    val existing = readOrEmpty(spark, rollupPath, rollupSchema)
    rewrite(IncrementalAgg.merge(existing, deltaDocs), rollupPath, marker)
  }

  /** Idempotently merge ONE store batch file into the rollup, tracked by
    * a per-batch marker under `<rollupPath>_merged/`. This is what makes
    * the rollup replay-safe: appendBatch deduplicates content, so a
    * replayed batch (streaming epoch redelivery, or a re-run after a
    * crash between append and merge) ingests 0 rows — the merge decision
    * therefore keys off "batch file exists and is unmarked", never off
    * this attempt's ingest count. The marker commits in the same rename
    * as the merged rollup version, so a crash never leaves one without
    * the other.
    *
    * @return true iff the batch was merged by this call.
    */
  def commitBatch(spark: SparkSession, storeDir: String, rollupPath: String,
      batchId: String): Boolean = {
    import spark.implicits._
    recoverSwap(rollupPath)
    val batchDir = new File(s"$storeDir/$batchId.parquet")
    val marker = new File(s"${rollupPath}_merged/$batchId")
    if (!batchDir.exists() || marker.exists()) return false
    val delta = IncrementalIngest.scan(spark, Seq(batchDir.getPath), docSchema)
      .select($"source", length($"text").cast("long").as("n_chars"))
    mergeRollup(spark, delta, rollupPath, Some(marker))
    true
  }

  /** Crash repair: merge every store batch file that has no merged
    * marker (oldest first). Run at the start of each pass so a crash
    * between a prior append and its merge heals before new work.
    *
    * @return number of batches repaired.
    */
  def repairRollup(spark: SparkSession, storeDir: String,
      rollupPath: String): Int = {
    val files = Option(new File(storeDir).listFiles())
      .getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet")).sorted
    files.count(bid => commitBatch(spark, storeDir, rollupPath, bid))
  }

  /** One incremental pass over `feed` (doc_id, source, text columns).
    * State: `storeDir` (IncrementalIngest batch store), `metaPath`
    * (cumulative per-id metadata), `rollupPath` (per-source rollup).
    *
    * Crash-replay contract: re-running after a crash is safe with the
    * SAME batchId, whether or not the feed grew in between. The repair
    * pass first merges (and marks) any batch file a prior crash left
    * unmerged; ingest then targets the EFFECTIVE batch id — the first of
    * `batchId`, `batchId.1`, `batchId.2`, … with no merged marker — so
    * new content never lands in an already-merged file, which the marker
    * would keep out of the rollup forever. Old feed rows content-dedup
    * against the healed batch; genuinely new rows land in the fresh
    * sub-batch and merge normally. The same mechanism makes reusing a
    * completed batchId with new content safe: it appends a sub-batch
    * instead of clobbering the stored rows.
    *
    * Pairing contract: one `storeDir` pairs with ONE `rollupPath` for its
    * lifetime. Merged markers live under `rollupPath`_merged, so pointing
    * a second rollupPath at the same store makes each rollup's marker
    * family blind to the other's sub-batches — and the repair pass, which
    * re-merges every store file unmarked for THIS rollup, would
    * double-merge files the other rollup already consumed. Fan-out to
    * several rollups belongs downstream of the store, not on it.
    */
  def run(spark: SparkSession, feed: DataFrame, storeDir: String,
      metaPath: String, rollupPath: String, batchId: String): Summary = {
    import spark.implicits._
    // Heal first: a prior crash between append and merge leaves an
    // unmarked batch file — merge it before processing new work.
    repairRollup(spark, storeDir, rollupPath)
    // One row per feed id (deterministic keeper): a feed unioned from
    // several listings can carry an id twice, and the metadata contract
    // is one row per id forever.
    val idw = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"source", $"text")
    val f = feed.select($"doc_id", $"source", $"text")
      .withColumn("_rn", row_number().over(idw))
      .filter($"_rn" === 1)
      .select($"doc_id", $"source".as("f_source"), $"text",
        sha2($"text", 256).as("f_sha"), lit(true).as("_in_feed"))
    val meta = readOrEmpty(spark, metaPath, metaSchema)
      .withColumn("_in_meta", lit(true))

    // Classify every id once: feed-only ids are new (q04 detect-new);
    // known rows missing sha256 take it from the feed's content (q13
    // backfill) — "backfilled_existing", not re-ingested.
    val classified = f.join(meta, Seq("doc_id"), "full_outer")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val isNew = $"_in_feed" && $"_in_meta".isNull
      val fills = $"sha256".isNull && $"f_sha".isNotNull
      val counts = classified.agg(
        count($"_in_feed"),
        count(when(isNew, 1)),
        // a row already labelled backfilled_existing is not a new backfill
        count(when($"_in_meta" && fills &&
          !($"status" <=> "backfilled_existing"), 1)),
        // prior skipped_duplicate rows the metadata rewrite carries over
        count(when($"_in_meta" && !fills &&
          $"status" === "skipped_duplicate", 1))).head()
      val newRecords = classified.filter(isNew)
        .select($"doc_id", $"f_source".as("source"), $"text")

      // Ingest the genuinely new records; content-hash dedup against the
      // store's hash projection lives in appendBatch. The effective batch
      // id skips every already-MERGED id in the family (post-repair, every
      // existing batch file is marked), so appendBatch only ever writes a
      // file the rollup hasn't consumed.
      val effBatchId = (Iterator(batchId) ++
        Iterator.from(1).map(k => s"$batchId.$k"))
        .find(id => !new File(s"${rollupPath}_merged/$id").exists())
        .get
      val nIngested =
        IncrementalIngest.appendBatch(newRecords, storeDir, effBatchId)

      // Cumulative metadata: every new id gets a row so the NEXT run's
      // detect-new skips it — the resumability contract. Status comes
      // from the STORE, not from this attempt's write: an id whose row
      // exists in any batch file is 'ingested' (covers a prior crash
      // between append and this rewrite — possibly under an older
      // batchId); an id absent from the store duplicated another
      // record's content and is 'skipped_duplicate'.
      val inStore = IncrementalIngest.storedIds(spark, storeDir)
        .withColumn("status", lit("ingested"))
      val newMeta = classified.filter(isNew)
        .select($"doc_id", $"f_source".as("source"), $"f_sha".as("sha256"))
        .join(inStore, Seq("doc_id"), "left")
        .select($"doc_id", $"source", $"sha256",
          coalesce($"status", lit("skipped_duplicate")).as("status"))
      val backfilled = classified.filter($"_in_meta")
        .select($"doc_id", $"source",
          coalesce($"sha256", $"f_sha").as("sha256"),
          when(fills, lit("backfilled_existing")).otherwise($"status")
            .as("status"))
      // The write itself counts the skipped rows it lands (no extra job);
      // less the carried-over ones, that is this pass's skipped count.
      val skipped = Observation("skipped_duplicate")
      rewrite(backfilled.unionByName(newMeta).observe(skipped,
        count(when($"status" === "skipped_duplicate", 1)).as("n")), metaPath)

      // Rollup: prior rollup (rollup-sized) merged with ONLY this run's
      // batch file — the delta, not the store — via the marker-tracked
      // idempotent commit; what it merged is exactly what appendBatch
      // wrote.
      val merged = commitBatch(spark, storeDir, rollupPath, effBatchId)
      // An empty first run must still leave a readable (empty) rollup.
      if (!new File(rollupPath).exists())
        mergeRollup(spark,
          Seq.empty[(String, Long)].toDF("source", "n_chars"), rollupPath)

      Summary(counts.getLong(0), counts.getLong(1), counts.getLong(2),
        nIngested, skipped.get("n").asInstanceOf[Long] - counts.getLong(3),
        if (merged) nIngested else 0L)
    } finally classified.unpersist()
  }
}

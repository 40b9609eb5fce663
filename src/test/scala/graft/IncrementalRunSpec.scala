package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.{IncrementalAgg, IncrementalRun}
import graft.sources.IncrementalIngest

/** The composed incremental pass (run_full_pipeline.py:353-431 as a
  * dataflow): detect-new, backfill, hash-dedup ingest, cumulative
  * metadata, mergeable rollup — and the no-rescan property: a re-run
  * touches only the delta (row counts prove it), and the merged rollup
  * equals a from-scratch recompute.
  */
class IncrementalRunSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, src: String) = (id, src, s"unique content $id")

  test("composed incremental run: backfill + delta-only re-run + merge==recompute") {
    val root = Files.createTempDirectory("graft_irun_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()

    // Pre-seed metadata: ids 1-5 are already known but missing sha256
    // (the reference's rows awaiting backfill). Their content is NOT in
    // the store — known ids are never re-ingested.
    Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"), (5L, "B"))
      .toDF("doc_id", "source")
      .select($"doc_id", $"source",
        lit(null).cast("string").as("sha256"), lit("pending").as("status"))
      .write.parquet(meta)

    // Run 1: feed has the 5 known ids + 20 new docs.
    val feed1 = (Seq(doc(1, "A"), doc(2, "A"), doc(3, "B"), doc(4, "B"), doc(5, "B")) ++
      (6L to 25L).map(i => doc(i, if (i % 2 == 0) "A" else "B")))
      .toDF("doc_id", "source", "text")
    val s1 = IncrementalRun.run(spark, feed1, store, meta, rollup, "b0001")
    assert(s1.nFeed == 25 && s1.nNewIds == 20 && s1.nBackfilled == 5)
    assert(s1.nIngested == 20 && s1.nSkippedDuplicate == 0)
    assert(s1.nRollupDeltaRows == 20, "rollup must consume the delta only")

    // Run 2: same feed + 10 new ids + 3 new ids whose content duplicates
    // stored docs (content dedup must skip them but metadata must still
    // learn the ids, so run 3 won't re-attempt).
    val feed2 = feed1.unionByName(
      ((26L to 35L).map(i => doc(i, "A")) ++
        Seq((101L, "B", "unique content 6"), (102L, "B", "unique content 7"),
          (103L, "A", "unique content 8")))
        .toDF("doc_id", "source", "text"))
    val s2 = IncrementalRun.run(spark, feed2, store, meta, rollup, "b0002")
    assert(s2.nFeed == 38 && s2.nNewIds == 13 && s2.nBackfilled == 0)
    assert(s2.nIngested == 10 && s2.nSkippedDuplicate == 3)
    assert(s2.nRollupDeltaRows == 10,
      s"re-run must merge 10 delta rows, not rescan the ${20 + 10}-row store")

    // Run 3: identical feed → resumable no-op.
    val s3 = IncrementalRun.run(spark, feed2, store, meta, rollup, "b0003")
    assert(s3.nNewIds == 0 && s3.nIngested == 0 && s3.nBackfilled == 0)
    assert(s3.nRollupDeltaRows == 0)
    assert(!new java.io.File(s"$store/b0003.parquet").exists(),
      "a no-op run must not write a batch file")

    // Cumulative metadata: every id seen exactly once, statuses correct.
    val m = spark.read.parquet(meta)
    assert(m.count() == 38 && m.select("doc_id").distinct().count() == 38)
    assert(m.filter($"status" === "backfilled_existing").count() == 5)
    assert(m.filter($"status" === "skipped_duplicate").count() == 3)
    assert(m.filter($"status" === "ingested").count() == 30)
    assert(m.filter($"sha256".isNull).count() == 0)

    // Incremental rollup == from-scratch recompute over the whole store.
    val scratch = IncrementalAgg.sourceAgg(
      spark.read.parquet(s"$store/*.parquet")
        .select($"source", length($"text").cast("long").as("n_chars")))
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    val merged = spark.read.parquet(rollup)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(merged == scratch, s"merged=$merged scratch=$scratch")

    // Store-wide hash uniqueness still audits clean.
    val audit = IncrementalIngest.audit(spark, store).collect()(0)
    assert(audit.getAs[Long]("duplicate_count") == 0)
  }

  test("duplicate feed ids collapse to one deterministic metadata row") {
    val root = Files.createTempDirectory("graft_irun_dup_").toString
    val store = s"$root/store"; new java.io.File(store).mkdirs()
    // id 1 appears twice (a feed unioned from two listings)
    val feed = Seq((1L, "A", "payload one"), (1L, "B", "payload other"),
      (2L, "A", "payload two")).toDF("doc_id", "source", "text")
    val s1 = IncrementalRun.run(spark, feed, store,
      s"$root/meta", s"$root/rollup", "b0001")
    assert(s1.nFeed == 2 && s1.nNewIds == 2 && s1.nIngested == 2)
    val m = spark.read.parquet(s"$root/meta")
    assert(m.count() == 2 && m.select("doc_id").distinct().count() == 2)
    // deterministic keeper: (source, text) ordering picks ("A", "payload one")
    assert(m.filter($"doc_id" === 1L).select("source").as[String].head() == "A")
  }

  test("crash between append and rollup merge heals on the next run") {
    val root = Files.createTempDirectory("graft_irun_crash_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    val feed1 = (1L to 10L).map(i => doc(i, "A")).toDF("doc_id", "source", "text")
    IncrementalRun.run(spark, feed1, store, meta, rollup, "b0001")
    // Simulated crash: a batch lands in the store but its rollup merge
    // (and metadata) never happened.
    IncrementalIngest.appendBatch(
      (11L to 15L).map(i => doc(i, "B")).toDF("doc_id", "source", "text"),
      store, "b0002")
    // The next run repairs the unmerged batch before its own work...
    IncrementalRun.run(spark, feed1, store, meta, rollup, "b0003")
    val scratch = IncrementalAgg.sourceAgg(
      spark.read.parquet(s"$store/*.parquet")
        .select($"source", length($"text").cast("long").as("n_chars")))
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    val merged = spark.read.parquet(rollup)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(merged == scratch, s"merged=$merged scratch=$scratch")
    // ...and the commit is idempotent: an already-merged batch is a no-op.
    assert(!IncrementalRun.commitBatch(spark, store, rollup, "b0002"))
    assert(!IncrementalRun.commitBatch(spark, store, rollup, "b0001"))
  }

  test("crash-recovered ids are labeled 'ingested', not 'skipped_duplicate'") {
    val root = Files.createTempDirectory("graft_irun_label_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    // Simulated crash: batch b0001 landed in the store, but the run died
    // before the metadata rewrite — the ids exist in the store with no
    // metadata row.
    val feed = (1L to 5L).map(i => doc(i, "A")).toDF("doc_id", "source", "text")
    IncrementalIngest.appendBatch(feed, store, "b0001")
    // The re-run (same batchId, same feed) must record them as ingested —
    // their content IS in the store — and the rollup must merge once.
    val s1 = IncrementalRun.run(spark, feed, store, meta, rollup, "b0001")
    assert(s1.nNewIds == 5 && s1.nSkippedDuplicate == 0,
      s"recovered ids must not count as skipped: $s1")
    val m = spark.read.parquet(meta)
    assert(m.filter($"status" === "ingested").count() == 5)
    assert(m.filter($"status" === "skipped_duplicate").count() == 0)
    val merged = spark.read.parquet(rollup).as[(String, Long, Long)].collect()
    assert(merged.toSeq == Seq(("A", 5L, feed.agg(
      org.apache.spark.sql.functions.sum(length($"text"))).as[Long].head())))
    // genuine content duplicates under NEW ids still label as skipped
    val feed2 = feed.unionByName(
      Seq((11L, "A", "unique content 1")).toDF("doc_id", "source", "text"))
    val s2 = IncrementalRun.run(spark, feed2, store, meta, rollup, "b0002")
    assert(s2.nNewIds == 1 && s2.nIngested == 0 && s2.nSkippedDuplicate == 1)
    assert(spark.read.parquet(meta)
      .filter($"doc_id" === 11L).select("status").as[String].head()
      == "skipped_duplicate")
  }

  test("a feed that grew during a crash recovers under the same batchId") {
    val root = Files.createTempDirectory("graft_irun_grow_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    // Simulated crash: b0001's batch file landed, but neither the
    // metadata rewrite nor the rollup merge happened. Repair merges and
    // marks b0001, so the grown feed's extra rows must land in a fresh
    // sub-batch: rewritten into the MARKED file, the rollup would never
    // read them.
    val feed1 = (1L to 5L).map(i => doc(i, "A")).toDF("doc_id", "source", "text")
    IncrementalIngest.appendBatch(feed1, store, "b0001")
    val grown = feed1.unionByName(
      (6L to 8L).map(i => doc(i, "B")).toDF("doc_id", "source", "text"))
    // Replay with the SAME batchId and the grown feed — no workaround.
    val s1 = IncrementalRun.run(spark, grown, store, meta, rollup, "b0001")
    assert(s1.nNewIds == 8 && s1.nIngested == 3 && s1.nSkippedDuplicate == 0)
    // the healed batch keeps its rows; the growth landed in a sub-batch
    assert(spark.read.parquet(s"$store/b0001.parquet").count() == 5)
    assert(spark.read.parquet(s"$store/b0001.1.parquet").count() == 3)
    // rollup saw BOTH the healed batch and the growth
    val scratch = IncrementalAgg.sourceAgg(
      spark.read.parquet(s"$store/*.parquet")
        .select($"source", length($"text").cast("long").as("n_chars")))
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    val merged = spark.read.parquet(rollup)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(merged == scratch, s"merged=$merged scratch=$scratch")
    assert(spark.read.parquet(meta)
      .filter($"status" === "ingested").count() == 8)
  }

  test("reusing a completed batchId appends a sub-batch, never clobbers") {
    val root = Files.createTempDirectory("graft_irun_reuse_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    val feed1 = (1L to 5L).map(i => doc(i, "A")).toDF("doc_id", "source", "text")
    IncrementalRun.run(spark, feed1, store, meta, rollup, "b0001")
    val feed2 = feed1.unionByName(
      (6L to 8L).map(i => doc(i, "B")).toDF("doc_id", "source", "text"))
    // b0001 is completed (merged + recorded); reusing it must not rewrite
    // its file — the new docs go to b0001.1 and reach the rollup.
    val s2 = IncrementalRun.run(spark, feed2, store, meta, rollup, "b0001")
    assert(s2.nIngested == 3)
    assert(spark.read.parquet(s"$store/b0001.parquet").count() == 5)
    assert(spark.read.parquet(s"$store/b0001.1.parquet").count() == 3)
    val scratch = IncrementalAgg.sourceAgg(
      spark.read.parquet(s"$store/*.parquet")
        .select($"source", length($"text").cast("long").as("n_chars")))
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    val merged = spark.read.parquet(rollup)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(merged == scratch, s"merged=$merged scratch=$scratch")
    // and replaying the reuse is a no-op (content already stored)
    val s3 = IncrementalRun.run(spark, feed2, store, meta, rollup, "b0001")
    assert(s3.nIngested == 0)
    assert(!new java.io.File(s"$store/b0001.2.parquet").exists(),
      "an all-duplicate replay must not write another sub-batch")
  }

  test("replaying an identical completed run is a no-op, not an error") {
    val root = Files.createTempDirectory("graft_irun_replay_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    val feed = (1L to 4L).map(i => doc(i, "A")).toDF("doc_id", "source", "text")
    IncrementalRun.run(spark, feed, store, meta, rollup, "b0001")
    val before = spark.read.parquet(rollup).collect().toSeq
    // epoch redelivery: same feed, same batchId, everything already done
    val s2 = IncrementalRun.run(spark, feed, store, meta, rollup, "b0001")
    assert(s2.nNewIds == 0 && s2.nIngested == 0)
    assert(spark.read.parquet(rollup).collect().toSeq == before)
  }

  private def copyDir(from: String, to: String): Unit = {
    val (src, dst) = (java.nio.file.Paths.get(from), java.nio.file.Paths.get(to))
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }

  private def rows(path: String) =
    spark.read.parquet(path).orderBy("doc_id").collect().toSeq

  private def rollupRows(path: String) =
    spark.read.parquet(path).orderBy("source").collect().toSeq

  private def swapDebris(root: String): Seq[String] =
    Seq("meta", "rollup").flatMap(t => Seq(s"${t}_rewrite", s"${t}_old"))
      .filter(d => new java.io.File(s"$root/$d").exists())

  test("a crash in any window of a state-table swap recovers on the next run") {
    // Pass 1 seeds the state; pass 2 (ingest, backfill, duplicates) is
    // the pass a crash cuts; the next run replays it with the same feed
    // and batchId. Snapshots of the uninterrupted run after each pass let
    // each case rebuild exactly the directories a crash would leave.
    val feed1 = (1L to 10L).map(i => doc(i, if (i % 2 == 0) "A" else "B"))
      .toDF("doc_id", "source", "text")
    val feed2 = feed1.unionByName(((11L to 16L).map(i => doc(i, "A")) ++
      (201L to 203L).map(i => doc(i, "B")) ++
      Seq((101L, "B", "unique content 3"), (102L, "A", "unique content 4")))
      .toDF("doc_id", "source", "text"))
    def pass(root: String, feed: org.apache.spark.sql.DataFrame, bid: String) =
      IncrementalRun.run(spark, feed, s"$root/store", s"$root/meta",
        s"$root/rollup", bid)
    val base = Files.createTempDirectory("graft_irun_swap_").toString
    val ref = s"$base/ref"
    new java.io.File(s"$ref/store").mkdirs()
    // ids 201-203 known without sha256: pass 2 backfills them
    Seq((201L, "B"), (202L, "B"), (203L, "B")).toDF("doc_id", "source")
      .select($"doc_id", $"source",
        lit(null).cast("string").as("sha256"), lit("pending").as("status"))
      .write.parquet(s"$ref/meta")
    pass(ref, feed1, "b0001")
    copyDir(ref, s"$base/after1")
    val s2 = pass(ref, feed2, "b0002")
    assert(s2 == IncrementalRun.Summary(21, 8, 3, 6, 2, 6), s"$s2")
    copyDir(ref, s"$base/after2")
    val replayRef = pass(ref, feed2, "b0002")
    assert(swapDebris(ref).isEmpty, "a completed pass leaves no swap dirs")
    val (metaRef, rollupRef) = (rows(s"$ref/meta"), rollupRows(s"$ref/rollup"))

    // Each case: the state-table dir layout a crash leaves, as
    // (table, live, _rewrite, _old) with "pre"/"post" naming the table's
    // version before/after pass 2, plus whether the build still holds its
    // _pending flag. A crash in the metadata swap precedes the rollup
    // merge, so the rollup is "pre" and b0002 unmarked; a crash in the
    // rollup swap follows the metadata rewrite, so the metadata is "post".
    case class Crash(name: String, table: String, live: Option[String],
        build: Option[String], old: Option[String], pending: Boolean)
    val cases = Seq("meta", "rollup").flatMap { t => Seq(
      Crash(s"$t: build written, not committed", t, Some("pre"), Some("post"), None, true),
      Crash(s"$t: build committed", t, Some("pre"), Some("post"), None, false),
      Crash(s"$t: live dir moved aside", t, None, Some("post"), Some("pre"), false),
      Crash(s"$t: before _old is dropped", t, Some("post"), None, Some("pre"), false))
    }
    cases.zipWithIndex.foreach { case (c, i) =>
      val root = s"$base/crash$i"
      copyDir(s"$base/after2", root)
      // put `table`'s version from before ("pre") or after ("post") pass 2 at `dir`
      def place(table: String, version: String, dir: String): Unit = {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/$dir"))
        copyDir(s"$base/after${if (version == "pre") 1 else 2}/$table", s"$root/$dir")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/${c.table}"))
      c.live.foreach(v => place(c.table, v, c.table))
      c.build.foreach(v => place(c.table, v, s"${c.table}_rewrite"))
      if (c.pending) new java.io.File(s"$root/${c.table}_rewrite/_pending").createNewFile()
      c.old.foreach(v => place(c.table, v, s"${c.table}_old"))
      if (c.table == "meta") place("rollup", "pre", "rollup")
      // b0002's marker commits with the rollup build that merged it
      if (c.table == "meta" || c.pending)
        new java.io.File(s"$root/rollup_merged/b0002").delete()

      val replay = pass(root, feed2, "b0002")
      assert(swapDebris(root).isEmpty, s"${c.name}: swap dirs survived the pass")
      assert(rows(s"$root/meta") == metaRef, s"${c.name}: metadata differs")
      assert(rollupRows(s"$root/rollup") == rollupRef, s"${c.name}: rollup differs")
      // A committed swap resolves to pass 2's result, so the replay is the
      // same no-op as after an uninterrupted pass. An uncommitted
      // metadata build rolls back: the replay redoes the metadata, and
      // finds pass 2's content already stored.
      if (c.table == "rollup" || !c.pending) assert(replay == replayRef, s"${c.name}: $replay")
      else assert(replay == s2.copy(nIngested = 0, nRollupDeltaRows = 0), s"${c.name}: $replay")
    }
  }

  test("one pass over every planted class stays within its Spark job budget") {
    val root = Files.createTempDirectory("graft_irun_jobs_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    // ids 1-5 known without sha256 (legacy rows awaiting backfill)
    Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"), (5L, "B"))
      .toDF("doc_id", "source")
      .select($"doc_id", $"source",
        lit(null).cast("string").as("sha256"), lit("pending").as("status"))
      .write.parquet(meta)
    // two earlier passes leave two batch files
    IncrementalRun.run(spark, (6L to 20L).map(i => doc(i, "A"))
      .toDF("doc_id", "source", "text"), store, meta, rollup, "b0001")
    IncrementalRun.run(spark, (21L to 30L).map(i => doc(i, "B"))
      .toDF("doc_id", "source", "text"), store, meta, rollup, "b0002")
    // replayed 6-15, backfill 1-5, novel 31-40, duplicate content 201-203
    val feed = ((6L to 15L).map(i => doc(i, "A")) ++
      (1L to 5L).map(i => doc(i, "B")) ++ (31L to 40L).map(i => doc(i, "A")) ++
      Seq((201L, "A", "unique content 6"), (202L, "B", "unique content 21"),
        (203L, "B", "unique content 22"))).toDF("doc_id", "source", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.SparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val s = try {
      val s = IncrementalRun.run(spark, feed, store, meta, rollup, "b0003")
      org.apache.spark.sql.graft.SparkInternals.drainListenerBus(spark.sparkContext)
      s
    } finally spark.sparkContext.removeSparkListener(l)
    assert(s == IncrementalRun.Summary(28, 13, 5, 10, 3, 10), s"$s")
    // A second scan of a store projection or a second write of a state
    // table shows up here before it shows up in a benchmark.
    assert(jobs.get() <= 25, s"one pass ran ${jobs.get()} Spark jobs")
  }
}

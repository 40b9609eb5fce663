package graft

import java.nio.file.Files
import graft.sources.IncrementalIngest

/** Incremental store semantics: batch append, cross-batch skip-by-hash,
  * in-batch dedup, uniqueness audit — the reference's re-run behavior.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore(): String =
    Files.createTempDirectory("graft_store_").toString

  test("first batch writes all unique records; duplicate content collapses to first id") {
    val store = tmpStore()
    val batch = Seq(
      (1L, "alpha content"), (2L, "beta content"),
      (3L, "alpha content") // same content as id 1 → dropped, keep min id
    ).toDF("doc_id", "text")
    val n = IncrementalIngest.appendBatch(batch, store, "b0001")
    assert(n == 2)
    val stored = spark.read.parquet(s"$store/b0001.parquet")
    assert(stored.count() == 2)
    assert(stored.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("re-ingesting the same content is a no-op; new content appends a new batch file") {
    val store = tmpStore()
    IncrementalIngest.appendBatch(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"), store, "b0001")
    // re-run with overlap + one new record
    val n2 = IncrementalIngest.appendBatch(
      Seq((5L, "alpha"), (6L, "gamma")).toDF("doc_id", "text"), store, "b0002")
    assert(n2 == 1, "only the unseen content lands")
    val audit = IncrementalIngest.audit(spark, store).collect()(0)
    assert(audit.getAs[Long]("total_hashes") == 3)
    assert(audit.getAs[Long]("unique_hashes") == 3)
    assert(audit.getAs[Long]("duplicate_count") == 0)
  }

  test("fully-duplicate batch writes no file") {
    val store = tmpStore()
    IncrementalIngest.appendBatch(
      Seq((1L, "alpha")).toDF("doc_id", "text"), store, "b0001")
    val n = IncrementalIngest.appendBatch(
      Seq((9L, "alpha")).toDF("doc_id", "text"), store, "b0002")
    assert(n == 0)
    assert(!new java.io.File(s"$store/b0002.parquet").exists())
  }

  test("a store file without the hash column makes appendBatch throw") {
    val store = tmpStore()
    IncrementalIngest.appendBatch(
      Seq((1L, "alpha")).toDF("doc_id", "text"), store, "b0001")
    // a foreign parquet file in the store: a schema'd read would give it
    // null hashes and dedup nothing against it
    Seq((2L, "beta")).toDF("doc_id", "text")
      .write.parquet(s"$store/foreign.parquet")
    val e = intercept[IllegalStateException](IncrementalIngest.appendBatch(
      Seq((3L, "beta")).toDF("doc_id", "text"), store, "b0002"))
    assert(e.getMessage.contains(IncrementalIngest.hashCol))
    assert(!new java.io.File(s"$store/b0002.parquet").exists())
  }
}

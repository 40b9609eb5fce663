package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Incremental batch-append parquet store keyed by content hash — the
  * reference's core ingest contract (extract_pdf_text.py:120-241):
  * each batch lands as its own timestamped zstd parquet file; records whose
  * content hash already exists in ANY prior batch are skipped; an audit
  * verifies global hash uniqueness.
  *
  * Spark-first shape: "already processed" is an anti-join against the
  * store's hash projection (a column-pruned scan of all batch files — at
  * 100 TB the store would be a partitioned table and this scan reads only
  * the hash column's pages); the reference's Python set-in-memory loop
  * (load_processed_ids) does not scale past one node.
  *
  * Reads are projections: each public read is one column-pruned scan
  * of the batch files, and [[appendBatch]] scans the hash projection
  * once. Every read carries the schema the store is written with, so no
  * read runs a schema-inference job. A schema'd parquet read fills a
  * column a file lacks with nulls; [[scan]] therefore checks every batch
  * file's footer on the driver first, and a file without a projected
  * column fails the read instead of silently deduplicating (or
  * labelling) nothing.
  */
object IncrementalIngest {

  val hashCol = "content_hash"

  private def batchFiles(storeDir: String,
      excludeBatchId: Option[String]): Seq[String] = {
    val dir = new java.io.File(storeDir)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") &&
        !excludeBatchId.contains(f.getName.stripSuffix(".parquet")))
      .map(_.getPath).toIndexedSeq
  }

  /** Read `schema`'s columns of the given batch files (an empty frame if
    * there are none). Each file's footer — one data file per batch
    * directory — must carry every column; the check reads footers on the
    * driver and runs no Spark job.
    */
  private[graft] def scan(spark: SparkSession, files: Seq[String],
      schema: StructType): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.foreach { f =>
      val dir = new java.io.File(f)
      val data = if (!dir.isDirectory) Some(dir)
        else Option(dir.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .find(p => p.isFile && !p.getName.startsWith("_") && !p.getName.startsWith("."))
      data.foreach { p =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toURI), conf))
        val footer = try reader.getFileMetaData.getSchema finally reader.close()
        schema.fieldNames.find(c => !footer.containsField(c)).foreach { c =>
          throw new IllegalStateException(s"store file $p has no column $c")
        }
      }
    }
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files: _*)
  }

  /** All content hashes currently in the store (empty frame if none).
    * Hashes are unique across the store by construction, so no distinct.
    * `excludeBatchId` leaves one batch's own file out of the scan — the
    * dedup feed for a replay of that same batch (see [[appendBatch]]).
    */
  def processedHashes(spark: SparkSession, storeDir: String,
      excludeBatchId: Option[String] = None): DataFrame =
    scan(spark, batchFiles(storeDir, excludeBatchId),
      StructType(Seq(StructField(hashCol, StringType))))

  /** Distinct record ids currently in the store, read as long
    * (column-pruned scan, same shape as [[processedHashes]]) — lets a caller distinguish "this
    * id's content is in the store" (ingested, possibly by a crashed run
    * whose metadata write never landed) from "this id duplicated another
    * record's content" (skipped).
    */
  def storedIds(spark: SparkSession, storeDir: String,
      idCol: String = "doc_id"): DataFrame =
    scan(spark, batchFiles(storeDir, None),
      StructType(Seq(StructField(idCol, LongType)))).distinct()

  /** Append one ingest batch: hash the content column, drop records whose
    * hash exists in the store or earlier in this batch (keep min id — the
    * reference keeps first-seen), write `<batchId>.parquet`. Returns the
    * number of newly written records.
    *
    * One scan of the store's hash projection: the surviving rows are
    * persisted, counted, and written from the cache.
    *
    * The dedup scan EXCLUDES `<batchId>.parquet` itself, so replaying a
    * batchId with the same feed is idempotent (the file is rewritten with
    * identical content — the crash-recovery path) instead of throwing
    * Spark's overwrite-a-read-path error. Reusing a batchId for a
    * DIFFERENT feed replaces that batch's rows; IncrementalRun.run guards
    * against doing that to a completed batch.
    */
  def appendBatch(records: DataFrame, storeDir: String, batchId: String,
      idCol: String = "doc_id", contentCol: String = "text"): Long = {
    val spark = records.sparkSession
    val hashed = records.withColumn(hashCol, sha2(col(contentCol), 256))

    // in-batch dedup: keep the first (min id) row per hash
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(hashCol)).orderBy(col(idCol))
    val firstPerHash = hashed
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")

    val fresh = firstPerHash.join(
      processedHashes(spark, storeDir, Some(batchId)), Seq(hashCol), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = fresh.count()
      if (n > 0) {
        fresh
          .withColumn("date_processed", lit(batchId))
          .coalesce(1) // one file per batch, matching the reference layout
          .write.mode(SaveMode.Overwrite)
          .option("compression", "zstd")
          .parquet(s"$storeDir/$batchId.parquet")
      }
      n
    } finally fresh.unpersist()
  }

  /** Store-wide uniqueness audit (check_unique_hashes.py:9-78). */
  def audit(spark: SparkSession, storeDir: String): DataFrame = {
    val all = spark.read.parquet(storeDir + "/*.parquet")
    all.agg(
      count(lit(1)).as("total_hashes"),
      countDistinct(col(hashCol)).as("unique_hashes"),
      (count(lit(1)) - countDistinct(col(hashCol))).as("duplicate_count"))
  }
}

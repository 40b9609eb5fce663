package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions

/** Codegen ≡ interpreted for every [[GraftFunctions]] expression.
  *
  * Spark runs an expression's generated code inside whole-stage codegen
  * and falls back to its interpreted `eval` whenever generated code is
  * too large to compile, so both paths must return the same bits. Each
  * case runs once with generated code only (CODEGEN_ONLY, whole-stage
  * on, no whole-stage fallback) and once interpreted only (NO_CODEGEN,
  * whole-stage off) over the sf0.001 documents/embeddings, the hostile
  * corpus of [[GenAdversarial]] and a row whose inputs are all null.
  *
  * The inputs are written to parquet and read back, so every kernel runs
  * in a scan → project stage on the executors; a projection over a
  * local Seq would be folded on the driver by the optimizer, in the
  * interpreted path under both settings.
  */
class ExpressionParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import GraftFunctions._

  private val codegenOnly = Seq(
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.fallback" -> "false")
  private val interpretedOnly = Seq(
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")

  private def withConfs[T](kv: Seq[(String, String)])(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft_parity_").toString

  private def roundTrip(df: DataFrame, name: String): DataFrame = {
    val path = s"$dir/$name"
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  /** One row per document with every input shape the text kernels take. */
  private lazy val docs: DataFrame = {
    val raw = Tables.documents(spark, sf).select($"doc_id", $"text")
      .unionByName(GenAdversarial.adversarialDocs(spark)
        .select(($"doc_id" + 10000000L).as("doc_id"), $"text"))
      .unionByName(Seq((-1L, Option.empty[String])).toDF("doc_id", "text"))
    val withSh = raw
      .withColumn("toks", split($"text", " "))
      .withColumn("sh", word_shingle_hashes($"text", 3))
    roundTrip(withSh.select(
      $"doc_id".as("id"), $"text", $"toks", $"sh",
      // a sorted subset of sh plus three fixed values: a non-trivial
      // second operand for the merge-walk intersection
      array_sort(array_distinct(concat(filter($"sh", x => pmod(x, lit(3)) =!= 0),
        array(lit(-1L), lit(0L), lit(1L))))).as("sh2"),
      when($"text".isNotNull, array(
        struct(lit(1).as("s"), lit(3).as("e")),
        struct(lit(5).as("s"), lit(6).as("e")))).as("spans"),
      array_sort(array_distinct($"toks")).as("ta"),
      transform(array_sort(array_distinct($"toks")),
        t => length(t).cast("double")).as("wa"),
      filter(array_sort(array_distinct($"toks")),
        t => pmod(length(t), lit(2)) === 0).as("tb"),
      transform(filter(array_sort(array_distinct($"toks")),
        t => pmod(length(t), lit(2)) === 0), _ => lit(1.5)).as("wb"),
      transform(slice($"sh", 1, 8), (x, i) => struct(
        pmod(x, lit(5L)).as("a"), pmod(x + i, lit(7L)).as("b"))).as("edges"),
      xxhash64($"text").as("h")), "docs")
  }

  /** One row per embedding, plus a null vector. */
  private lazy val vecs: DataFrame = {
    val raw = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .unionByName(GenAdversarial.adversarialEmbeddings(spark)
        .select(($"vec_id" + 10000000L).as("vec_id"), $"embedding"))
      .unionByName(Seq((-1L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding"))
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
    roundTrip(raw.select($"id", $"v", reverse($"v").as("u"),
      quantize_vec($"v").getField("q").as("q"),
      quantize_vec(reverse($"v")).getField("q").as("q2"),
      pmod($"id", lit(2)).cast("int").as("cid"),
      when($"v".isNotNull, array((0 until 4).map(s =>
        pmod($"id" + s, lit(3)).cast("int")): _*)).as("code")), "vecs")
  }

  private def vec64(f: Int => Double): Seq[Double] = (0 until 64).map(f)
  private val centroids = Seq(
    vec64(j => math.sin(j)), vec64(j => math.cos(j * 0.5)))
  // 4 sub-spaces × 3 entries × 16 dims
  private val books = Seq.tabulate(4, 3)((s, k) =>
    (0 until 16).map(j => math.sin(s * 7 + k * 3 + j * 0.25)))
  private val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"))
  private lazy val bloomBytes: Array[Byte] =
    docs.select(bloom_filter_agg($"h", 1000L, 8192L)).head().getAs[Array[Byte]](0)

  private def overDocs(c: => Column): () => DataFrame =
    () => docs.select($"id", c.as("out"))
  private def overVecs(c: => Column): () => DataFrame =
    () => vecs.select($"id", c.as("out"))

  /** One query per public GraftFunctions method, keyed by its name. */
  private val cases: Map[String, () => DataFrame] = Map(
    "dot_product" -> overVecs(dot_product($"v", $"u")),
    "minhash_sig" -> overDocs(minhash_sig($"toks", 16)),
    "simhash64" -> overDocs(simhash64($"toks")),
    "hyperplane_sig" -> overVecs(hyperplane_sig($"v", 64)),
    "hyperplane_probes" -> overVecs(hyperplane_probes($"v", 12, 4)),
    "word_shingles" -> overDocs(word_shingles($"text", 2)),
    "winnow_fingerprints" -> overDocs(winnow_fingerprints($"toks", 4)),
    "word_shingle_hashes" -> overDocs(word_shingle_hashes($"text", 3)),
    "char_shingle_hashes" -> overDocs(char_shingle_hashes($"text", 5)),
    "rolling_kgram_hashes" -> overDocs(rolling_kgram_hashes($"text", 4, 17L)),
    "minhash_sig_from_hashes" -> overDocs(minhash_sig_from_hashes($"sh", 32)),
    "minhash_band_hashes" -> overDocs(minhash_band_hashes($"sh", 8, 4)),
    "whitespace_count" -> overDocs(whitespace_count($"text")),
    "ws_token_count" -> overDocs(ws_token_count($"text")),
    "cjk_script_counts" -> overDocs(cjk_script_counts($"text")),
    "bpeish_token_count" -> overDocs(bpeish_token_count($"text")),
    "sorted_intersection_size" -> overDocs(sorted_intersection_size($"sh", $"sh2")),
    "remove_spans" -> overDocs(remove_spans($"toks", $"spans")),
    "sorted_weighted_dot" ->
      overDocs(sorted_weighted_dot($"ta", $"wa", $"tb", $"wb")),
    "token_profile_counts" -> overDocs(token_profile_counts($"text",
      Seq(Seq("the", "and", "of"), Seq("der", "und"), Seq("w1", "v2")))),
    "nearest_centroid" -> overVecs(nearest_centroid($"v",
      Seq(3 -> centroids(0), 8 -> centroids(1)))),
    "pq_adc_cosine" ->
      overVecs(pq_adc_cosine($"v", $"cid", $"code", centroids, books)),
    "pq_codes" -> overVecs(pq_codes($"v", books)),
    "redact_chain" -> overDocs(redact_chain($"text",
      Seq("[0-9]+", "(\\w+)@(\\w+)", "the"), Seq("<n>", "$2", "THE"))),
    "collapse_adjacent_repeats" -> overDocs(collapse_adjacent_repeats($"toks")),
    "token_vocab_stats" -> overDocs(token_vocab_stats($"text")),
    "quantize_vec" -> overVecs(quantize_vec($"v")),
    "int8_dot" -> overVecs(int8_dot($"q", $"q2")),
    "segment_shingle_hashes" -> overDocs(segment_shingle_hashes($"text", 8, 3)),
    "segment_shingle_hashes_adaptive" ->
      overDocs(segment_shingle_hashes_adaptive($"text", 8, 3, 4, 0.05)),
    "classifier_token_score" -> overDocs(classifier_token_score($"text")),
    "space_token_count" -> overDocs(space_token_count($"text")),
    "md5_bucket_counts" -> overDocs(md5_bucket_counts($"text", 64)),
    "bpe_token_count" -> overDocs(bpe_token_count($"text", merges)),
    "bpe_tokens" -> overDocs(bpe_tokens($"text", merges)),
    "ordered_pairs" -> overDocs(ordered_pairs(slice($"sh", 1, 12))),
    "component_labels" -> overDocs(component_labels($"edges")),
    "word_counts" -> overDocs(word_counts($"text")),
    "hashed_bow_vector" -> overDocs(hashed_bow_vector($"text", 32)),
    // ~10 members per group under a cap of 64: every member list is
    // complete, so only its order may depend on the merge order
    "capped_collect_long" -> (() => docs.groupBy(pmod($"id", lit(97L)).as("id"))
      .agg(capped_collect_long($"h", 64).as("c"))
      .select($"id", struct($"c.n", $"c.rep",
        array_sort($"c.members").as("members")).as("out"))),
    "bloom_filter_agg" -> (() =>
      docs.select(lit(0L).as("id"), bloom_filter_agg($"h", 1000L, 8192L).as("out"))),
    "might_contain" -> overDocs(might_contain(lit(bloomBytes), $"h")),
    "bigram_counts" -> overDocs(bigram_counts($"text")))

  /** Bit-level canonical form: doubles and floats by their raw bits (so
    * NaN ≡ NaN and -0.0 ≢ 0.0), binaries and arrays as sequences.
    */
  private def canon(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("f", java.lang.Float.floatToRawIntBits(f))
    case b: Array[Byte] => ("b", b.toSeq)
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon).toVector
    case other => other
  }

  private def run(q: () => DataFrame, confs: Seq[(String, String)],
      wholeStage: Boolean): Seq[Any] = withConfs(confs) {
    val df = q()
    val rows = df.collect().toSeq.map(canon).sortBy(_.toString)
    val plan = df.queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined == wholeStage,
      s"whole-stage codegen expected = $wholeStage in\n$plan")
    rows
  }

  test("every public GraftFunctions method has a parity case") {
    val public = GraftFunctions.getClass.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName).filterNot(_.contains("$")).toSet
    assert(public -- cases.keySet == Set.empty, "functions without a parity case")
    assert(cases.keySet -- public == Set.empty, "parity cases of no function")
  }

  test("the inputs carry a null-input row and the hostile corpus") {
    assert(docs.filter($"text".isNull).count() >= 4)
    assert(vecs.filter($"v".isNull).count() == 1)
    assert(docs.count() > 900 && vecs.count() > 700)
  }

  cases.toSeq.sortBy(_._1).foreach { case (name, q) =>
    test(s"$name: codegen ≡ interpreted, bit for bit") {
      val gen = run(q, codegenOnly, wholeStage = true)
      val interp = run(q, interpretedOnly, wholeStage = false)
      assert(gen.nonEmpty)
      assert(gen.length == interp.length)
      val diff = gen.zip(interp).filter { case (a, b) => a != b }
      val nDiff = diff.size
      assert(nDiff == 0, s"rows differ; first (codegen, interpreted): ${diff.headOption}")
    }
  }
}

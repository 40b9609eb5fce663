package graft

import org.apache.spark.sql.graft.GraftExtensions

/** SQL surface of the custom expressions. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions evaluate like the Column API") {
    GraftExtensions.register(spark)
    Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
      .createOrReplaceTempView("docs_ext")
    val row = spark.sql(
      """SELECT graft_simhash64(split(text, ' ')) AS fp,
        |       graft_word_shingles(text, 2) AS bg,
        |       graft_minhash_sig(graft_word_shingles(text, 3), 8) AS sig,
        |       graft_dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp
        |FROM docs_ext""".stripMargin).collect()(0)
    assert(row.getAs[Long]("fp") != 0L)
    assert(row.getSeq[String](row.fieldIndex("bg")).head == "the quick")
    assert(row.getSeq[Long](row.fieldIndex("sig")).length == 8)
    assert(row.getAs[Double]("dp") == 11.0)
    val row2 = spark.sql(
      """SELECT graft_winnow_fingerprints(graft_word_shingles(text, 3), 4) AS fp,
        |       graft_word_shingle_hashes(text, 3) AS sh,
        |       graft_minhash_sig_from_hashes(graft_word_shingle_hashes(text, 3), 8) AS sig,
        |       graft_sorted_intersection_size(
        |         graft_word_shingle_hashes(text, 3),
        |         graft_word_shingle_hashes(text, 3)) AS self_n
        |FROM docs_ext""".stripMargin).collect()(0)
    assert(row2.getSeq[Long](row2.fieldIndex("fp")).nonEmpty)
    val sh = row2.getSeq[Long](row2.fieldIndex("sh"))
    assert(sh == sh.sorted && sh.nonEmpty)
    assert(row2.getSeq[Long](row2.fieldIndex("sig")).length == 8)
    assert(row2.getAs[Int]("self_n") == sh.length)
  }

  test("hyperplane probes: SQL arity enforced, NaN input degrades gracefully") {
    GraftExtensions.register(spark)
    // probe set agrees between SQL and Column surfaces
    val viaSql = spark.sql(
      "SELECT graft_hyperplane_probes(array(1.0d, -2.0d, 0.5d), 6, 3) AS p")
      .collect()(0).getSeq[Long](0)
    assert(viaSql.length == 3 && viaSql.distinct.length == 3,
      "home + 2 distinct single-bit flips expected")
    // nprobe is required — a silent default would quietly under-probe
    // (Scala callers use different values: s02b 8, d11b 3)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_hyperplane_probes(array(1.0d), 4)").collect()
    }
    assert(err.getMessage.contains("requires all three arguments") ||
      err.getCause != null)
    // one NaN component poisons every projection; the probe selection
    // must fall back to plane order, never crash the task
    val nan = org.apache.spark.sql.graft.hashing.hyperplaneProbes(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.fill(8)(Double.NaN)), 6, 4)
    assert(nan.numElements() == 4)
    val arr = nan.toLongArray()
    assert(arr(0) == 0L, "NaN > 0 is false: home signature all-zero")
    assert(arr.distinct.length == 4, "flips must hit distinct planes")
  }

  test("SQL simhash agrees with the operator-level simhash") {
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_simhash64(split('a b c', ' ')) AS fp").as[Long].head()
    val viaCol = Seq("a b c").toDF("text")
      .select(operators.Dedup.simhash($"text").as("fp")).as[Long].head()
    assert(viaSql == viaCol)
  }

  test("hyperplane planes outside 1..64 throw on both surfaces") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.graft.GraftFunctions
    // bit p of the signature is 1L << p and the JVM masks a shift
    // distance to 6 bits, so plane 64 would fold into bit 0
    for (planes <- Seq(0, 65)) {
      intercept[IllegalArgumentException](GraftFunctions.hyperplane_sig($"v", planes))
      intercept[IllegalArgumentException](GraftFunctions.hyperplane_probes($"v", planes, 2))
      intercept[Exception] {
        spark.sql(s"SELECT graft_hyperplane_sig(array(1.0d, -1.0d), $planes)").collect()
      }
    }
    val sig = spark.sql("SELECT graft_hyperplane_sig(array(1.0d, -1.0d), 64)")
      .as[Long].head()
    assert(sig == org.apache.spark.sql.graft.hashing.hyperplaneSig(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(1.0, -1.0)), 64))
  }

  test("SQL arguments cast like built-ins; a non-castable one fails analysis") {
    GraftExtensions.register(spark)
    // an int argument to a string kernel is implicitly cast
    val sh = spark.sql("SELECT graft_word_shingles(12345, 1) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh == Seq("12345"))
    // array<int> has no cast to string: rejected at analysis, not at run time
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_word_shingles(array(1), 2)")
    }
    assert(err.getCondition.startsWith("DATATYPE_MISMATCH"), err.getMessage)
  }
}

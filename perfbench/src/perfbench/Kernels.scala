package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.hashing
import org.apache.spark.unsafe.types.UTF8String

/** The `hashing` kernels behind the Catalyst expressions, timed on one
  * thread without Spark, over the texts of the [[Docs]] lowest ids of the
  * curate_batch corpus. Each kernel runs [[Passes]] passes over every text;
  * the median pass is reported as nanoseconds per doc.
  */
object Kernels {
  val Docs = 2000
  val Passes = 5

  def measure(corpus: DataFrame): Map[String, Double] = {
    val texts = corpus.orderBy("doc_id").select("text").limit(Docs).collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val shingles = texts.map(hashing.wordShingleHashes(_, 3))
    var sink = 0L
    def perDoc[A](xs: Array[A])(f: A => Any): Double = {
      val passes = (1 to Passes).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < xs.length) {
          f(xs(i)) match {
            case a: ArrayData => sink += a.numElements()
            case other => sink += other.hashCode()
          }
          i += 1
        }
        (System.nanoTime() - t0).toDouble / xs.length
      }
      Stats.median(passes)
    }
    val text = Map(
      "kernel.word_shingle_hashes_ns" -> perDoc(texts)(hashing.wordShingleHashes(_, 3)),
      "kernel.segment_shingle_hashes_ns" ->
        perDoc(texts)(hashing.segmentShingleHashes(_, 10, 3)),
      "kernel.rolling_kgram_hashes_ns" ->
        perDoc(texts)(hashing.rollingKgramHashes(_, 20, 17L)),
      "kernel.hashed_bow_vector_ns" -> perDoc(texts)(hashing.hashedBowVector(_, 64)),
      "kernel.classifier_token_score_ns" ->
        perDoc(texts)(hashing.classifierTokenScore(_)))
    val sig = Map(
      "kernel.minhash_sig_from_hashes_ns" ->
        perDoc(shingles)(hashing.minhashSigFromHashes(_, 64)),
      "kernel.minhash_band_hashes_ns" ->
        perDoc(shingles)(hashing.minhashBandHashes(_, 16, 4)))
    if (sink == 42L) System.err.println("[perfbench] improbable")
    val bytesPerDoc = texts.map(_.numBytes().toLong).sum.toDouble / texts.length
    // text MB per second through all five text kernels back to back
    text ++ sig + ("kernel.text_mb_per_s" -> bytesPerDoc / text.values.sum * 1e3)
  }
}

package graft.query

import graft.codec.SmallFloat

/**
 * BM25 scoring with the reference's exact float/double arithmetic so that
 * ranks AND scores are bit-identical to Lucene's BM25Similarity
 * (reference: lucene/core/src/java/org/apache/lucene/search/similarities/
 * BM25Similarity.java:69-72,119-126,183-193,223-227).
 *
 * The arithmetic contract (every cast matters — see SURVEY.md Appendix A):
 *   idf      = (float) ln(1 + (N - df + 0.5)/(df + 0.5))
 *   avgdl    = (float)(sumTotalTermFreq / (double) docCount)
 *   cache(i) = k1 * ((1-b) + b * byte4ToInt(i) / avgdl)     // float ops
 *   weight   = boost * idf                                   // float mult
 *   score    = weight * (float)(freq / (freq + (double) cache(normByte)))
 *
 * A [[TermScorer]] is a tiny immutable value: build it once on the driver
 * from broadcast collection stats and ship it inside closures (it is
 * Serializable and a few hundred bytes) — this is the Spark analogue of
 * Lucene computing the Weight once up front and sharing it across leaves.
 */
object BM25 {
  val DefaultK1: Float = 1.2f
  val DefaultB: Float = 0.75f

  /** Decoded length table: index = unsigned norm byte. */
  private val LengthTable: Array[Float] = {
    val t = new Array[Float](256)
    var i = 0
    while (i < 256) { t(i) = SmallFloat.byte4ToInt(i.toByte).toFloat; i += 1 }
    t
  }

  def idf(docFreq: Long, docCount: Long): Float =
    Math.log(1d + (docCount - docFreq + 0.5d) / (docFreq + 0.5d)).toFloat

  def avgFieldLength(sumTotalTermFreq: Long, docCount: Long): Float =
    (sumTotalTermFreq / docCount.toDouble).toFloat

  /** The norm cache: k1 * ((1-b) + b * dl / avgdl) for all 256 norm bytes. */
  def normCache(k1: Float, b: Float, avgdl: Float): Array[Float] = {
    val cache = new Array[Float](256)
    var i = 0
    while (i < 256) { cache(i) = k1 * ((1 - b) + b * LengthTable(i) / avgdl); i += 1 }
    cache
  }

  /** Per-term scorer with precomputed weight + norm cache (Lucene's BM25Scorer). */
  final case class TermScorer(weight: Float, cache: Array[Float]) extends SimScorer {
    /** Exact reference arithmetic: freq float, denominator double, result float. */
    def score(freq: Float, normByte: Byte): Float = {
      val norm: Double = cache(normByte & 0xFF).toDouble
      weight * (freq / (freq + norm)).toFloat
    }
  }

  def termScorer(boost: Float, k1: Float, b: Float,
                 docFreq: Long, docCount: Long, sumTotalTermFreq: Long): TermScorer = {
    val w = boost * idf(docFreq, docCount)
    TermScorer(w, normCache(k1, b, avgFieldLength(sumTotalTermFreq, docCount)))
  }
}

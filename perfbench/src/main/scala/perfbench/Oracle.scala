package perfbench

import scala.collection.mutable

/**
 * Reference BM25 top-k over an in-memory copy of the indexed documents.
 * It is written from Lucene's `BM25Similarity` definition and shares no
 * scoring or codec code with the engine; only the tokenizer
 * (`graft.analysis.Analyzer.foreachTerm`) is the engine's, because the
 * oracle must see the same terms.
 *
 *   idf    = (float) ln(1 + (N - df + 0.5) / (df + 0.5))
 *   avgdl  = (float) (sumTotalTermFreq / (double) N)
 *   norm   = intToByte4(dl); len = byte4ToInt(norm)
 *   cache  = k1 * ((1 - b) + b * len / avgdl)           (float arithmetic)
 *   score  = idf * (float) (tf / (tf + (double) cache))
 *
 * A multi-term score is the per-term float scores summed as double in
 * query-term order, cast to float. Ranking is (score desc, docId asc).
 */
final class Oracle {
  import Oracle._

  private val postings = mutable.HashMap.empty[String, mutable.LongMap[Int]]
  private val dls = mutable.LongMap.empty[Int]
  private var sumDl = 0L

  def docCount: Long = dls.size.toLong
  def df(term: String): Long = postings.get(term).fold(0L)(_.size.toLong)

  def add(docId: Long, content: String): Unit = {
    require(!dls.contains(docId), s"doc $docId already indexed")
    var dl = 0
    graft.analysis.Analyzer.foreachTerm(content) { t =>
      dl += 1
      val p = postings.getOrElseUpdate(t, mutable.LongMap.empty[Int])
      p.update(docId, p.getOrElse(docId, 0) + 1)
    }
    dls.update(docId, dl)
    sumDl += dl
  }

  private def scorer(term: String): Option[(mutable.LongMap[Int], Float, Array[Float])] =
    postings.get(term).map { p =>
      val n = docCount
      val idf = Math.log(1d + (n - p.size + 0.5d) / (p.size + 0.5d)).toFloat
      val avgdl = (sumDl / n.toDouble).toFloat
      val cache = new Array[Float](256)
      var i = 0
      while (i < 256) {
        cache(i) = K1 * ((1 - B) + B * byte4ToInt(i.toByte).toFloat / avgdl)
        i += 1
      }
      (p, idf, cache)
    }

  private def termScore(s: (mutable.LongMap[Int], Float, Array[Float]), docId: Long): Float = {
    val (p, idf, cache) = s
    val tf = p(docId).toFloat
    val norm = cache(intToByte4(dls(docId)) & 0xFF).toDouble
    idf * (tf / (tf + norm)).toFloat
  }

  /** Top-k of a boolean query: all of `must`, any of `should` (only when
    * `must` is empty), none of `mustNot`. Scores sum must clauses, then
    * should clauses, each in the order given. */
  def topK(must: Seq[String], should: Seq[String], mustNot: Seq[String], k: Int): Seq[Hit] = {
    val mustS = must.distinct.map(scorer)
    val shouldS = should.distinct.flatMap(scorer)
    if (mustS.exists(_.isEmpty)) return Nil
    val req = mustS.flatten
    val candidates: Iterable[Long] =
      if (req.nonEmpty) req.minBy(_._1.size)._1.keys
      else shouldS.flatMap(_._1.keys).distinct
    val excluded = mustNot.flatMap(t => postings.get(t)).map(_.keySet)
    val hits = candidates.iterator
      .filter(d => req.forall(_._1.contains(d)) && !excluded.exists(_.contains(d)))
      .map { d =>
        var s = 0.0d
        req.foreach(r => s += termScore(r, d).toDouble)
        shouldS.foreach(r => if (r._1.contains(d)) s += termScore(r, d).toDouble)
        Hit(d, s.toFloat)
      }.toArray
    hits.sortInPlace()(HitOrder).take(k).toSeq
  }

  /** (docIds ascending, term freqs, norm bytes) of one term's postings. */
  def postingsList(term: String): (Array[Long], Array[Int], Array[Byte]) = {
    val p = postings.getOrElse(term, mutable.LongMap.empty[Int])
    val ds = p.keys.toArray.sorted
    (ds, ds.map(p(_)), ds.map(d => intToByte4(dls(d))))
  }

  /** Postings of `terms` held by the index. */
  def postingsOf(terms: Seq[String]): Long = terms.distinct.map(df).sum
}

object Oracle {
  val K1 = 1.2f
  val B = 0.75f

  final case class Hit(docId: Long, score: Float)

  val HitOrder: Ordering[Hit] = (a: Hit, b: Hit) => {
    val c = java.lang.Float.compare(b.score, a.score)
    if (c != 0) c else java.lang.Long.compare(a.docId, b.docId)
  }

  /** Lucene SmallFloat.longToInt4: 4 significant bits (one implicit). */
  private def longToInt4(i: Long): Int = {
    val numBits = 64 - java.lang.Long.numberOfLeadingZeros(i)
    if (numBits < 4) i.toInt
    else {
      val shift = numBits - 4
      ((i >>> shift).toInt & 0x07) | ((shift + 1) << 3)
    }
  }

  private def int4ToLong(i: Int): Long = {
    val bits = (i & 0x07).toLong
    val shift = (i >>> 3) - 1
    if (shift == -1) bits else (bits | 0x08L) << shift
  }

  /** Values below this encode exactly (255 minus the largest int4 code). */
  private val NumFreeValues = 255 - longToInt4(Int.MaxValue.toLong)

  /** Lucene SmallFloat.intToByte4: the norm byte of a field length. */
  def intToByte4(i: Int): Byte =
    if (i < NumFreeValues) i.toByte
    else (NumFreeValues + longToInt4((i - NumFreeValues).toLong)).toByte

  def byte4ToInt(b: Byte): Int = {
    val i = b & 0xFF
    if (i < NumFreeValues) i else (NumFreeValues + int4ToLong(i - NumFreeValues)).toInt
  }
}

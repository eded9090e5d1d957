package graft.query

import graft.codec.SmallFloat
import graft.index.IndexStore.OpenIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * BM25F combined-field query — the reference sandbox BM25FQuery
 * (lucene/sandbox/src/java/org/apache/lucene/search/BM25FQuery.java:44-58,
 * 279-311,400-446 and MultiNormsLeafSimScorer.java:55-133): multiple fields
 * are treated as ONE stream and scored as if the terms had been indexed in a
 * single pseudo-field. All (field, term) postings blend into a single
 * per-doc frequency and the similarity is invoked ONCE:
 *
 *   freq(d)  = Σ_f Σ_t  w_f · tf(f, t, d)              (WeightedDisiWrapper)
 *   norm(d)  = intToByte4(round(Σ_f w_f · byte4ToInt(norm_f(d))))
 *                                                       (MultiFieldNormValues)
 *   docFreq  = max over (field, term) docFreq           (BM25FWeight ctor)
 *   docCount = max over fields' docCount
 *   sumTTF   = Σ_f w_f · sumTotalTermFreq_f             (mergeCollectionStatistics)
 *
 * Spark-first shape: per-field postings are independent pushed term scans
 * (one narrow decode each), the blend is one groupBy(docId) partial+final
 * aggregation, the combined norm is a docstats join — no corpus pass, no
 * driver loop. Collection/term stats come from the per-field termstats
 * dictionaries (cached O(#terms) lookups). Scale: only query-term postings
 * ever shuffle, exactly like the single-field topK path.
 *
 * Per the reference, field weights must be ≥ 1.
 */
object Bm25F {

  /** Top-k (docId, score) over per-field indexes sharing one corpus docId
    * space ([[graft.index.FieldedIndex]] layout). Float-exact reference
    * arithmetic; ties broken (score DESC, docId ASC). */
  def topK(fields: Seq[(OpenIndex, Float)], terms: Seq[String], k: Int,
           k1: Float = BM25.DefaultK1, b: Float = BM25.DefaultB): DataFrame = {
    // the reference rewrites 1-field BM25F to SynonymQuery/TermQuery
    // (BM25FQuery.rewrite), which skips the norm re-encode — so this path
    // is the >= 2 field combined-norm query only
    require(fields.size >= 2, "BM25F needs >= 2 fields (1 field rewrites to SynonymQuery)")
    require(fields.forall(_._2 >= 1f), "field weight must be >= 1 (reference contract)")
    val spark = fields.head._1.spark
    import spark.implicits._
    val qs = terms.distinct

    // pseudo term statistics: docFreq = max over every (field, term)
    val perFieldDfs = fields.map { case (idx, _) =>
      QueryEngine.lookupDfs(idx.termstats, qs, Some(idx.dfCache))
    }
    val docFreq = perFieldDfs.flatMap(_.values).foldLeft(0L)(math.max)
    if (docFreq == 0L)
      return QueryEngine.noHits(spark)

    // pseudo collection statistics (BM25FWeight.mergeCollectionStatistics):
    // the long accumulator truncates after each double add, like Java +=
    var sumTtf = 0L
    fields.foreach { case (idx, w) =>
      sumTtf = (sumTtf + w.toDouble * idx.stats.sumTotalTermFreq).toLong
    }
    val docCount = fields.map(_._1.stats.docCount).max
    val scorer = BM25.TermScorer(BM25.idf(docFreq, docCount),
      BM25.normCache(k1, b, BM25.avgFieldLength(sumTtf, docCount)))

    // blended frequency: per-field pushed term scans, weighted, one agg.
    // Integral tf × integral-valued float weight sums exactly in double,
    // so the float cast equals the reference's float accumulation.
    val weighted = fields.map { case (idx, w) =>
      QueryEngine.postingRows(idx.blocks.filter(col("term").isin(qs: _*)))
        .select(col("docId"), (lit(w.toDouble) * col("tf")).as("wtf"))
    }
    val freq = weighted.reduce(_.unionByName(_))
      .groupBy("docId").agg(sum("wtf").as("freq"))

    // combined norm (MultiFieldNormValues.advanceExact): decode each
    // field's norm byte, weight, sum as float, round, re-encode
    val norms = fields.zipWithIndex.map { case ((idx, _), i) =>
      idx.docstats.select(col("docId"), col("normByte").as(s"nb$i"))
    }.reduce(_.join(_, "docId"))
    val ws = fields.map(_._2)
    val combined = norms.select(col("docId"),
      array(fields.indices.map(i => col(s"nb$i").cast("int")): _*).as("nbs"))
      .as[(Long, Seq[Int])]
      .map { case (docId, nbs) =>
        var nv = 0f
        var i = 0
        while (i < nbs.size) {
          nv += ws(i) * SmallFloat.byte4ToInt(nbs(i).toByte).toFloat
          i += 1
        }
        (docId, SmallFloat.intToByte4(Math.round(nv)).toInt)
      }.toDF("docId", "cnb")

    fields.head._1.liveDocs(freq).join(combined, "docId")
      .as[(Long, Double, Int)]
      .map { case (docId, f, nb) => (docId, scorer.score(f.toFloat, nb.toByte)) }
      .toDF("docId", "score")
      .orderBy(desc("score"), asc("docId")).limit(k)
  }
}

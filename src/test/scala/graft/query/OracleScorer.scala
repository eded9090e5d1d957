package graft.query

import graft.analysis.Analyzer
import graft.codec.SmallFloat

/**
 * Brute-force single-machine BM25 scorer with the exact reference
 * arithmetic (SURVEY.md Appendix A / §5.3): the oracle the distributed
 * engine must match rank- AND score-identically (same norm quantization,
 * same float casts, same term-order double summation, same
 * (score DESC, docId ASC) tie-break).
 */
object OracleScorer {

  final case class Doc(docId: Long, content: String)

  def topK(corpus: Seq[Doc], terms: Seq[String], k: Int,
           mode: QueryEngine.Mode = QueryEngine.Or, mustNot: Seq[String] = Nil,
           k1: Float = BM25.DefaultK1, b: Float = BM25.DefaultB): Seq[(Long, Float)] = {
    val analyzed = corpus.map(d => (d.docId, Analyzer.termFreqs(d.content)))
    val docCount = corpus.size.toLong
    val sumTtf = analyzed.map(_._2._2.toLong).sum
    val qs = terms.distinct
    val dfs = qs.map(t => t -> analyzed.count(_._2._1.contains(t)).toLong).toMap
    val present = qs.filter(dfs(_) > 0L)
    if (present.isEmpty || (mode == QueryEngine.And && present.size < qs.size)) return Nil
    val scorers = present.map(t => t -> BM25.termScorer(1f, k1, b, dfs(t), docCount, sumTtf)).toMap
    val negSet = mustNot.distinct.toSet
    val hits = analyzed.flatMap { case (docId, (tfs, dl)) =>
      if (negSet.exists(tfs.contains)) None
      else {
        val nb = SmallFloat.intToByte4(dl)
        val parts = present.flatMap(t => tfs.get(t).map(f => scorers(t).score(f.toFloat, nb)))
        val matchedAll = present.forall(tfs.contains)
        if (parts.isEmpty || (mode == QueryEngine.And && !matchedAll)) None
        else {
          var acc = 0.0d
          parts.foreach(acc += _.toDouble)
          Some((docId, acc.toFloat))
        }
      }
    }
    hits.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** A flat BM25 term boolean: a doc matches with every `must` term, no
    * `mustNot` term and (with no must clause) at least one `should` term.
    * `boosts` holds one boost per clause of `must ++ should`; a clause's
    * part is its float score times its float boost. The must parts are
    * summed in clause order as double from -0.0, the should parts from
    * 0.0, the two added (when there are should clauses) and cast float.
    * Absent terms match nothing; an absent must term matches no doc. */
  def topKBool(corpus: Seq[Doc], must: Seq[String], should: Seq[String], mustNot: Seq[String],
               boosts: Seq[Float], k: Int): Seq[(Long, Float)] = {
    require(boosts.size == must.size + should.size)
    val analyzed = corpus.map(d => (d.docId, Analyzer.termFreqs(d.content)))
    val docCount = corpus.size.toLong
    val sumTtf = analyzed.map(_._2._2.toLong).sum
    val terms = (must ++ should).distinct
    val dfs = terms.map(t => t -> analyzed.count(_._2._1.contains(t)).toLong).toMap
    val scorers = terms.filter(dfs(_) > 0L).map(t =>
      t -> BM25.termScorer(1f, BM25.DefaultK1, BM25.DefaultB, dfs(t), docCount, sumTtf)).toMap
    val (mustBoosts, shouldBoosts) = boosts.splitAt(must.size)
    val hits = analyzed.flatMap { case (docId, (tfs, dl)) =>
      val nb = SmallFloat.intToByte4(dl)
      def parts(ts: Seq[String], bs: Seq[Float]) = ts.zip(bs).flatMap { case (t, b) =>
        for (f <- tfs.get(t); sc <- scorers.get(t)) yield sc.score(f.toFloat, nb) * b
      }
      val mustParts = parts(must, mustBoosts)
      val shouldParts = parts(should, shouldBoosts)
      val matches = mustParts.size == must.size && !mustNot.exists(tfs.contains) &&
        (must.nonEmpty || shouldParts.nonEmpty)
      if (!matches) None
      else {
        var m = -0.0d
        mustParts.foreach(m += _.toDouble)
        var s = 0.0d
        shouldParts.foreach(s += _.toDouble)
        Some((docId, if (should.isEmpty) m.toFloat else (m + s).toFloat))
      }
    }
    hits.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Similarity-generic variant (OR mode): same norm quantization, float
    * casts, double summation, and tie-break; per-term scorers built by
    * `sim` (classic TF-IDF, LMDirichlet, ...). */
  def topKSim(corpus: Seq[Doc], terms: Seq[String], k: Int,
              sim: Similarity): Seq[(Long, Float)] = {
    val analyzed = corpus.map(d => (d.docId, Analyzer.termFreqs(d.content)))
    val docCount = corpus.size.toLong
    val sumTtf = analyzed.map(_._2._2.toLong).sum
    val qs = terms.distinct
    val dfs = qs.map(t => t -> analyzed.count(_._2._1.contains(t)).toLong).toMap
    val ttfs = qs.map(t => t -> analyzed.map(_._2._1.getOrElse(t, 0).toLong).sum).toMap
    val present = qs.filter(dfs(_) > 0L)
    if (present.isEmpty) return Nil
    val scorers = present.map(t =>
      t -> sim.scorer(1f, dfs(t), ttfs(t), docCount, sumTtf)).toMap
    val hits = analyzed.flatMap { case (docId, (tfs, dl)) =>
      val nb = SmallFloat.intToByte4(dl)
      val parts = present.flatMap(t => tfs.get(t).map(f => scorers(t).score(f.toFloat, nb)))
      if (parts.isEmpty) None
      else {
        var acc = 0.0d
        parts.foreach(acc += _.toDouble)
        Some((docId, acc.toFloat))
      }
    }
    hits.sortBy { case (id, s) => (-s, id) }.take(k)
  }
}

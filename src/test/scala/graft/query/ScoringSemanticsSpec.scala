package graft.query

import graft.SparkSpec
import graft.analysis.Analyzer
import graft.codec.SmallFloat
import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexBuilder}
import graft.operators.TextOps
import org.apache.spark.sql.DataFrame

/**
 * Reference-faithful scoring semantics beyond plain BM25 sums:
 *  - SynonymQuery (SynonymQuery.java:50-55,203-217): one pseudo-term,
 *    df = max(df_i), similarity invoked ONCE on the summed tf;
 *  - DisjunctionMax (DisjunctionMaxScorer.java:58-70): float max + double
 *    sum-of-others * tieBreaker, cast float;
 *  - sloppy phrase with REPEATED terms (SloppyPhraseMatcher.java:362-410):
 *    same-term slots bind distinct occurrences;
 *  - MultiPhraseQuery (MultiPhraseQuery.java:56): any-of-terms per slot.
 * Each engine path is asserted against a local brute-force oracle with the
 * exact reference arithmetic (same casts, same iteration order).
 */
class ScoringSemanticsSpec extends SparkSpec {
  import spark.implicits._

  val N = 400
  lazy val corpusLocal: Seq[(Long, String)] =
    (0L until N).map(i => CorpusGen.genFile(i))
      .sortBy(f => (f.repo, f.path, f.commit))
      .zipWithIndex.map { case (f, i) => (i.toLong, f.content) }
  lazy val withIds: DataFrame =
    DocIds.assign(CorpusGen.corpus(spark, N, 5).toDF(), Seq("repo", "path", "commit"), 4).cache()
  lazy val blocks = IndexBuilder.packBlocks(spark, IndexBuilder.invert(spark, withIds), 8).cache()
  lazy val termstats = IndexBuilder.termStats(blocks).cache()
  lazy val stats = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, withIds))

  private lazy val analyzed: Seq[(Long, Map[String, Int], Int)] =
    corpusLocal.map { case (id, c) =>
      val (tfs, dl) = Analyzer.termFreqs(c)
      (id, tfs.toMap, dl)
    }

  test("synonymTopK: df = max member df, similarity invoked once on summed tf — float-exact") {
    val syns = Seq("public", "import")
    val dfs = syns.map(t => analyzed.count(_._2.contains(t)).toLong)
    val scorer = BM25.termScorer(1f, BM25.DefaultK1, BM25.DefaultB,
      dfs.max, N.toLong, analyzed.map(_._3.toLong).sum)
    val want = analyzed.flatMap { case (id, tfs, dl) =>
      val synTf = syns.map(tfs.getOrElse(_, 0)).sum
      if (synTf == 0) None
      else Some((id, synTf, scorer.score(synTf.toFloat, SmallFloat.intToByte4(dl))))
    }.sortBy { case (id, _, s) => (-s, id) }
    for (k <- Seq(1, 7, 50)) {
      val got = QueryEngine.synonymTopK(spark, blocks, termstats, stats, syns, k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getFloat(2))).toSeq
      assert(got === want.take(k), s"k=$k")
    }
    // absent term contributes nothing; all-absent matches nothing
    val gotMixed = QueryEngine.synonymTopK(spark, blocks, termstats, stats,
      Seq("public", "zzznosuchterm"), 5).collect()
    val scorerSolo = BM25.termScorer(1f, BM25.DefaultK1, BM25.DefaultB,
      analyzed.count(_._2.contains("public")).toLong, N.toLong, analyzed.map(_._3.toLong).sum)
    val wantSolo = analyzed.flatMap { case (id, tfs, dl) =>
      tfs.get("public").map(f => (id, f, scorerSolo.score(f.toFloat, SmallFloat.intToByte4(dl))))
    }.sortBy { case (id, _, s) => (-s, id) }.take(5)
    assert(gotMixed.map(r => (r.getLong(0), r.getInt(1), r.getFloat(2))).toSeq === wantSolo)
    assert(QueryEngine.synonymTopK(spark, blocks, termstats, stats, Seq("zzz"), 5).count() === 0)
  }

  test("disMaxTopK: float max + tieBreaker * double sum-of-others, ti iteration order") {
    val terms = Seq("public", "import", "class")
    val tb = 0.1f
    val sumTtf = analyzed.map(_._3.toLong).sum
    val scorers = terms.map(t => BM25.termScorer(1f, BM25.DefaultK1, BM25.DefaultB,
      analyzed.count(_._2.contains(t)).toLong, N.toLong, sumTtf))
    val want = analyzed.flatMap { case (id, tfs, dl) =>
      val nb = SmallFloat.intToByte4(dl)
      val parts = terms.indices.flatMap(i => tfs.get(terms(i)).map(f => scorers(i).score(f.toFloat, nb)))
      if (parts.isEmpty) None
      else {
        var scoreMax = 0f
        var otherSum = 0.0
        parts.foreach { s =>
          if (s >= scoreMax) { otherSum += scoreMax; scoreMax = s }
          else otherSum += s
        }
        Some((id, (scoreMax + otherSum * tb).toFloat))
      }
    }.sortBy { case (id, s) => (-s, id) }
    for (k <- Seq(1, 10, 60)) {
      val got = QueryEngine.run(spark, blocks, termstats, stats,
          QueryEngine.Request(QueryEngine.Terms(terms), k, tieBreaker = Some(tb)))
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(got === want.take(k), s"k=$k")
    }
  }

  test("sloppy phrase with repeated terms: distinct occurrences per same-term slot") {
    val docs = Seq(
      (0L, "data x data y"),            // data@0, data@2: q=(0, 1) -> min range 1
      (1L, "data data"),                // adjacent: q=(0, 0) -> 0
      (2L, "data only once here"),      // single occurrence cannot fill 2 slots
      (3L, "x data y z w data"),        // data@1, data@5: |1 - 4| = 3
      (4L, "no match at all"),
      (5L, "data a b c d e f data")     // @0, @7: range 6 > slop
    ).toDF("doc_id", "text")
    val got = TextOps.sloppyPhraseMatch(docs, "doc_id", "text", Seq("data", "data"), slop = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got === Map(0L -> 1, 1L -> 0, 3L -> 3))

    // 3-slot with one repeat vs brute force over all occurrence assignments
    val docs3 = Seq(
      (0L, "get the lock set the lock"),
      (1L, "the lock the"),
      (2L, "lock the door the lock"),
      (3L, "the the lock"),
      (4L, "lock lock the")
    ).toDF("doc_id", "text")
    val phrase = Seq("the", "lock", "the")
    def brute(text: String): Option[Int] = {
      val toks = text.split(" ").toSeq
      val occ = phrase.zipWithIndex.map { case (t, i) =>
        toks.zipWithIndex.filter(_._1 == t).map(_._2 - i)
      }
      if (occ.exists(_.isEmpty)) None
      else {
        val opts = for {
          a <- occ(0); b <- occ(1); c <- occ(2)
          // slots 0 and 2 share the term 'the': distinct raw positions
          if (a + 0) != (c + 2)
        } yield Seq(a, b, c).max - Seq(a, b, c).min
        if (opts.isEmpty) None else Some(opts.min)
      }
    }
    for (slop <- Seq(0, 1, 2, 3)) {
      val got3 = TextOps.sloppyPhraseMatch(docs3, "doc_id", "text", phrase, slop)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val want3 = Seq(
        0L -> "get the lock set the lock", 1L -> "the lock the",
        2L -> "lock the door the lock", 3L -> "the the lock", 4L -> "lock lock the")
        .flatMap { case (id, t) => brute(t).filter(_ <= slop).map(id -> _) }.toMap
      assert(got3 === want3, s"slop=$slop")
    }
  }

  test("multiPhraseMatch: any-of-terms per slot, declarative and engine paths agree") {
    val docs = Seq(
      (0L, "quick brown fox"),
      (1L, "slow brown fox"),
      (2L, "quick red fox"),
      (3L, "brown quick fox"),
      (4L, "quick brown dog quick brown fox")
    ).toDF("doc_id", "text")
    val slots = Seq(Seq("quick", "slow"), Seq("brown"), Seq("fox"))
    val got = TextOps.multiPhraseMatch(docs, "doc_id", "text", slots)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got === Map(0L -> 1, 1L -> 1, 4L -> 1))

    // engine path over the positions tier
    val withId = docs.withColumnRenamed("doc_id", "docId")
      .withColumnRenamed("text", "content")
    val pos = IndexBuilder.invertPositions(spark, withId)
    val gotEngine = QueryEngine.multiPhraseMatch(pos, slots)
      .collect().map(_.getLong(0)).toSet
    assert(gotEngine === Set(0L, 1L, 4L))
    // single-term slots degrade to exact phrase
    val ph = QueryEngine.phraseMatch(pos, Seq("brown", "fox")).collect().map(_.getLong(0)).toSet
    assert(ph === Set(0L, 1L, 4L))
  }
}

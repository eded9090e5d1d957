package graft.index

import graft.SparkSpec
import graft.query.{OracleScorer, QueryEngine, Wand}
import java.nio.file.Files

/** Randomized engine-vs-oracle equivalence (the RandomPostingsTester /
  * CheckHits analogue): random corpora with adversarial shapes — empty
  * docs, single-term docs, a term in every doc, huge tf — random queries,
  * a bounded top-k (block-max skipping when sound) and every match cut to k. */
class FuzzSpec extends SparkSpec {
  import spark.implicits._

  test("random corpora: exhaustive and WAND paths match the oracle") {
    // exhaustive: k = All sorted and cut to k; WAND: the bounded request
    val rnd = new scala.util.Random(12345)
    val trials = sys.env.getOrElse("GRAFT_FUZZ_TRIALS", "3").toInt
    for (trial <- 0 until trials) {
      val n = 40 + rnd.nextInt(120)
      val vocab = (0 until (5 + rnd.nextInt(20))).map(i => s"w$i")
      def doc(i: Int): String = {
        val len = rnd.nextInt(5) match {
          case 0 => 0                      // empty doc
          case 1 => 1                      // single token
          case _ => 1 + rnd.nextInt(60)
        }
        val sb = new StringBuilder
        sb ++= "everydoc "                 // a term present in every doc
        for (_ <- 0 until len) { sb ++= vocab(rnd.nextInt(vocab.size)); sb += ' ' }
        if (i == 0) sb ++= ("hugetf " * 300) // pathological tf
        sb.toString
      }
      val contents = (0 until n).map(doc)
      val corpusLocal = contents.zipWithIndex.map { case (c, i) => OracleScorer.Doc(i.toLong, c) }
      val df = contents.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("docId", "content")
      val blocks = IndexBuilder.packBlocks(spark, IndexBuilder.invert(spark, df), 4).cache()
      val termstats = IndexBuilder.termStats(blocks).cache()
      val stats = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, df))

      for (q <- 0 until 6) {
        val nTerms = 1 + rnd.nextInt(3)
        val terms = (0 until nTerms).map(_ => rnd.nextInt(10) match {
          case 0 => "everydoc"
          case 1 => "hugetf"
          case 2 => "absentterm"
          case _ => vocab(rnd.nextInt(vocab.size))
        })
        val mode = if (rnd.nextBoolean()) QueryEngine.Or else QueryEngine.And
        val k = Seq(1, 7, n)(rnd.nextInt(3))
        val mustNot: Seq[String] = rnd.nextInt(4) match {
          case 0 => Seq(vocab(rnd.nextInt(vocab.size)))
          case 1 => Seq("everydoc")
          case _ => Nil
        }
        val want = OracleScorer.topK(corpusLocal, terms, k, mode, mustNot)
        def run(kk: Int) =
          QueryEngine.run(spark, blocks, termstats, stats,
            QueryEngine.Request(QueryEngine.Terms(terms), kk, mode, mustNot))
            .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
        val all = run(QueryEngine.All).sortBy { case (id, s) => (-s, id) }.take(k)
        assert(all === want, s"trial=$trial q=$q all terms=$terms mode=$mode k=$k neg=$mustNot")
        assert(run(k) === want, s"trial=$trial q=$q bounded terms=$terms mode=$mode k=$k neg=$mustNot")
      }
      blocks.unpersist(); termstats.unpersist()
    }
  }

  test("random flat term booleans: one kernel request equals the oracle and evalBool, bit for bit") {
    val rnd = new scala.util.Random(4242)
    val n = 150
    val vocab = (0 until 10).map(i => s"w$i")
    val contents = (0 until n).map { i =>
      val len = if (rnd.nextInt(4) == 0) 1 else 1 + rnd.nextInt(40)
      "everydoc " + Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ") +
        (if (i == 7) " hugetf" * 200 else "")
    }
    val corpus = contents.zipWithIndex.map { case (c, i) => OracleScorer.Doc(i.toLong, c) }
    val dir = Files.createTempDirectory("graft-fuzz-bool").toString
    IndexStore.build(spark, contents.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("docId", "content"),
      dir, numSegments = 2, shufflePartitions = 3)
    def term(): String = rnd.nextInt(8) match {
      case 0 => "absentterm"
      case 1 => "everydoc"
      case 2 => "hugetf"
      case _ => vocab(rnd.nextInt(vocab.size))
    }
    def boost(): Float = Seq(1f, 1f, 2f, 0.5f)(rnd.nextInt(4))
    // (must, should, mustNot, boosts of must ++ should): a mustNot-only
    // query, a term in two clauses, then random clause lists
    val queries = Seq((Nil, Nil, Seq(term()), Nil), (Seq("w1"), Seq("w1", "w2"), Seq("w3"), Seq(1f, 2f, 1f))) ++
      (0 until 6).map { _ =>
        val must = Seq.fill(rnd.nextInt(3))(term())
        val should = Seq.fill(if (must.isEmpty) 1 + rnd.nextInt(3) else rnd.nextInt(3))(term())
        (must, should, Seq.fill(rnd.nextInt(3))(term()), Seq.fill(must.size + should.size)(boost()))
      }
    // the query string; `field` wraps each leaf in a field prefix, which
    // the lowering does not match, so the clauses run through evalBool
    def text(must: Seq[String], should: Seq[String], mustNot: Seq[String], boosts: Seq[Float],
             field: Boolean): String = {
      def leaf(t: String, b: Float) = (if (field) s"content:$t" else t) + (if (b == 1f) "" else s"^$b")
      (must.zip(boosts).map { case (t, b) => "+" + leaf(t, b) } ++
        should.zip(boosts.drop(must.size)).map { case (t, b) => leaf(t, b) } ++
        mustNot.map(t => "-" + leaf(t, 1f))).mkString(" ")
    }
    def bits(hs: Seq[(Long, Float)]) = hs.map { case (d, s) => (d, java.lang.Float.floatToRawIntBits(s)) }
    def check(dead: Set[Long]): Unit = for (warm <- Seq(false, true)) {
      val idx = IndexStore.OpenIndex(spark, dir)
      if (warm) idx.warm(2)
      for ((must, should, mustNot, boosts) <- queries; k <- Seq(1, 10, 100, QueryEngine.All)) {
        // tombstones leave the stats as they are: the oracle ranks every doc
        val want = OracleScorer.topKBool(corpus, must, should, mustNot, boosts, QueryEngine.All)
          .filterNot(h => dead(h._1)).take(k)
        def got(field: Boolean) = bits(idx.search(text(must, should, mustNot, boosts, field), k)
          .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq.sortBy { case (id, s) => (-s, id) })
        val clue = s"${text(must, should, mustNot, boosts, field = false)} k=$k warm=$warm dead=$dead"
        assert(got(field = false) === bits(want), clue)
        assert(got(field = true) === bits(want), clue)
      }
      if (warm) idx.blocks.unpersist()
    }
    check(Set.empty)
    // one tombstone: the best doc of the random query with the most hits
    val (m, sh, mn, bs) = queries.maxBy { case (m, sh, mn, bs) => OracleScorer.topKBool(corpus, m, sh, mn, bs, n).size }
    val victim = OracleScorer.topKBool(corpus, m, sh, mn, bs, 1).head._1
    IndexStore.delete(spark, dir, Seq(victim))
    check(Set(victim))
    graft.util.Fs.rmTree(dir)
  }

  test("random corpora: synonym and dismax scoring match their local oracles") {
    import graft.codec.SmallFloat
    import graft.query.BM25
    val rnd = new scala.util.Random(777)
    val trials = sys.env.getOrElse("GRAFT_FUZZ_TRIALS", "3").toInt
    for (trial <- 0 until trials) {
      val n = 40 + rnd.nextInt(80)
      val vocab = (0 until (5 + rnd.nextInt(15))).map(i => s"w$i")
      val contents = (0 until n).map { i =>
        val len = rnd.nextInt(50)
        val sb = new StringBuilder("base ")
        for (_ <- 0 until len) { sb ++= vocab(rnd.nextInt(vocab.size)); sb += ' ' }
        sb.toString
      }
      val df = contents.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("docId", "content")
      val blocks = IndexBuilder.packBlocks(spark, IndexBuilder.invert(spark, df), 4).cache()
      val termstats = IndexBuilder.termStats(blocks).cache()
      val stats = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, df))
      val analyzed = contents.zipWithIndex.map { case (c, i) =>
        val (tfs, dl) = graft.analysis.Analyzer.termFreqs(c)
        (i.toLong, tfs.toMap, dl)
      }
      for (_ <- 0 until 4) {
        val terms = (0 until (1 + rnd.nextInt(3)))
          .map(_ => if (rnd.nextInt(8) == 0) "absent" else vocab(rnd.nextInt(vocab.size)))
        val k = Seq(1, 5, n)(rnd.nextInt(3))

        // synonym: df = max member df, score once on summed tf
        val qs = terms.distinct
        val dfs = qs.map(t => t -> analyzed.count(_._2.contains(t)).toLong)
          .filter(_._2 > 0).toMap
        val wantSyn =
          if (dfs.isEmpty) Nil
          else {
            val scorer = BM25.termScorer(1f, BM25.DefaultK1, BM25.DefaultB,
              dfs.values.max, n.toLong, analyzed.map(_._3.toLong).sum)
            analyzed.flatMap { case (id, tfs, dl) =>
              val synTf = qs.map(tfs.getOrElse(_, 0)).sum
              if (synTf == 0) None
              else Some((id, synTf, scorer.score(synTf.toFloat, SmallFloat.intToByte4(dl))))
            }.sortBy { case (id, _, s) => (-s, id) }.take(k)
          }
        val gotSyn = QueryEngine.synonymTopK(spark, blocks, termstats, stats, terms, k)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getFloat(2))).toSeq
        assert(gotSyn === wantSyn, s"trial=$trial synonym terms=$terms k=$k")

        // dismax: float running max + double sum-of-others x tiebreak
        val tb = Seq(0f, 0.1f, 1f)(rnd.nextInt(3))
        val sumTtf = analyzed.map(_._3.toLong).sum
        val scorers = qs.flatMap(t =>
          dfs.get(t).map(d => t -> BM25.termScorer(1f, BM25.DefaultK1, BM25.DefaultB, d, n.toLong, sumTtf))).toMap
        val wantDm = analyzed.flatMap { case (id, tfs, dl) =>
          val nb = SmallFloat.intToByte4(dl)
          val parts = qs.flatMap(t => for (f <- tfs.get(t); sc <- scorers.get(t)) yield sc.score(f.toFloat, nb))
          if (parts.isEmpty) None
          else {
            var mx = 0f; var other = 0.0
            parts.foreach(s => if (s >= mx) { other += mx; mx = s } else other += s)
            Some((id, (mx + other * tb).toFloat))
          }
        }.sortBy { case (id, s) => (-s, id) }.take(k)
        val gotDm = QueryEngine.run(spark, blocks, termstats, stats,
            QueryEngine.Request(QueryEngine.Terms(terms), k, tieBreaker = Some(tb)))
          .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
        assert(gotDm === wantDm, s"trial=$trial dismax terms=$terms tb=$tb k=$k")
      }
      blocks.unpersist(); termstats.unpersist()
    }
  }
}

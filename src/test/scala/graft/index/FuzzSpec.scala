package graft.index

import graft.SparkSpec
import graft.query.{OracleScorer, QueryEngine, Wand}

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

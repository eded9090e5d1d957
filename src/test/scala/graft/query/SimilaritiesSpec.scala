package graft.query

import graft.SparkSpec
import graft.codec.SmallFloat
import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexBuilder}

/** Pluggable-similarity parity: the engine with ClassicSim / LMDirichletSim
  * must match the brute-force oracle (same norm quantization, float casts,
  * tie-break) rank- AND score-identically — the same bar EngineSpec holds
  * BM25 to. Scorer arithmetic is additionally pinned by value goldens. */
class SimilaritiesSpec extends SparkSpec {

  val N = 400
  lazy val corpusLocal: Seq[OracleScorer.Doc] =
    (0L until N).map(i => CorpusGen.genFile(i))
      .sortBy(f => (f.repo, f.path, f.commit))
      .zipWithIndex.map { case (f, i) => OracleScorer.Doc(i.toLong, f.content) }
  lazy val withIds =
    DocIds.assign(CorpusGen.corpus(spark, N, 5).toDF(), Seq("repo", "path", "commit"), 4).cache()
  lazy val blocks = IndexBuilder.packBlocks(spark, IndexBuilder.invert(spark, withIds), 6).cache()
  lazy val termstats = IndexBuilder.termStats(blocks).cache()
  lazy val stats = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, withIds))

  private def engineTopK(terms: Seq[String], k: Int, sim: Similarity): Seq[(Long, Float)] =
    QueryEngine.run(spark, blocks, termstats, stats,
      QueryEngine.Request(QueryEngine.Terms(terms, sim), k))
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq

  /** Every match (k = All), sorted (score DESC, docId ASC) and cut to k. */
  private def allCutToK(terms: Seq[String], k: Int, sim: Similarity): Seq[(Long, Float)] =
    engineTopK(terms, QueryEngine.All, sim).sortBy { case (id, s) => (-s, id) }.take(k)

  val queries: Seq[Seq[String]] = Seq(
    Seq("public"),
    Seq("parseconfig", "handler7"),
    Seq("import", "return", "uniq_10_1"),
    Seq("12", "buildindex", "def", "queryengine", "val"))

  test("classic TF-IDF scorer arithmetic (reference TFIDFScorer)") {
    // docCount=99, df=9: idf = (ln(100/10)+1); freq=4, dl=16 -> norm byte
    // decodes back to 16, lengthNorm = 1/sqrt(16) = 0.25; tf = sqrt(4) = 2
    val s = ClassicSim.scorer(1f, 9L, 0L, 99L, 0L)
    val want = (Math.sqrt(4.0).toFloat * (Math.log(100 / 10.0) + 1.0).toFloat) * 0.25f
    assert(s.score(4f, SmallFloat.intToByte4(16)) === want)
    // norm byte 0 is the reference's 1/normTable[255] quirk, not Infinity
    assert(java.lang.Float.isFinite(s.score(4f, 0.toByte)))
  }

  test("LMDirichlet scorer: rare-term gain, length penalty, zero clip") {
    val sim = LMDirichletSim()
    // rare term (ttf=2) in a short doc: strongly positive
    val rare = sim.scorer(1f, 1L, 2L, 1000L, 100000L)
    assert(rare.score(2f, SmallFloat.intToByte4(20)) > 0f)
    // very common term (collection prob ~0.5) in a long doc: the doc-length
    // penalty dominates and the reference clips the sum at zero
    val common = sim.scorer(1f, 900L, 50000L, 1000L, 100000L)
    val clipped = common.score(1f, SmallFloat.intToByte4(10000))
    assert(clipped === 0f)
    // exact arithmetic pin: double math, clip BEFORE the float cast
    val p = (2L + 1d) / (100000L + 1d)
    val dl = SmallFloat.byte4ToInt(SmallFloat.intToByte4(20)).toDouble
    val want = (Math.log(1 + 2f / (2000f * p)) + Math.log(2000f / (dl + 2000f))).toFloat
    assert(rare.score(2f, SmallFloat.intToByte4(20)) === want)
  }

  test("BooleanSim: every match scores the boost; OR sum counts matched terms") {
    val got = engineTopK(Seq("parseconfig", "handler7"), 50, BooleanSim)
    val want = OracleScorer.topKSim(corpusLocal, Seq("parseconfig", "handler7"), 50, BooleanSim)
    assert(got === want)
    // scores are exactly 1.0 or 2.0 (number of matched clauses x boost)
    assert(got.map(_._2).toSet.subsetOf(Set(1f, 2f)))
  }

  test("engine with ClassicSim matches the brute-force classic oracle") {
    for (terms <- queries; k <- Seq(1, 10, 50)) {
      val got = engineTopK(terms, k, ClassicSim)
      val want = OracleScorer.topKSim(corpusLocal, terms, k, ClassicSim)
      assert(got === want, s"terms=$terms k=$k")
    }
  }

  test("engine with LMDirichletSim matches the brute-force LM oracle") {
    for (terms <- queries; k <- Seq(1, 10, 50)) {
      val got = engineTopK(terms, k, LMDirichletSim())
      val want = OracleScorer.topKSim(corpusLocal, terms, k, LMDirichletSim())
      assert(got === want, s"terms=$terms k=$k")
    }
  }

  test("engine with LMJelinekMercerSim matches the brute-force oracle; arithmetic pinned") {
    // arithmetic: boost * ln(1 + ((1-l)*freq/dl) / (l*p)), no clip needed
    val s = LMJelinekMercerSim(0.1f).scorer(1f, 1L, 2L, 1000L, 100000L)
    val p = (2L + 1d) / (100000L + 1d)
    val dl = SmallFloat.byte4ToInt(SmallFloat.intToByte4(20)).toDouble
    val want = (1f * Math.log(1 + ((1 - 0.1f) * 2f / dl) / (0.1f * p))).toFloat
    assert(s.score(2f, SmallFloat.intToByte4(20)) === want)
    for (terms <- queries; k <- Seq(10, 50)) {
      val got = engineTopK(terms, k, LMJelinekMercerSim())
      val wantTop = OracleScorer.topKSim(corpusLocal, terms, k, LMJelinekMercerSim())
      assert(got === wantTop, s"terms=$terms k=$k")
    }
  }

  test("engine with DFR InL2 matches the brute-force oracle; arithmetic pinned") {
    // tfn = freq*log2(1+avgdl/dl); A = log2((N+1)/(df+0.5)); A*(1-1/(1+tfn))
    val s = DfrInL2Sim().scorer(1f, 9L, 0L, 99L, 1980L)
    val avgdl = 1980L / 99d
    val dl = SmallFloat.byte4ToInt(SmallFloat.intToByte4(16)).toDouble
    val tfn = 4f * (Math.log(1 + 1f * avgdl / dl) / Math.log(2))
    val a = Math.log(100 / 9.5) / Math.log(2)
    assert(s.score(4f, SmallFloat.intToByte4(16)) === (a * (1 - 1 / (1 + tfn))).toFloat)
    for (terms <- queries; k <- Seq(10, 50)) {
      val got = engineTopK(terms, k, DfrInL2Sim())
      val want = OracleScorer.topKSim(corpusLocal, terms, k, DfrInL2Sim())
      assert(got === want, s"terms=$terms k=$k")
    }
  }

  test("engine with DFI matches the brute-force oracle; arithmetic pinned") {
    // expected = (ttf+1)*dl/(sumTtf+1); below-expected freq scores ZERO;
    // above it: log2(standardized(freq, expected) + 1)
    val s = DfiSim().scorer(1f, 9L, 40L, 99L, 1980L)
    val dl = SmallFloat.byte4ToInt(SmallFloat.intToByte4(16)).toDouble
    val expected = 41d * dl / 1981d
    val want = (Math.log((4f - expected) / Math.sqrt(expected) + 1) / Math.log(2)).toFloat
    assert(s.score(4f, SmallFloat.intToByte4(16)) === want)
    assert(s.score(0.2f, SmallFloat.intToByte4(1000)) === 0f) // freq <= expected
    for (m <- Seq(DfiSim.Standardized, DfiSim.Saturated, DfiSim.ChiSquared);
         terms <- queries.take(3); k <- Seq(10, 50)) {
      val got = engineTopK(terms, k, DfiSim(m))
      val want2 = OracleScorer.topKSim(corpusLocal, terms, k, DfiSim(m))
      assert(got === want2, s"measure=$m terms=$terms k=$k")
    }
  }

  test("engine with IB (SPL/DF/H2 and LL/TTF/H1) matches the oracle; arithmetic pinned") {
    // LL: -ln(lambda/(tfn+lambda)) with H1 tfn = freq*c*avgdl/dl, lambda=(ttf+1)/(N+1)
    val ll = IBSim(IBSim.LL, IBSim.LambdaTTF, IBSim.H1).scorer(1f, 9L, 40L, 99L, 1980L)
    val avgdl = 1980L / 99d
    val dl = SmallFloat.byte4ToInt(SmallFloat.intToByte4(16)).toDouble
    val tfn = 4f * 1f * (avgdl / dl)
    val lam = ((40L + 1.0) / (99L + 1.0)).toFloat
    assert(ll.score(4f, SmallFloat.intToByte4(16)) === (-Math.log(lam / (tfn + lam))).toFloat)
    for ((d, lf, n) <- Seq((IBSim.SPL, IBSim.LambdaDF, IBSim.H2),
                           (IBSim.LL, IBSim.LambdaTTF, IBSim.H1));
         terms <- queries.take(3); k <- Seq(10, 50)) {
      val sim = IBSim(d, lf, n)
      val got = engineTopK(terms, k, sim)
      val want2 = OracleScorer.topKSim(corpusLocal, terms, k, sim)
      assert(got === want2, s"sim=$sim terms=$terms k=$k")
    }
  }

  test("engine with AxiomaticF2EXP matches the oracle; arithmetic pinned") {
    // tfln = freq/(freq + s + s*dl/avgdl); idf = ((N+1)/df)^k
    val s = AxiomaticF2ExpSim().scorer(1f, 9L, 0L, 99L, 1980L)
    val avgdl = 1980L / 99d
    val dl = SmallFloat.byte4ToInt(SmallFloat.intToByte4(16)).toDouble
    val tfln = 4f / (4f + 0.25f + 0.25f * dl / avgdl)
    val idf = Math.pow(100.0 / 9, 0.35f)
    assert(s.score(4f, SmallFloat.intToByte4(16)) === (tfln * idf).toFloat)
    for (terms <- queries; k <- Seq(10, 50)) {
      val got = engineTopK(terms, k, AxiomaticF2ExpSim())
      val want2 = OracleScorer.topKSim(corpusLocal, terms, k, AxiomaticF2ExpSim())
      assert(got === want2, s"terms=$terms k=$k")
    }
  }

  test("MultiSim sums member scores; engine matches the oracle") {
    val multi = MultiSim(Seq(Bm25Sim(), ClassicSim))
    val s = multi.scorer(1f, 9L, 0L, 99L, 1980L)
    val want = Bm25Sim().scorer(1f, 9L, 0L, 99L, 1980L).score(4f, SmallFloat.intToByte4(16)) +
      ClassicSim.scorer(1f, 9L, 0L, 99L, 1980L).score(4f, SmallFloat.intToByte4(16))
    assert(s.score(4f, SmallFloat.intToByte4(16)) === want)
    for (terms <- queries.take(3); k <- Seq(10, 50)) {
      val got = engineTopK(terms, k, multi)
      val want2 = OracleScorer.topKSim(corpusLocal, terms, k, multi)
      assert(got === want2, s"terms=$terms k=$k")
    }
  }

  test("block-max WAND is similarity-generic: classic WAND == classic oracle") {
    // the WAND bounds come from scorer.score over impact pairs, which is a
    // valid upper bound for ANY freq-monotone/length-antitone similarity
    for (terms <- queries; k <- Seq(10, 50)) {
      val got = engineTopK(terms, k, ClassicSim)
      assert(got === allCutToK(terms, k, ClassicSim), s"terms=$terms k=$k")
      val want = OracleScorer.topKSim(corpusLocal, terms, k, ClassicSim)
      assert(got === want, s"terms=$terms k=$k")
    }
  }

  /** Every norm byte that a doc length >= 1 encodes to, ascending unsigned. */
  private val normBytes: Seq[Byte] = (1 to 255).map(_.toByte)
    .filter(b => SmallFloat.byte4ToInt(b) >= 1 && SmallFloat.intToByte4(SmallFloat.byte4ToInt(b)) == b)

  /** The first (freq, norm byte) step at which the score falls with freq or
    * rises with the unsigned norm byte, or None when it never does. */
  private def contractBreak(s: SimScorer): Option[String] = {
    val steps = for (f <- 1 to 64; (nb, i) <- normBytes.zipWithIndex) yield {
      val here = s.score(f.toFloat, nb)
      if (f < 64 && s.score(f + 1f, nb) < here) Some(s"freq $f -> ${f + 1} at norm byte ${nb & 0xFF}")
      else if (i + 1 < normBytes.size && s.score(f.toFloat, normBytes(i + 1)) > here)
        Some(s"norm byte ${nb & 0xFF} -> ${normBytes(i + 1) & 0xFF} at freq $f")
      else None
    }
    steps.flatten.headOption
  }

  test("similarity bound contract: each shipped Similarity is freq-monotone and norm-antitone, or declares it is not") {
    assert(normBytes.size > 200 && normBytes.head == SmallFloat.intToByte4(1))
    // defaults, then the parameters the specs and the CLI use
    val sims: Seq[Similarity] = Seq(Bm25Sim(), ClassicSim, BooleanSim, LMDirichletSim(), DfrInL2Sim(),
      DfiSim(), IBSim(), AxiomaticF2ExpSim(), MultiSim(Seq(Bm25Sim(), ClassicSim)),
      LMJelinekMercerSim(), SweetSpotSim(),
      Bm25Sim(0.9f, 0.4f), LMJelinekMercerSim(0.1f), DfiSim(DfiSim.Saturated), DfiSim(DfiSim.ChiSquared),
      IBSim(IBSim.LL, IBSim.LambdaTTF, IBSim.H1), SweetSpotSim(lnMin = 1, lnMax = 1, steepness = 0.5f),
      SweetSpotSim(hyperbolic = true, hyperMin = 0f, hyperMax = 2f, hyperBase = 1.3, hyperXoffset = 5f))
    // (df, ttf, docCount, sumTtf): the pinned-arithmetic stats, a rare and
    // a common term over this spec's corpus
    val statsSets = Seq((9L, 40L, 99L, 1980L), (1L, 2L, N.toLong, stats.sumTotalTermFreq),
      (N / 2L, 20L * N, N.toLong, stats.sumTotalTermFreq))
    for (sim <- sims; (df, ttf, n, sumTtf) <- statsSets) {
      val s = sim.scorer(1f, df, ttf, n, sumTtf)
      assert(s.impactBounded, s"$sim")
      assert(contractBreak(s).isEmpty, s"$sim at df=$df ttf=$ttf: ${contractBreak(s)}")
    }
    // a plateau past length 1 scores shorter docs LOWER: it breaks the
    // contract and says so; so do the spec's plateau and the CLI's
    for (sim <- Seq(SweetSpotSim(lnMin = 8, lnMax = 20, steepness = 0.5f, tfBase = 1.5f, tfMin = 2f),
                    SweetSpotSim(lnMin = 8, lnMax = 64), SweetSpotSim(lnMin = 2, lnMax = 2))) {
      val s = sim.scorer(1f, 9L, 40L, 99L, 1980L)
      assert(!s.impactBounded, s"$sim")
      assert(contractBreak(s).nonEmpty, s"$sim")
      assert(!MultiSim(Seq(Bm25Sim(), sim)).scorer(1f, 9L, 40L, 99L, 1980L).impactBounded)
    }
  }

  test("SweetSpot plateau: skipping would drop a short high-tf doc; the engine does not skip") {
    import spark.implicits._
    // docs 0..127 fill one block with tf 1 on the plateau (dl 8); in the
    // next block, doc 128 (tf 6, dl 6: below the plateau) dominates doc 129
    // (tf 5, dl 8) in the competitive impacts, so that block's bound is
    // sqrt(6)/3 of the weight while doc 129 scores sqrt(5) of it
    val sim = SweetSpotSim(lnMin = 8, lnMax = 20, steepness = 2f)
    val contents = (0 until 128).map(_ => "x a b c d e f g") ++
      Seq("x x x x x x", "x x x x x a b c") ++ (0 until 40).map(_ => "a b c d e f g h")
    val local = contents.zipWithIndex.map { case (c, i) => OracleScorer.Doc(i.toLong, c) }
    val df = contents.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("docId", "content")
    val b = IndexBuilder.packBlocks(spark, IndexBuilder.invert(spark, df), 1).cache()
    val ts = IndexBuilder.termStats(b)
    val cs = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, df))
    val want = OracleScorer.topKSim(local, Seq("x"), 1, sim)
    assert(want.map(_._1) === Seq(129L))
    val got = QueryEngine.run(spark, b, ts, cs, QueryEngine.Request(QueryEngine.Terms(Seq("x"), sim), 1))
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(got === want)
    // the kernel, told these bounds are sound, skips and loses doc 129
    val infos = QueryEngine.plan(ts, cs, Seq("x"), sim = sim)
      .map(i => i.copy(scorer = ClaimsImpactBounded(i.scorer)))
    val forced = Wand.topK(spark, b, infos, 1)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(forced.map(_._1) === Seq(0L))
    b.unpersist()
  }

  test("SweetSpotSim: plateau norm, baseline tf arithmetic, engine==oracle") {
    val sim = SweetSpotSim(lnMin = 8, lnMax = 20, steepness = 0.5f,
      tfBase = 1.5f, tfMin = 2f)
    // plateau: lengthNorm == 1.0 for every doc length inside [min, max]
    (8 to 20).foreach(x => assert(sim.lengthNorm(x) === 1.0f, s"x=$x"))
    assert(sim.lengthNorm(7) < 1.0f && sim.lengthNorm(21) < 1.0f)
    // degenerate config == ClassicSim's 1/sqrt(x) norm
    val degen = SweetSpotSim(lnMin = 1, lnMax = 1, steepness = 0.5f)
    assert(degen.lengthNorm(16) === (1.0 / Math.sqrt(16.0)).toFloat)
    // baselineTf: 0 at 0; base at f<=min; sqrt(f + base^2 - min) above
    assert(sim.tf(0f) === 0f)
    assert(sim.tf(1f) === 1.5f && sim.tf(2f) === 1.5f)
    assert(sim.tf(5f) === Math.sqrt(5.0 + 1.5 * 1.5 - 2.0).toFloat)
    // engine rank+score identity vs the brute-force oracle
    queries.foreach { q =>
      val got = engineTopK(q, 30, sim)
      val want = OracleScorer.topKSim(corpusLocal, q, 30, sim)
      assert(got === want, s"query=$q")
    }
  }

  test("SweetSpotSim hyperbolic tf: hard max, engine==oracle") {
    val sim = SweetSpotSim(hyperbolic = true,
      hyperMin = 0f, hyperMax = 2f, hyperBase = 1.3, hyperXoffset = 5f)
    assert(sim.tf(0f) === 0f)
    // approaches but never exceeds the hard max
    assert(sim.tf(100f) <= 2.0f && sim.tf(100f) > 1.99f)
    assert(sim.tf(5f) === 1.0f) // tanh(0) midpoint
    val got = engineTopK(queries.last, 30, sim)
    val want = OracleScorer.topKSim(corpusLocal, queries.last, 30, sim)
    assert(got === want)
  }
}

/** A scorer that claims its impacts bound its blocks, whatever it is: forces
  * block-max skipping on a similarity outside the bound contract. */
final case class ClaimsImpactBounded(s: SimScorer) extends SimScorer {
  def score(freq: Float, normByte: Byte): Float = s.score(freq, normByte)
  override def impactBounded: Boolean = true
}

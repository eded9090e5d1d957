package graft.operators

import graft.SparkSpec
import graft.query.QueryEngine
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-library semantics tests on tiny in-memory data. */
class OperatorsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "spark query join the fast spark"),
    (1L, "query data the the a slow"),
    (2L, "spark spark spark join"),
    (3L, "unrelated words only here"),
    (4L, "spark query join the fast spark") // exact dup of doc 0
  ).toDF("doc_id", "text")

  test("tokenTable explodes lowercase alnum runs") {
    val t = TextOps.tokenTable(docs, "doc_id", "text")
    assert(t.count() === 26)
    assert(t.filter($"doc_id" === 0 && $"tok" === "spark").count() === 2)
  }

  test("bm25All OR ranks higher-tf doc higher, AND requires all terms") {
    val or = TextOps.bm25All(docs, "doc_id", "text", Seq("spark", "query"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(or.keySet === Set(0L, 1L, 2L, 4L))
    // doc 0 and its dup 4 must score identically
    assert(or(0L) === or(4L))
    val and = TextOps.bm25All(docs, "doc_id", "text", Seq("spark", "query"), mode = QueryEngine.And)
      .select("doc_id").as[Long].collect().toSet
    assert(and === Set(0L, 4L))
    val not = TextOps.bm25All(docs, "doc_id", "text", Seq("query"), mustNot = Seq("slow"))
      .select("doc_id").as[Long].collect().toSet
    assert(not === Set(0L, 4L))
  }

  test("bm25 idf is computed from full-corpus df (rarer term scores higher at equal tf)") {
    val d = Seq((0L, "alpha beta"), (1L, "alpha gamma"), (2L, "alpha delta"), (3L, "beta x"))
      .toDF("doc_id", "text")
    val s = TextOps.bm25All(d, "doc_id", "text", Seq("gamma", "beta"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // df(gamma)=1 < df(beta)=2 -> doc1 (gamma, dl=2) > doc0 (beta, dl=2)
    assert(s(1L) > s(0L))
  }

  // ---- declarative scorers pinned against a plain-Scala evaluation of the
  // formula in each doc comment (scores are rounded to 5 decimals) ----

  private val scoringTexts = Seq(
    0L -> "spark query join the fast spark",
    1L -> "query data the the a slow",
    2L -> "spark spark spark join",
    3L -> "unrelated words only here",
    4L -> "spark query join the fast spark",
    5L -> "data group data spark scan",
    6L -> "the scan the scan dup",
    7L -> "spark data query slow data data",
    8L -> "dup spark the",
    9L -> "",
    10L -> "join join data query the",
    11L -> "Spark-Query! JOIN, data? 42",
    12L -> ("query dup " + Seq.fill(39)("w").mkString(" ")))
  private lazy val scoringDocs = scoringTexts.toDF("doc_id", "text")

  /** Collection statistics of `scoringTexts` computed without Spark. */
  private object Ref {
    val tfs: Map[Long, Map[String, Int]] = scoringTexts.map { case (id, t) =>
      id -> TextOps.TokenPattern.r.findAllIn(t.toLowerCase).toSeq
        .groupBy(identity).map { case (k, v) => k -> v.size }
    }.toMap
    val dl: Map[Long, Double] = tfs.map { case (id, m) => id -> m.values.sum.toDouble }
    val n: Double = scoringTexts.size.toDouble
    val sumTtf: Double = dl.values.sum
    val avgdl: Double = sumTtf / n
    def df(t: String): Double = tfs.values.count(_.contains(t)).toDouble
    def ttf(t: String): Double = tfs.values.map(_.getOrElse(t, 0)).sum.toDouble
    def tf(id: Long, t: String): Double = tfs(id).getOrElse(t, 0).toDouble
    def matching(terms: Seq[String]): Seq[Long] =
      tfs.collect { case (id, m) if terms.exists(m.contains) => id }.toSeq
    def idf(dfx: Double): Double = math.log(1.0 + (n - dfx + 0.5) / (dfx + 0.5))
    def bm25(freq: Double, dlx: Double, dfx: Double): Double =
      idf(dfx) * freq / (freq + 1.2 * (1.0 - 0.75 + 0.75 * dlx / avgdl))
    def bm25(id: Long, t: String): Double = bm25(tf(id, t), dl(id), df(t))
    def bm25Sum(id: Long, terms: Seq[String]): Double =
      terms.distinct.filter(tf(id, _) > 0).map(bm25(id, _)).sum
  }

  private def scoresOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.select(col("doc_id"), col("score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def assertScores(got: Map[Long, Double], want: Map[Long, Double]): Unit = {
    assert(got.keySet === want.keySet)
    want.foreach { case (id, w) =>
      assert(math.abs(got(id) - w) <= 1e-5, s"doc $id: got ${got(id)}, want $w")
    }
  }

  test("tfidfAll: sum of sqrt(tf)·(1 + ln((N+1)/(df+1)))/sqrt(dl), OR and AND") {
    val q = Seq("spark", "slow")
    def want(ids: Seq[Long]) = ids.map(id => id -> q.filter(Ref.tf(id, _) > 0).map { t =>
      math.sqrt(Ref.tf(id, t)) * (1.0 + math.log((Ref.n + 1.0) / (Ref.df(t) + 1.0))) /
        math.sqrt(Ref.dl(id))
    }.sum).toMap
    assertScores(scoresOf(TextOps.tfidfAll(scoringDocs, "doc_id", "text", q)),
      want(Ref.matching(q)))
    val both = Ref.matching(q).filter(id => q.forall(Ref.tf(id, _) > 0))
    assert(both === Seq(7L))
    assertScores(scoresOf(TextOps.tfidfAll(scoringDocs, "doc_id", "text", q,
      mode = QueryEngine.And)), want(both))
  }

  test("lmDirichletAll: sum of max(0, ln(1 + tf/(mu·p)) + ln(mu/(dl+mu))), p = (ttf+1)/(sumTtf+1)") {
    val q = Seq("data", "w")
    val mu = 2000.0
    val want = Ref.matching(q).map(id => id -> q.filter(Ref.tf(id, _) > 0).map { t =>
      val p = (Ref.ttf(t) + 1.0) / (Ref.sumTtf + 1.0)
      math.max(0.0, math.log(1.0 + Ref.tf(id, t) / (mu * p)) + math.log(mu / (Ref.dl(id) + mu)))
    }.sum).toMap
    assertScores(scoresOf(TextOps.lmDirichletAll(scoringDocs, "doc_id", "text", q)), want)
  }

  test("dfiAll: sum of log2((tf − e)/sqrt(e) + 1) over tf > e, e = (ttf+1)·dl/(sumTtf+1)") {
    val q = Seq("data", "spark", "dup")
    val want = Ref.matching(q).map(id => id -> q.filter(Ref.tf(id, _) > 0).map { t =>
      val e = (Ref.ttf(t) + 1.0) * Ref.dl(id) / (Ref.sumTtf + 1.0)
      val f = Ref.tf(id, t)
      if (f <= e) 0.0 else math.log((f - e) / math.sqrt(e) + 1.0) / math.log(2.0)
    }.sum).toMap
    assert(want(12L) == 0.0 && want.values.exists(_ > 0.0))
    assertScores(scoresOf(TextOps.dfiAll(scoringDocs, "doc_id", "text", q)), want)
  }

  test("axiomaticAll: sum of tf/(tf + s0 + s0·dl/avgdl)·((N+1)/df)^k") {
    val q = Seq("spark", "dup")
    val (s0, k) = (0.25, 0.35)
    val want = Ref.matching(q).map(id => id -> q.filter(Ref.tf(id, _) > 0).map { t =>
      val f = Ref.tf(id, t)
      f / (f + s0 + s0 * Ref.dl(id) / Ref.avgdl) * math.pow((Ref.n + 1.0) / Ref.df(t), k)
    }.sum).toMap
    assertScores(scoresOf(TextOps.axiomaticAll(scoringDocs, "doc_id", "text", q)), want)
  }

  test("bm25QuantizedNorms: BM25 with dl through the SmallFloat norm byte, exact avgdl") {
    val q = Seq("query", "dup")
    def qdl(d: Double) = graft.codec.SmallFloat.byte4ToInt(
      graft.codec.SmallFloat.intToByte4(d.toInt)).toDouble
    assert(qdl(Ref.dl(12L)) != Ref.dl(12L)) // the long doc's norm is lossy
    val want = Ref.matching(q).map(id => id -> q.filter(Ref.tf(id, _) > 0)
      .map(t => Ref.bm25(Ref.tf(id, t), qdl(Ref.dl(id)), Ref.df(t))).sum).toMap
    assertScores(scoresOf(TextOps.bm25QuantizedNorms(scoringDocs, "doc_id", "text", q)), want)
  }

  test("bm25ReqOpt: every required term must match, optional terms only add") {
    val (req, opt) = (Seq("spark"), Seq("query", "slow"))
    val want = Ref.matching(req).filter(id => req.forall(Ref.tf(id, _) > 0))
      .map(id => id -> Ref.bm25Sum(id, req ++ opt)).toMap
    assertScores(scoresOf(TextOps.bm25ReqOpt(scoringDocs, "doc_id", "text", req, opt)), want)
  }

  test("commonTerms: df > maxTermFrequency·N terms only add score; all-high falls back to OR") {
    val q = Seq("dup", "the", "spark")
    val (high, low) = q.partition(t => Ref.df(t) > 0.4 * Ref.n)
    assert(low === Seq("dup") && high === Seq("the", "spark"))
    val want = Ref.matching(low).map(id => id -> Ref.bm25Sum(id, q)).toMap
    assertScores(scoresOf(TextOps.commonTerms(scoringDocs, "doc_id", "text", q, 0.4)), want)
    val allHigh = Seq("the", "spark")
    assertScores(scoresOf(TextOps.commonTerms(scoringDocs, "doc_id", "text", allHigh, 0.1)),
      Ref.matching(allHigh).map(id => id -> Ref.bm25Sum(id, allHigh)).toMap)
  }

  test("synonymBm25: one pseudo-term, summed tf, df = max member df") {
    val syn = Seq("spark", "join")
    val dfMax = syn.map(Ref.df).max
    val want = Ref.matching(syn).map { id =>
      id -> Ref.bm25(syn.map(Ref.tf(id, _)).sum, Ref.dl(id), dfMax)
    }.toMap
    assertScores(scoresOf(TextOps.synonymBm25(scoringDocs, "doc_id", "text", syn)), want)
  }

  test("disjunctionMaxBm25: max + tie·(sum − max) of the per-term BM25 scores") {
    val q = Seq("spark", "query", "data")
    val want = Ref.matching(q).map { id =>
      val s = q.filter(Ref.tf(id, _) > 0).map(Ref.bm25(id, _))
      id -> (s.max + 0.1 * (s.sum - s.max))
    }.toMap
    assertScores(scoresOf(TextOps.disjunctionMaxBm25(scoringDocs, "doc_id", "text", q, 0.1)),
      want)
  }

  test("maxScoreBm25: must terms gate and sum, should terms dismax with tie") {
    val (must, should) = (Seq("spark"), Seq("query", "data"))
    val want = Ref.matching(must).map { id =>
      val s = should.filter(Ref.tf(id, _) > 0).map(Ref.bm25(id, _))
      id -> (Ref.bm25Sum(id, must) + (if (s.isEmpty) 0.0 else s.max + 0.3 * (s.sum - s.max)))
    }.toMap
    assertScores(scoresOf(TextOps.maxScoreBm25(scoringDocs, "doc_id", "text", must, should,
      0.3)), want)
  }

  test("coveringBm25: per-doc minimum match, BM25 sum and the matched-clause count") {
    val q = Seq("spark", "query", "data")
    val got = TextOps.coveringBm25(scoringDocs, "doc_id", "text", q,
        lit(1) + col("doc_id") % 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val want = Ref.matching(q).flatMap { id =>
      val nm = q.count(Ref.tf(id, _) > 0)
      if (nm >= 1 + id % 3) Some(id -> (Ref.bm25Sum(id, q), nm.toLong)) else None
    }.toMap
    assertScores(got.map { case (id, (s, _)) => id -> s }, want.map { case (id, (s, _)) => id -> s })
    assert(got.map { case (id, (_, nm)) => id -> nm } === want.map { case (id, (_, nm)) => id -> nm })
  }

  test("bm25Expanded: every dictionary term the predicate selects keeps its own BM25") {
    val expanded = Ref.tfs.values.flatMap(_.keys).filter(_.startsWith("s")).toSeq.distinct
    assert(expanded.sorted === Seq("scan", "slow", "spark"))
    val want = Ref.matching(expanded).map(id => id -> Ref.bm25Sum(id, expanded)).toMap
    assertScores(scoresOf(TextOps.bm25Expanded(scoringDocs, "doc_id", "text",
      col("tok").startsWith("s"))), want)
  }

  test("bm25FeatureSaturation: BM25 plus weight·(1 − pivot/(f + pivot)) on matching docs") {
    val q = Seq("spark")
    val want = Ref.matching(q).map { id =>
      val f = (id + 1).toDouble / 2.0
      id -> (Ref.bm25Sum(id, q) + 1.5 * (1.0 - 4.0 / (f + 4.0)))
    }.toMap
    assertScores(scoresOf(TextOps.bm25FeatureSaturation(scoringDocs, "doc_id", "text", q,
      (col("doc_id") + 1) / 2.0, weight = 1.5, pivot = 4.0)), want)
  }

  test("phraseMatch finds consecutive tokens only") {
    val m = TextOps.phraseMatch(docs, "doc_id", "text", Seq("query", "join"))
      .select("doc_id").as[Long].collect().toSet
    assert(m === Set(0L, 4L)) // doc2 has 'spark join'; doc1 has query but not followed by join
  }

  test("sloppy phrase: adjusted-position range, reorder costs 2, 3-term brute-force parity") {
    val d = Seq(
      (0L, "a b c"),          // exact: slop 0
      (1L, "a x b y c"),      // gaps: q = 0,1,2 -> range 2
      (2L, "c b a"),          // fully reversed
      (3L, "a b"),            // missing c: no match
      (4L, "c x x a b")       // c first, far
    ).toDF("doc_id", "text")
    val got = TextOps.sloppyPhraseMatch(d, "doc_id", "text", Seq("a", "b", "c"), slop = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // brute force: min over occurrence choices of max(q)-min(q)
    def brute(text: String): Option[Int] = {
      val toks = text.split(" ").zipWithIndex
      val lists = Seq("a", "b", "c").zipWithIndex.map { case (t, i) =>
        toks.filter(_._1 == t).map(_._2 - i).toSeq
      }
      if (lists.exists(_.isEmpty)) None
      else Some((for (x <- lists(0); y <- lists(1); z <- lists(2))
        yield Seq(x, y, z).max - Seq(x, y, z).min).min)
    }
    val expect = Seq(0L -> "a b c", 1L -> "a x b y c", 2L -> "c b a", 3L -> "a b", 4L -> "c x x a b")
      .flatMap { case (id, t) => brute(t).filter(_ <= 4).map(id -> _) }.toMap
    assert(got === expect)
    assert(got(0L) === 0)
    assert(got(2L) === 4) // reversal of 3 terms: q = 2,0,-2 -> range 4
  }

  test("sloppy repeats kernel: pathological doc (10^4 repeats) stays fast and exact") {
    // four slots of the SAME term over 10^4 occurrences spaced 2 apart:
    // the unbounded DFS is O(L^n); the slop-window bound caps branching at
    // slop+1 per slot after the first
    val raws = (0 until 10000).map(_ * 2)
    val lists = (0 until 4).map(i => raws.map(_ - i): Seq[Int])
    val termOfSlot = Array(0, 0, 0, 0)
    val t0 = System.nanoTime()
    // distinct raws 0,2,4,6 -> adjusted 0,1,2,3 -> min range 3
    assert(TextOps.minRangeWithRepeats(lists, termOfSlot, slop = 3) === 3)
    // nothing fits slop 2 (adjusted range of 4 distinct evens is >= 3)
    assert(TextOps.minRangeWithRepeats(lists, termOfSlot, slop = 2) === Int.MaxValue)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(ms < 2000, s"pathological doc took ${ms}ms")
  }

  test("sloppy repeats kernel: randomized parity with brute-force enumeration") {
    val rnd = new scala.util.Random(11)
    def bruteMin(lists: Seq[Seq[Int]], termOfSlot: Array[Int]): Int = {
      def rec(s: Int, chosen: List[Int]): Int =
        if (s == lists.size) {
          val qs = chosen.reverse
          qs.max - qs.min
        } else lists(s).foldLeft(Int.MaxValue) { (best, q) =>
          val raw = q + s
          val clash = (0 until s).exists(j =>
            termOfSlot(j) == termOfSlot(s) && chosen.reverse(j) + j == raw)
          if (clash) best else math.min(best, rec(s + 1, q :: chosen))
        }
      rec(0, Nil)
    }
    for (_ <- 1 to 200) {
      val nSlots = 2 + rnd.nextInt(3)
      val nTerms = 1 + rnd.nextInt(nSlots)
      val termOfSlot = Array.fill(nSlots)(rnd.nextInt(nTerms))
      // same-term slots must share the SAME raw occurrence list (shifted)
      val rawByTerm = (0 until nTerms).map { _ =>
        val size = 1 + rnd.nextInt(4)
        Seq.fill(size)(rnd.nextInt(12)).distinct.sorted
      }
      val lists = (0 until nSlots).map(s => rawByTerm(termOfSlot(s)).map(_ - s))
      val slop = rnd.nextInt(8)
      val want0 = bruteMin(lists, termOfSlot)
      val want = if (want0 <= slop) want0 else Int.MaxValue
      val got = TextOps.minRangeWithRepeats(lists, termOfSlot, slop)
      assert(got === want, s"lists=$lists terms=${termOfSlot.toSeq} slop=$slop")
    }
  }

  test("minShouldMatch and disjunctionMax") {
    val msm = TextOps.minShouldMatch(docs, "doc_id", "text", Seq("spark", "query", "data"), 2)
      .select("doc_id").as[Long].collect().toSet
    assert(msm === Set(0L, 1L, 4L))
    val dmax = TextOps.disjunctionMax(docs, "doc_id", "text", Seq("spark", "query"), 0.1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dmax(2L) === 3.0) // only spark: max=3, no tiebreak
    assert(dmax(0L) === 2.0 + 0.1 * 1) // spark tf2 + 0.1*query tf1
  }

  test("exact dedup marks duplicate groups and keeps first") {
    val d = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(d(0L) === ((2L, true)))
    assert(d(4L) === ((2L, false)))
    assert(d(1L) === ((1L, true)))
  }

  test("minhash LSH finds the exact-dup pair with est_jaccard 1") {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 64)
    val cands = Dedup.minHashCandidates(sigs, "doc_id", bands = 16, rowsPerBand = 4, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cands.exists { case (a, b, j) => a == 0L && b == 4L && j == 1.0 })
  }

  test("simhash: identical docs have hamming 0, candidates found") {
    val sh = Dedup.simHash(docs, "doc_id", "text")
    val cands = Dedup.simHashCandidates(sh, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    assert(cands.exists { case (a, b, h) => a == 0L && b == 4L && h == 0L })
  }

  test("simhash typed kernel is bit-identical to the declarative tf-weighted form") {
    // the declarative reference: token explode -> tf groupBy -> 64 signed
    // column sums -> sign bits (the pre-optimization implementation)
    val tf = TextOps.termFreqs(docs, "doc_id", "text")
      .withColumn("h", xxhash64($"tok"))
    val bitCols = (0 until 64).map { i =>
      sum(when(shiftright($"h", i).bitwiseAND(1) === 1, $"tf")
        .otherwise(-$"tf")).as(s"b$i")
    }
    val sh = (0 until 64).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val expected = tf.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
      .select($"doc_id", sh.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("ngram jaccard: identical=1, disjoint~0") {
    val d = Seq((0L, "abcdefg", "abcdefg"), (1L, "abcdefg", "zzzzyyy"))
      .toDF("id", "a", "b")
    val j = d.select($"id", Dedup.ngramJaccard($"a", $"b", 3).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(j(0L) === 1.0)
    assert(j(1L) === 0.0)
  }

  test("cosine similarity: self=1, orthogonal=0; brute-force top-k ordered") {
    val embs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f)),
      (2L, Array(1f, 1f, 0f)),
      (3L, Array(-1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(embs, "vec_id", "embedding", Array(1f, 0f, 0f), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head._1 === 0L && math.abs(top.head._2 - 1.0) < 1e-12)
    assert(top.map(_._1).toSeq === Seq(0L, 2L, 1L))
  }

  test("ANN sign-sketch recall: query's nearest neighbor found via bucket probe") {
    val embs = (0L until 50L).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0.1f, 0f) else Array(0f, 1f, 0.3f)
      (i, base.map(_ + (i % 7) * 0.01f))
    }.toDF("vec_id", "embedding")
    val q = Array(1f, 0.1f, 0f)
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 5)
      .select("vec_id").as[Long].collect().toSet
    val ann = Similarity.annTopK(embs, "vec_id", "embedding", q, planes = 6, k = 5)
      .select("vec_id").as[Long].collect().toSet
    // multi-probe LSH on clearly-separated clusters: recall should be high
    assert(ann.intersect(exact).size >= 3)
  }

  test("IVF ANN: recall on clustered data; probed lists exclude far clusters") {
    val rnd = new scala.util.Random(11)
    val embs = (0L until 60L).map { i =>
      val base = (i % 3) match {
        case 0 => Array(1f, 0f, 0f, 0f)
        case 1 => Array(0f, 1f, 0f, 0f)
        case _ => Array(0f, 0f, 1f, 0f)
      }
      (i, base.map(_ + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val (assign, cents) = Similarity.ivfIndex(embs, "vec_id", "embedding", k = 6, iters = 2)
    assert(assign.count() === 60)
    val q = Array(1f, 0.02f, 0f, 0f)
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(assign, cents, "vec_id", "embedding", q, 10, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.intersect(exact).size >= 8, s"recall too low: ${ivf.intersect(exact).size}/10")
  }

  test("IVF at 512 dims: typed vector-sum centroid update, recall holds") {
    val rnd = new scala.util.Random(13)
    val dims = 512
    // 3 well-separated high-dim clusters
    val centers = (0 until 3).map(c => Array.fill(dims)(if (rnd.nextBoolean()) 1f else -1f))
    val embs = (0L until 90L).map { i =>
      val base = centers((i % 3).toInt)
      (i, base.map(_ + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val (assign, cents) = Similarity.ivfIndex(embs, "vec_id", "embedding", k = 4, iters = 2)
    assert(assign.count() === 90)
    assert(cents.forall(_.length === dims))
    val q = centers(1).map(_ + 0.01f)
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(assign, cents, "vec_id", "embedding", q, 10, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.intersect(exact).size >= 8, s"recall too low: ${ivf.intersect(exact).size}/10")
    assign.unpersist()
  }

  test("sign sketch rejects more than 64 planes with a clear message") {
    val embs = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.withSignSketch(embs, "embedding", planes = 65)
    }
    assert(e.getMessage.contains("planes must be in [1, 64]"))
  }

  test("multimodal: media table schema, decode stub, frame sampling") {
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq === Seq("asset_id", "mime", "payload"))
    val meta = Multimodal.decodeMeta(media)
    val r = meta.filter($"asset_id" === 0).head()
    val nBytes = "spark query join the fast spark".getBytes("UTF-8").length
    assert(r.getAs[Int]("n_bytes") === nBytes)
    assert(r.getAs[Int]("width") === 16 + nBytes % 1024)
    val frames = Multimodal.sampleFrames(meta, 2)
    assert(frames.filter($"asset_id" === 0).count() === 1) // 1 frame, stride 2 -> idx 0
    val feats = Multimodal.extractFeatures(media, 8)
    assert(feats.head().getAs[Seq[Float]]("features").length === 8)
    // resize: payload shrinks by the factor; downstream metadata reflects it
    val resized = Multimodal.resize(media, 4)
    val rm = Multimodal.decodeMeta(resized).filter($"asset_id" === 0).head()
    assert(rm.getAs[Int]("n_bytes") === (nBytes + 3) / 4)
    assert(rm.getAs[Int]("width") === 16 + ((nBytes + 3) / 4) % 1024)
  }

  test("multimodal: real PNG decode via javax.imageio round-trips synthesized dimensions") {
    // raster mime routes to the REAL decoder; fake mime keeps the stub
    val png = Multimodal.synthPng(seed = 42L, w = 37, h = 21)
    assert(Multimodal.decodeImage(png) === ((37, 21, 1, 0.0)))
    // content is deterministic: same seed -> identical bytes
    assert(png.toSeq === Multimodal.synthPng(42L, 37, 21).toSeq)
    assert(png.toSeq !== Multimodal.synthPng(43L, 37, 21).toSeq)
    val media = Seq((5L, "image/png", png)).toDF("asset_id", "mime", "payload")
    val r = Multimodal.decodeMeta(media).head()
    assert(r.getAs[Int]("width") === 37 && r.getAs[Int]("height") === 21)
    assert(r.getAs[Int]("n_frames") === 1 && r.getAs[Double]("duration_s") === 0.0)
    // a non-image payload under an image mime fails loudly, not silently
    val bad = Seq((6L, "image/png", Array[Byte](1, 2, 3))).toDF("asset_id", "mime", "payload")
    intercept[org.apache.spark.SparkException](Multimodal.decodeMeta(bad).collect())
  }

  test("multimodal: real WAV decode via javax.sound.sampled; real PNG resize") {
    // audio: synthesized PCM WAV round-trips (rate, channels, frames, duration)
    val wav = Multimodal.synthWav(seed = 7L, frames = 1234, rate = 8000f)
    assert(Multimodal.decodeAudio(wav) === ((8000, 1, 1234, 1234 / 8000.0)))
    assert(wav.toSeq === Multimodal.synthWav(7L, 1234).toSeq) // deterministic
    val media = Seq((9L, "audio/wav", wav)).toDF("asset_id", "mime", "payload")
    val r = Multimodal.decodeMeta(media).head()
    assert(r.getAs[Int]("width") === 8000 && r.getAs[Int]("height") === 1)
    assert(r.getAs[Int]("n_frames") === 1234)
    // image resize: decode-scale-reencode halves the true dimensions
    val png = Multimodal.synthPng(seed = 11L, w = 40, h = 22)
    val imedia = Seq((10L, "image/png", png)).toDF("asset_id", "mime", "payload")
    val rm = Multimodal.decodeMeta(Multimodal.resize(imedia, 2)).head()
    assert(rm.getAs[Int]("width") === 20 && rm.getAs[Int]("height") === 11)
  }

  test("multimodal: real MP4 container metadata via the ISO-BMFF box walker") {
    val mp4 = MediaContainers.synthMp4(w = 640, h = 360, frames = 75, fps = 25)
    // duration ticks = 75 * 1000 / 25 = 3000 at timescale 1000 -> 3.0 s
    assert(MediaContainers.decodeMp4(mp4) === ((640, 360, 75, 3.0)))
    assert(mp4.toSeq === MediaContainers.synthMp4(640, 360, 75, 25).toSeq)
    // routed by mime through decodeMeta
    val media = Seq((3L, "video/mp4", mp4)).toDF("asset_id", "mime", "payload")
    val r = Multimodal.decodeMeta(media).head()
    assert(r.getAs[Int]("width") === 640 && r.getAs[Int]("height") === 360)
    assert(r.getAs[Int]("n_frames") === 75 && r.getAs[Double]("duration_s") === 3.0)
    // malformed payloads fail loudly (box overrun), never a silent fake
    intercept[IllegalArgumentException](
      MediaContainers.decodeMp4(mp4.take(40) ++ Array[Byte](9, 9, 9, 9)))
    // an audio-only mp4 (no 'vide' handler) refuses video metadata
    val noVide = MediaContainers.synthMp4(0, 0, 1, 25)
    assert(MediaContainers.decodeMp4(noVide)._3 === 1) // has a track, frames real
  }

  test("multimodal: real Matroska/WebM metadata via the EBML walker") {
    val mkv = MediaContainers.synthMkv(w = 1280, h = 720, frames = 48, durationMs = 1920.0)
    val (w, h, f, d) = MediaContainers.decodeMkv(mkv)
    assert((w, h, f) === ((1280, 720, 48)))
    assert(math.abs(d - 1.92) < 1e-12) // 1920 ms x 1e6 ns / 1e9
    assert(mkv.toSeq === MediaContainers.synthMkv(1280, 720, 48, 1920.0).toSeq)
    val media = Seq((4L, "video/webm", mkv)).toDF("asset_id", "mime", "payload")
    val r = Multimodal.decodeMeta(media).head()
    assert(r.getAs[Int]("width") === 1280 && r.getAs[Int]("height") === 720)
    assert(r.getAs[Int]("n_frames") === 48)
    // zero-frame file: metadata still real, no blocks counted
    assert(MediaContainers.decodeMkv(
      MediaContainers.synthMkv(16, 16, 0, 0.0)) === ((16, 16, 0, 0.0)))
    intercept[IllegalArgumentException](MediaContainers.decodeMkv(mkv.take(25)))
  }

  test("approx_count_distinct (HLL parity) stays within 10% of exact") {
    val df = spark.range(0, 20000).select((col("id") % 1337).as("v"))
    val approx = df.agg(approx_count_distinct("v")).head().getLong(0)
    assert(math.abs(approx - 1337.0) / 1337.0 < 0.10, s"approx=$approx")
  }

  test("relational: uniqueBy keeps first by order, topPerGroup bounded") {
    val df = Seq((1, "a", 10), (1, "b", 5), (2, "c", 7)).toDF("k", "v", "x")
    val u = Relational.uniqueBy(df, Seq("k"), Seq(desc("x")))
      .select("k", "v").as[(Int, String)].collect().toSet
    assert(u === Set((1, "a"), (2, "c")))
    val t = Relational.topPerGroup(df, Seq("k"), Seq(asc("x")), 1)
      .select("k", "v").as[(Int, String)].collect().toSet
    assert(t === Set((1, "b"), (2, "c")))
  }

  test("significantTerms: overrepresented fg term scores > 1") {
    val tok = TextOps.tokenTable(docs, "doc_id", "text")
    val fg = TextOps.tokenTable(docs.filter($"doc_id" === 2), "doc_id", "text")
    val st = Relational.significantTerms(fg, tok, "tok")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(st("spark") > 1.0)
  }

  test("highlight: first-match window, <em> marks, clamped starts, non-matches dropped") {
    val docs = Seq(
      (0L, "alpha beta spark gamma delta epsilon zeta"),
      (1L, "no match here at all"),
      (2L, "query at start of doc plus more words"),
      (3L, "tail words lead up to spark"),
      (4L, "both spark and query here")).toDF("id", "text")
    val got = TextOps.highlight(docs, "id", "text", Seq("spark", "query"), 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(!got.contains(1L))
    assert(got(0L) === ((3L, "alpha beta <em>spark</em> gamma delta")))
    assert(got(2L) === ((1L, "<em>query</em> at start of doc")))
    assert(got(3L) === ((6L, "up to <em>spark</em>")))
    // window anchors on the FIRST match but marks every query term inside
    assert(got(4L) === ((2L, "both <em>spark</em> and <em>query</em> here")))
  }

  test("languageId votes by marker hits with deterministic ties") {
    val d = Seq((0L, "the cat and the dog"), (1L, "el perro de la casa"), (2L, "xyz")).toDF("doc_id", "text")
    val markers = Seq("en" -> Seq("the", "and"), "es" -> Seq("el", "de", "la"))
    val out = TextOps.languageId(d, "doc_id", "text", markers)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out(0L) === "en")
    assert(out(1L) === "es")
    assert(out(2L) === "und")
  }
}

class DateMathSpec extends org.scalatest.funsuite.AnyFunSuite with graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("NOW-7DAYS/DAY, NOW/HOUR+30MINUTES, left-to-right application") {
    val df = Seq(java.sql.Timestamp.valueOf("2024-03-15 13:47:21")).toDF("ts")
    def eval(e: String): String =
      df.select(DateMath.parse(e, col("ts")).cast("string")).head().getString(0)
    assert(eval("NOW") === "2024-03-15 13:47:21")
    assert(eval("NOW/DAY") === "2024-03-15 00:00:00")
    assert(eval("NOW-7DAYS/DAY") === "2024-03-08 00:00:00")
    assert(eval("NOW/HOUR+30MINUTES") === "2024-03-15 13:30:00")
    assert(eval("NOW+1MONTH/MONTH") === "2024-04-01 00:00:00")
    assert(eval("NOW/DAY-1SECOND") === "2024-03-14 23:59:59")
    intercept[IllegalArgumentException](DateMath.parse("NOW-7FORTNIGHTS", col("ts")))
    intercept[IllegalArgumentException](DateMath.parse("YESTERDAY", col("ts")))
    intercept[IllegalArgumentException](DateMath.parse("NOW-7DAYSgarbage", col("ts")))
  }

  test("facetTaxonomy: every prefix counted once per row, 3 levels deep; drillDown children") {
    import spark.implicits._
    val paths = Seq("a/x/1", "a/x/2", "a/x/1", "a/y/1", "b/x/1", "b", "a/y/2")
    val df = paths.toDF("path")
    val got = Relational.facetTaxonomy(df, "path").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val want = paths.flatMap { p =>
      val parts = p.split("/")
      (1 to parts.length).map(i => (parts.take(i).mkString("/"), i))
    }.groupBy(identity).map { case ((p, l), xs) => (p, l, xs.size.toLong) }.toSet
    assert(got === want)
    // anchors: 'a' rolls up all a/* rows; 'b' counts both the leaf-only 'b'
    // row and b/x/1
    assert(got.contains(("a", 1, 5L)) && got.contains(("b", 1, 2L)))
    assert(got.contains(("a/x", 2, 3L)) && got.contains(("a/x/1", 3, 2L)))
    // drill-down under a/x: children 1 (x2) and 2 (x1); under 'b': only x
    val dd = Relational.drillDown(df, "path", "a/x").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(dd === Seq(("1", 2L), ("2", 1L)))
    val db = Relational.drillDown(df, "path", "b").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(db === Seq(("x", 1L))) // the bare 'b' leaf has no child level
  }
}

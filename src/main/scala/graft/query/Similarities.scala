package graft.query

import graft.codec.SmallFloat

/**
 * Pluggable similarity surface — the reference's `search/similarities`
 * package (Similarity.scorer() → SimScorer.score(freq, norm)), which lets
 * one index serve BM25, classic TF-IDF, or language-model ranking without
 * re-indexing: norms encode the doc length the same way for all of them
 * (`SimilarityBase.java:177-189` shares BM25's `SmallFloat.intToByte4`
 * encoding, which is exactly what the index's `normByte` column stores).
 *
 * A [[SimScorer]] is the per-term scoring kernel: immutable, a few hundred
 * bytes, built once on the driver from broadcast stats and shipped inside
 * task closures (the Spark analogue of Lucene building a Weight up front).
 * The scoring kernel ([[Wand]]) consumes only `score(freq, normByte)`, both
 * to score hits and to bound a block from its competitive impacts.
 */
trait SimScorer extends Serializable {
  /** Score one (term, doc) hit from its term frequency and norm byte. */
  def score(freq: Float, normByte: Byte): Float

  /** True when the score is non-decreasing in freq and non-increasing in
    * the unsigned norm byte (over the bytes a doc length >= 1 encodes to).
    * Only then does the best score over a block's competitive impacts
    * (`PostingsCodec.competitiveImpacts`) bound every doc in the block, so
    * block-max skipping may use it. A similarity outside this contract
    * says so from its own parameters. */
  def impactBounded: Boolean = true
}

/** Factory for per-term scorers (reference Similarity.scorer()). */
trait Similarity extends Serializable {
  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer
}

/** BM25 (the default — exact Lucene BM25Similarity arithmetic, [[BM25]]). */
final case class Bm25Sim(k1: Float = BM25.DefaultK1,
                         b: Float = BM25.DefaultB) extends Similarity {
  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer =
    BM25.termScorer(boost, k1, b, docFreq, docCount, sumTotalTermFreq)
}

/**
 * ClassicSimilarity — Lucene's TF-IDF
 * (`ClassicSimilarity.java:39-63`, `TFIDFSimilarity.java:516-526,543-549`):
 *
 *   idf          = (float)(ln((docCount+1)/(docFreq+1)) + 1)
 *   queryWeight  = boost * idf                       // idf applied ONCE
 *   tf(freq)     = (float) sqrt(freq)
 *   normTable(i) = (float)(1/sqrt(byte4ToInt(i)))    // i in 1..255
 *   normTable(0) = 1 / normTable(255)                // reference quirk
 *   score        = tf(freq) * queryWeight * normTable(normByte)
 */
case object ClassicSim extends Similarity {
  private val NormTable: Array[Float] = {
    val t = new Array[Float](256)
    var i = 1
    while (i < 256) {
      t(i) = (1.0 / Math.sqrt(SmallFloat.byte4ToInt(i.toByte).toDouble)).toFloat
      i += 1
    }
    t(0) = 1f / t(255)
    t
  }

  private final case class Scorer(queryWeight: Float) extends SimScorer {
    def score(freq: Float, normByte: Byte): Float = {
      val raw = Math.sqrt(freq.toDouble).toFloat * queryWeight
      raw * NormTable(normByte & 0xFF)
    }
  }

  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer = {
    val idf = (Math.log((docCount + 1) / (docFreq + 1).toDouble) + 1.0).toFloat
    Scorer(boost * idf)
  }
}

/** BooleanSimilarity (`BooleanSimilarity.java`): score = boost for every
  * match — tf, norms, and collection stats are all ignored (the "filter
  * scoring" model; Lucene's ConstantScoreQuery cousin at the similarity
  * level). */
case object BooleanSim extends Similarity {
  private final case class Scorer(boost: Float) extends SimScorer {
    def score(freq: Float, normByte: Byte): Float = boost
  }
  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer = Scorer(boost)
}

/**
 * LMDirichletSimilarity — Bayesian-smoothed language model
 * (`LMDirichletSimilarity.java:73-78`, collection model
 * `LMSimilarity.java:148-156`, norm decode `SimilarityBase.java:177-229`):
 *
 *   p(w|C)  = (totalTermFreq + 1) / (sumTotalTermFreq + 1)      // double
 *   score   = boost * (ln(1 + freq/(mu*p)) + ln(mu/(dl + mu)))  // double
 *   clipped at 0 BEFORE the float cast; dl = byte4ToInt(normByte)
 */
final case class LMDirichletSim(mu: Float = 2000f) extends Similarity {
  private final case class Scorer(boost: Float, collProb: Double, mu0: Float)
      extends SimScorer {
    def score(freq: Float, normByte: Byte): Float = {
      val dl = SmallFloat.byte4ToInt(normByte).toDouble
      val s = boost * (Math.log(1 + freq / (mu0 * collProb)) +
        Math.log(mu0 / (dl + mu0)))
      (if (s > 0.0d) s else 0.0d).toFloat
    }
  }

  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer =
    Scorer(boost, (totalTermFreq + 1d) / (sumTotalTermFreq + 1d), mu)
}

/**
 * DFRSimilarity with the I(n)·L·H2 combination — the classic "InL2"
 * divergence-from-randomness model (`DFRSimilarity.java:110-114`,
 * `BasicModelIn.java:33-43`, `AfterEffectL.java:32-34`,
 * `NormalizationH2.java:58-60`):
 *
 *   tfn   = freq · log2(1 + c·avgdl/dl)            // H2, c default 1
 *   A     = log2((N+1)/(df+0.5))                   // I(n)
 *   score = boost · A · 1.0 · (1 − 1/(1+tfn))      // L: aeTimes1pTfn = 1
 *
 * avgdl = sumTotalTermFreq/docCount in double (`SimilarityBase.java:112`);
 * dl decodes from the shared norm byte like every SimilarityBase model.
 */
final case class DfrInL2Sim(c: Float = 1f) extends Similarity {
  require(c > 0f, s"H2 normalization needs c > 0, got $c")
  private val Log2 = Math.log(2)

  private final case class Scorer(boost: Float, a: Double, avgdl: Double, c0: Float)
      extends SimScorer {
    def score(freq: Float, normByte: Byte): Float = {
      val dl = SmallFloat.byte4ToInt(normByte).toDouble
      val tfn = freq * (Math.log(1 + c0 * avgdl / dl) / Math.log(2))
      (boost * (a * (1 - 1 / (1 + tfn)))).toFloat
    }
  }

  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer = {
    val a = Math.log((docCount + 1) / (docFreq + 0.5)) / Log2
    Scorer(boost, a, sumTotalTermFreq / docCount.toDouble, c)
  }
}

/**
 * DFISimilarity — divergence from independence (`DFISimilarity.java:44-66`):
 *
 *   expected = (totalTermFreq + 1) · dl / (sumTotalTermFreq + 1)
 *   freq <= expected  →  0
 *   score = boost · log2(independence(freq, expected) + 1)
 *
 * with the three reference independence measures
 * (`IndependenceStandardized.java:37`, `IndependenceSaturated.java:35`,
 * `IndependenceChiSquared.java:36`). Parameter-free; the reference javadoc
 * recommends keeping stopwords indexed for this model.
 */
final case class DfiSim(measure: DfiSim.Measure = DfiSim.Standardized)
    extends Similarity {
  private final case class Scorer(boost: Float, ttf1: Double, sumTtf1: Double,
                                  m: DfiSim.Measure) extends SimScorer {
    def score(freq: Float, normByte: Byte): Float = {
      val dl = SmallFloat.byte4ToInt(normByte).toDouble
      val expected = ttf1 * dl / sumTtf1
      if (freq <= expected) 0f
      else (boost * (Math.log(m(freq, expected) + 1) / Math.log(2))).toFloat
    }
  }

  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer =
    Scorer(boost, totalTermFreq + 1d, sumTotalTermFreq + 1d, measure)
}

object DfiSim {
  sealed trait Measure extends Serializable {
    def apply(freq: Double, expected: Double): Double
  }
  /** (f−e)/sqrt(e) — the chi-square statistic's standardized distance. */
  case object Standardized extends Measure {
    def apply(f: Double, e: Double): Double = (f - e) / Math.sqrt(e)
  }
  /** (f−e)/e. */
  case object Saturated extends Measure {
    def apply(f: Double, e: Double): Double = (f - e) / e
  }
  /** (f−e)²/e. */
  case object ChiSquared extends Measure {
    def apply(f: Double, e: Double): Double = (f - e) * (f - e) / e
  }
}

/**
 * IBSimilarity — information-based model, distribution ∘ lambda ∘
 * normalization (`IBSimilarity.java:72-79`):
 *
 *   tfn    = H1: freq·c·avgdl/dl   |  H2: freq·log2(1 + c·avgdl/dl)
 *   lambda = DF: (df+1)/(N+1)      |  TTF: (ttf+1)/(N+1)   // float, nudged off 1
 *   LL:  score = boost · −ln(λ/(tfn+λ))
 *   SPL: score = boost · −ln((λ^(1−1/(tfn+1)) − λ)/(1−λ))  // rounding-guarded
 *
 * (`DistributionLL.java:30-32`, `DistributionSPL.java:33-57`,
 * `LambdaDF.java:31-39`, `LambdaTTF.java:30-38`, `NormalizationH1.java:45-47`,
 * `NormalizationH2.java:58-60`.)
 */
final case class IBSim(distribution: IBSim.Distribution = IBSim.SPL,
                       lambdaFrom: IBSim.Lambda = IBSim.LambdaDF,
                       normalization: IBSim.Norm = IBSim.H2,
                       c: Float = 1f) extends Similarity {
  private final case class Scorer(boost: Float, lam: Float, avgdl: Double,
                                  dist: IBSim.Distribution, norm: IBSim.Norm,
                                  c0: Float) extends SimScorer {
    def score(freq: Float, normByte: Byte): Float = {
      val dl = SmallFloat.byte4ToInt(normByte).toDouble
      val tfn = norm(freq, dl, avgdl, c0)
      (boost * dist(tfn, lam)).toFloat
    }
  }

  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer = {
    var lam = lambdaFrom match {
      case IBSim.LambdaDF  => ((docFreq + 1.0) / (docCount + 1.0)).toFloat
      case IBSim.LambdaTTF => ((totalTermFreq + 1.0) / (docCount + 1.0)).toFloat
    }
    // SPL cannot take λ = 1 (reference nudges via nextDown/nextUp)
    if (lam == 1f) lam = Math.nextDown(lam)
    Scorer(boost, lam, sumTotalTermFreq / docCount.toDouble,
      distribution, normalization, c)
  }
}

object IBSim {
  sealed trait Distribution extends Serializable {
    def apply(tfn: Double, lambda: Float): Double
  }
  /** Log-logistic: −ln(λ/(tfn+λ)). */
  case object LL extends Distribution {
    def apply(tfn: Double, lambda: Float): Double =
      -Math.log(lambda / (tfn + lambda))
  }
  /** Smoothed power-law, with the reference's two rounding guards. */
  case object SPL extends Distribution {
    def apply(tfn: Double, lambda: Float): Double = {
      var q = 1 - 1 / (tfn + 1)
      if (q == 1) q = Math.nextDown(1.0)
      var pow = Math.pow(lambda, q)
      if (pow == lambda)
        pow = if (lambda < 1) Math.nextUp(lambda.toDouble)
              else Math.nextDown(lambda.toDouble)
      -Math.log((pow - lambda) / (1 - lambda))
    }
  }
  sealed trait Lambda extends Serializable
  case object LambdaDF extends Lambda
  case object LambdaTTF extends Lambda
  sealed trait Norm extends Serializable {
    def apply(freq: Double, dl: Double, avgdl: Double, c: Float): Double
  }
  case object H1 extends Norm {
    def apply(freq: Double, dl: Double, avgdl: Double, c: Float): Double =
      freq * c * (avgdl / dl)
  }
  case object H2 extends Norm {
    def apply(freq: Double, dl: Double, avgdl: Double, c: Float): Double =
      freq * (Math.log(1 + c * avgdl / dl) / Math.log(2))
  }
}

/**
 * AxiomaticF2EXP (`AxiomaticF2EXP.java:61-87`, combination + clip
 * `Axiomatic.java:104-114`):
 *
 *   tfln  = freq / (freq + s + s·dl/avgdl)
 *   idf   = ((N+1)/df)^k
 *   score = max(0, boost · tfln · idf)        // tf = ln = 1, gamma = 0
 *
 * defaults s = 0.25, k = 0.35 (`Axiomatic.java:99-101`).
 */
final case class AxiomaticF2ExpSim(s: Float = 0.25f, k: Float = 0.35f)
    extends Similarity {
  require(s >= 0f && s <= 1f, s"s must be in [0,1], got $s")
  require(k >= 0f && k <= 1f, s"k must be in [0,1], got $k")

  private final case class Scorer(boost: Float, idf: Double, avgdl: Double,
                                  s0: Float) extends SimScorer {
    def score(freq: Float, normByte: Byte): Float = {
      val dl = SmallFloat.byte4ToInt(normByte).toDouble
      val tfln = freq / (freq + s0 + s0 * dl / avgdl)
      val sc = tfln * idf * boost
      (if (sc > 0) sc else 0.0).toFloat
    }
  }

  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer =
    Scorer(boost, Math.pow((docCount + 1.0) / docFreq, k),
      sumTotalTermFreq / docCount.toDouble, s)
}

/**
 * MultiSimilarity (`MultiSimilarity.java:28-67`): the per-hit score is the
 * SUM of the sub-similarities' scores (ensemble ranking).
 */
final case class MultiSim(sims: Seq[Similarity]) extends Similarity {
  require(sims.nonEmpty, "MultiSim needs at least one member")
  private final case class Scorer(subs: Seq[SimScorer]) extends SimScorer {
    def score(freq: Float, normByte: Byte): Float = {
      var sum = 0.0f
      subs.foreach(s => sum += s.score(freq, normByte))
      sum
    }
    override def impactBounded: Boolean = subs.forall(_.impactBounded)
  }

  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer =
    Scorer(sims.map(_.scorer(boost, docFreq, totalTermFreq, docCount, sumTotalTermFreq)))
}

/**
 * LMJelinekMercerSimilarity — linear-interpolation smoothing
 * (`LMJelinekMercerSimilarity.java:63-68`; same collection model and norm
 * decode as Dirichlet):
 *
 *   score = boost * ln(1 + ((1-λ)·freq/dl) / (λ·p(w|C)))    // double
 *
 * always positive (no clip needed); λ≈0.1 suits short queries, ≈0.7 long
 * ones (the reference javadoc's guidance).
 */
final case class LMJelinekMercerSim(lambda: Float = 0.1f) extends Similarity {
  require(lambda > 0f && lambda <= 1f, s"lambda must be in (0,1], got $lambda")
  private final case class Scorer(boost: Float, collProb: Double, l: Float)
      extends SimScorer {
    def score(freq: Float, normByte: Byte): Float = {
      val dl = SmallFloat.byte4ToInt(normByte).toDouble
      (boost * Math.log(1 + ((1 - l) * freq / dl) / (l * collProb))).toFloat
    }
  }

  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer =
    Scorer(boost, (totalTermFreq + 1d) / (sumTotalTermFreq + 1d), lambda)
}

/**
 * SweetSpotSimilarity — TF-IDF with a "sweet spot" plateau
 * (`lucene/misc/src/java/org/apache/lucene/misc/SweetSpotSimilarity.java:
 * 117-133` lengthNorm, `:158-165` baselineTf, `:180-204` hyperbolicTf;
 * scoring skeleton `TFIDFSimilarity.java:515-552`):
 *
 *   lengthNorm(x) = 1/sqrt(steepness*(|x-min| + |x-max| - (max-min)) + 1)
 *                   — flat 1.0 inside [min,max], sloping off outside
 *   baselineTf(f) = 0 if f==0; base if f<=tfMin; sqrt(f + base² - tfMin)
 *   hyperbolicTf(f) = min + (max-min)/2 * (tanh-shaped in base^(f-xoffset))
 *   score = tf(freq) * (boost * idf) * normTable(normByte)
 *
 * idf and the norm-table skeleton (incl. the normTable(0)=1/normTable(255)
 * quirk) are ClassicSimilarity's.
 */
final case class SweetSpotSim(lnMin: Int = 1, lnMax: Int = 1,
                              steepness: Float = 0.5f,
                              tfBase: Float = 0f, tfMin: Float = 0f,
                              hyperbolic: Boolean = false,
                              hyperMin: Float = 0f, hyperMax: Float = 2f,
                              hyperBase: Double = 1.3,
                              hyperXoffset: Float = 10f) extends Similarity {

  private[query] def lengthNorm(numTerms: Int): Float =
    (1.0f / Math.sqrt(
      (steepness *
        (Math.abs(numTerms - lnMin) + Math.abs(numTerms - lnMax) - (lnMax - lnMin)).toFloat
        ) + 1.0f)).toFloat

  private[query] def tf(freq: Float): Float =
    if (hyperbolic) hyperbolicTf(freq)
    else if (freq == 0.0f) 0.0f
    else if (freq <= tfMin) tfBase
    else Math.sqrt((freq + tfBase * tfBase - tfMin).toDouble).toFloat

  private[query] def hyperbolicTf(freq: Float): Float = {
    if (freq == 0.0f) return 0.0f
    val x = (freq - hyperXoffset).toDouble
    val result = hyperMin +
      ((hyperMax - hyperMin) / 2.0f *
        (((Math.pow(hyperBase, x) - Math.pow(hyperBase, -x)) /
          (Math.pow(hyperBase, x) + Math.pow(hyperBase, -x))) + 1.0d)).toFloat
    if (java.lang.Float.isNaN(result)) hyperMax else result
  }

  private lazy val normTable: Array[Float] = {
    val t = new Array[Float](256)
    var i = 1
    while (i < 256) {
      t(i) = lengthNorm(SmallFloat.byte4ToInt(i.toByte))
      i += 1
    }
    t(0) = 1f / t(255)
    t
  }

  /** [[SimScorer.impactBounded]]: lengthNorm RISES with doc length below
    * min(lnMin, lnMax) when steepness > 0 (and everywhere above the plateau
    * when steepness < 0), so a plateau starting past length 1 scores
    * shorter docs lower; hyperbolic tf falls with freq when its range and
    * base point opposite ways. */
  val impactBounded: Boolean =
    (steepness == 0f || (steepness > 0f && math.min(lnMin, lnMax) <= 1)) &&
      (!hyperbolic || (hyperMax - hyperMin) * (hyperBase - 1) >= 0)

  private final case class Scorer(queryWeight: Float, self: SweetSpotSim)
      extends SimScorer {
    def score(freq: Float, normByte: Byte): Float =
      self.tf(freq) * queryWeight * self.normTable(normByte & 0xFF)
    override def impactBounded: Boolean = self.impactBounded
  }

  def scorer(boost: Float, docFreq: Long, totalTermFreq: Long,
             docCount: Long, sumTotalTermFreq: Long): SimScorer = {
    val idf = (Math.log((docCount + 1) / (docFreq + 1).toDouble) + 1.0).toFloat
    Scorer(boost * idf, this)
  }
}

/**
 * FeatureField (reference lucene/core/src/java/org/apache/lucene/document/
 * FeatureField.java): static per-doc ranking features (pagerank, recency,
 * url length) stored as a quantized integer "term frequency" and scored at
 * query time by one of three monotone functions, combined additively with
 * the text score as a SHOULD clause. The quantization (:156 `freqBits >>> 15`
 * / :202-211 `tf << 15`) keeps the top 9 mantissa bits — bit-exact here.
 *
 * In this engine the quantized value lives in the doc-values tier (the
 * column store IS the per-doc storage the reference emulates via postings);
 * the arithmetic is the reference's, and [[graft.index.IndexStore.OpenIndex
 * .topKWithFeature]] ranks over the full match set so a static boost can
 * promote docs from outside any text-only top-k.
 */
object FeatureFields {
  /** FeatureField.java:200 */
  val MaxFreq: Int = java.lang.Float.floatToIntBits(Float.MaxValue) >>> 15

  /** FeatureField.java:134-145,156: value must be a positive finite normal
    * float; stored freq = floatToIntBits(v) >>> 15. */
  def encodeFeatureValue(v: Float): Int = {
    require(java.lang.Float.isFinite(v) && v >= java.lang.Float.MIN_NORMAL,
      s"featureValue must be a positive normal finite float, got $v")
    java.lang.Float.floatToIntBits(v) >>> 15
  }

  /** FeatureField.java:202-211 (lossless int tf, reassemble exponent+top
    * mantissa): decode never exceeds the original value. */
  def decodeFeatureValue(freq: Float): Float =
    if (freq > MaxFreq) Float.MaxValue
    else java.lang.Float.intBitsToFloat(freq.toInt << 15)
}

/** One of FeatureField's query-time scoring functions (FeatureFunction):
  * maps the DECODED feature value to a score contribution. */
trait FeatureFunction extends Serializable {
  def score(featureValue: Float): Float
}

/** FeatureField.newSaturationQuery (:47-59 of the scorer):
  * weight * (1 − pivot/(f + pivot)) — the rewrite of f/(f+pivot) that
  * cannot decrease with f in spite of rounding. */
final case class SaturationFunction(weight: Float, pivot: Float) extends FeatureFunction {
  require(pivot > 0 && weight >= 0)
  def score(f: Float): Float = weight * (1 - pivot / (f + pivot))
}

/** FeatureField.newLogQuery (:251-252):
  * (float)(weight * ln(scalingFactor + f)), double math cast once. */
final case class LogFunction(weight: Float, scalingFactor: Float) extends FeatureFunction {
  require(scalingFactor >= 1 && weight >= 0)
  def score(f: Float): Float =
    (weight * Math.log(scalingFactor + f)).toFloat
}

/** FeatureField.newSigmoidQuery (:108-116):
  * (float)(weight * (1 − pivot^a/(f^a + pivot^a))). */
final case class SigmoidFunction(weight: Float, pivot: Float, a: Float) extends FeatureFunction {
  require(pivot > 0 && a > 0 && weight >= 0)
  private val pivotPa: Double = Math.pow(pivot, a)
  def score(f: Float): Float =
    (weight * (1 - pivotPa / (Math.pow(f, a) + pivotPa))).toFloat
}

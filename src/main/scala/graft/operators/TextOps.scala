package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.query.QueryEngine
import scala.jdk.CollectionConverters._

/**
 * Text analysis + fulltext scoring over a documents table, expressed with
 * Spark built-in functions only (whole-stage-codegen friendly — no UDFs in
 * any hot path). Tokenization here is the documented "SQL-expressible" regex
 * analyzer (`[a-z0-9]+` runs over the lowercased text); the rank-identical
 * Lucene analysis chain lives in [[graft.analysis.Analyzer]] and is used by
 * the index/query engine — this module is the declarative surface used for
 * oracle-checked query parity and large-scale text pipelines.
 *
 * Reference capabilities covered (SURVEY.md §2):
 *  - BM25 scoring path (search/similarities/BM25Similarity.java:37) as a
 *    pure DataFrame pipeline: tokenize → tf → dl → df → idf → score.
 *  - TermQuery / BooleanQuery AND-OR-NOT / minShouldMatch / DisjunctionMax
 *    (search/TermQuery.java:43, Boolean2ScorerSupplier.java,
 *    MinShouldMatchSumScorer.java, DisjunctionMaxQuery.java:45).
 *  - Prefix/regexp/fuzzy/term-set expansion (search/PrefixQuery.java:31,
 *    RegexpQuery.java:48, FuzzyQuery.java:54, TermInSetQuery.java:67).
 *  - IVrixDB search-time field extraction (FieldExtractionStream.java:37) =
 *    schema-on-read projection with regexp/json extraction.
 */
object TextOps {

  /** Token pattern shared with the DuckDB oracles: maximal [a-z0-9]+ runs. */
  val TokenPattern = "[a-z0-9]+"

  /** Tokens of a text column as an array (lowercased). */
  def tokensOf(textCol: String): Column =
    regexp_extract_all(lower(col(textCol)), lit(TokenPattern), lit(0))

  /** Exploded token table: (idCol, tok), one row per token occurrence.
    * The narrow flatMap stage of the index pipeline — no shuffle. */
  def tokenTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(tokensOf(textCol)).as("tok"))

  /** Token table with positions (posexplode) for phrase matching. */
  def tokenPosTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), posexplode(tokensOf(textCol)).as(Seq("pos", "tok")))

  private val TokenRe = java.util.regex.Pattern.compile(TokenPattern)

  /** Distinct tokens of one lowercased text with their occurrence counts. */
  private def countTokens(text: String): java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int]()
    val it = TokenRe.matcher(text)
    while (it.find()) m.merge(it.group(), 1, Integer.sum)
    m
  }

  /** Per-doc term frequencies: (id, tok, tf). ONE narrow typed pass — the
    * tf aggregation happens in a per-doc local map, so token occurrences
    * never enter a shuffle (the declarative explode→groupBy(id,tok) form
    * shuffled every token row; tf counts are per-doc quantities, and a doc
    * lives in one task). Output identical (same tokenization regex, tf as
    * LONG, ids cast long — every caller's id columns are int64). */
  def termFreqs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), lower(coalesce(col(textCol), lit(""))))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        countTokens(text).asScala.iterator.map { case (t, c) => (id, t, c.toLong) }
      }
      .toDF(idCol, "tok", "tf")
  }

  // ---------------------------------------------------------------------
  // Declarative scoring: one stats frame, one term formula per model. The
  // double-precision twin of the engine's float scorers (graft.query); the
  // DuckDB oracle SQL hashes exactly these doubles, rounded to 5.
  // ---------------------------------------------------------------------

  /** [[termFreqs]] plus lengths, in the same typed pass: (id, tok, tf, dl)
    * per distinct token of a doc, and ONE length row per doc with a null
    * tok and tf 0. So dl, the doc count and the total length need no
    * per-doc groupBy and no join back on the id. A token-less doc keeps its
    * length row (dl 0): the doc count is Lucene's docCount over ALL docs. */
  private def tokenRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), lower(coalesce(col(textCol), lit(""))))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val counts = countTokens(text).asScala
        val dl = counts.valuesIterator.map(_.toLong).sum
        Iterator.single((id, null: String, 0L, dl)) ++
          counts.iterator.map { case (t, c) => (id, t, c.toLong, dl) }
      }
      .toDF(idCol, "tok", "tf", "dl")
  }

  /** The stats frame of one declarative query over one text column —
    * Lucene's TermStatistics and CollectionStatistics as DataFrames:
    *  - `rows`: (id, tok, tf, dl) of the tokens the predicate selects;
    *  - `dfs`: (tok, df, ttf) of those tokens;
    *  - `stats`: ONE row (n, sumTtf, avgdl); n counts every doc, token-less
    *    ones included, and avgdl = sumTtf/n, as BM25Similarity has it;
    *  - `lengths`: (id, dl) of every doc. */
  private[operators] final case class TermRows(idCol: String, rows: DataFrame,
                                               dfs: DataFrame, stats: DataFrame,
                                               lengths: DataFrame) {
    /** (id, tok, tf, dl, df, ttf, n, sumTtf, avgdl): the columns a [[Model]]
      * scores. dfs and stats are BROADCAST — right for a query's terms. */
    def terms: DataFrame = rows.join(broadcast(dfs), "tok").crossJoin(broadcast(stats))

    /** [[terms]] for a vocabulary-wide predicate: its dfs frame is as large
      * as the vocabulary, so the join is left to the planner. */
    def vocabulary: DataFrame = rows.join(dfs, "tok").crossJoin(broadcast(stats))

    /** (id, tok, s): every term row scored by `model`. */
    def scored(model: Model): DataFrame =
      terms.select(col(idCol), col("tok"), model.score(col("dl")).as("s"))

    /** `frame` with ONE df for every term, the max of their dfs (the
      * SynonymQuery / BlendedTermQuery pseudo-term stats), and the stats. */
    def withMaxDf(frame: DataFrame): DataFrame =
      frame.crossJoin(broadcast(dfs.agg(max("df").as("df")))).crossJoin(broadcast(stats))
  }

  /** [[TermRows]] of the tokens of `textCol` that `tokPred` selects (a
    * Column over `tok`; `lit(true)` selects the whole vocabulary). */
  private[operators] def termRows(docs: DataFrame, idCol: String, textCol: String,
                                  tokPred: Column): TermRows = {
    val all = tokenRows(docs, idCol, textCol)
    val isLength = col("tok").isNull
    val rows = all.filter(!isLength && tokPred)
    TermRows(idCol, rows,
      dfs = rows.groupBy("tok").agg(count("*").as("df"), sum("tf").as("ttf")),
      stats = all.agg(count(when(isLength, 1)).as("n"), sum("tf").as("sumTtf"))
        .withColumn("avgdl", col("sumTtf") / col("n")),
      lengths = all.filter(isLength).select(col(idCol), col("dl")))
  }

  /** A similarity model: its per-(doc, term) score over the columns of
    * [[TermRows.terms]], with the doc length passed in (`dl`, or the
    * norm-quantized `qdl` of the engine twins). One definition per model,
    * in the oracle SQL's operand order, so every double is bit-identical to
    * the one the oracle hashes. The parameters are the oracle SQL's
    * literals: k1 = 1.2, b = 0.75, mu = 2000, s0 = 0.25, k = 0.35. */
  private[operators] sealed trait Model { def score(dl: Column): Column }

  private[operators] val K1 = 1.2
  private val B = 0.75

  /** BM25's idf (BM25Similarity.java:37): ln(1 + (N − df + 0.5)/(df + 0.5)). */
  private[operators] def bm25Idf(n: Column, df: Column): Column =
    log(lit(1.0) + (n - df + 0.5) / (df + 0.5))

  /** BM25 term weight: idf · tf/(tf + k1·(1 − b + b·dl/avgdl)). A boost
    * rides in `idf`, multiplied in first (BlendedTermQuery, edismax pf2). */
  private[operators] def bm25(idf: Column, tf: Column, dl: Column, avgdl: Column): Column =
    idf * tf / (tf + lit(K1) * (lit(1.0) - B + lit(B) * dl / avgdl))

  /** BM25Similarity (search/similarities/BM25Similarity.java:37). */
  private[operators] case object Bm25 extends Model {
    def score(dl: Column): Column = bm25(bm25Idf(col("n"), col("df")), col("tf"), dl, col("avgdl"))
  }

  /** ClassicSimilarity (search/similarities/ClassicSimilarity.java:39-63 /
    * TFIDFSimilarity.java:543-549): sqrt(tf) · idf · (1/sqrt(dl)) with
    * idf = 1 + ln((docCount+1)/(df+1)) — idf applied ONCE (TFIDFScorer.score
    * = tf(freq) · queryWeight · normValue, queryWeight = boost · idf; the
    * idf² of pre-7 Lucene died with queryNorm). */
  private case object ClassicTfIdf extends Model {
    def score(dl: Column): Column =
      sqrt(col("tf")) * (lit(1.0) + log((col("n") + 1.0) / (col("df") + 1.0))) / sqrt(dl)
  }

  private val Mu = 2000.0

  /** LMDirichletSimilarity (search/similarities/LMDirichletSimilarity.java:
    * 73-78; collection model LMSimilarity.java:148-156):
    *   p(w|C) = (ttf+1)/(sumTtf+1)
    *   s      = max(0, ln(1 + tf/(mu·p)) + ln(mu/(dl+mu)))
    * (the norm-quantized engine version is `LMDirichletSim`). */
  private case object LMDirichlet extends Model {
    def score(dl: Column): Column = {
      val p = (col("ttf") + 1.0) / (col("sumTtf") + 1.0)
      greatest(lit(0.0), log(lit(1.0) + col("tf") / (lit(Mu) * p)) + log(lit(Mu) / (dl + Mu)))
    }
  }

  /** DFISimilarity, standardized measure (search/similarities/
    * DFISimilarity.java:55-66, IndependenceStandardized.java:37):
    *   expected = (ttf+1)·dl/(sumTtf+1)
    *   s        = tf <= expected ? 0 : log2((tf−expected)/√expected + 1)
    * (the norm-quantized engine version is `DfiSim`). */
  private case object Dfi extends Model {
    def score(dl: Column): Column = {
      val expected = (col("ttf") + 1.0) * dl / (col("sumTtf") + 1.0)
      when(col("tf") <= expected, 0.0)
        .otherwise(log2((col("tf") - expected) / sqrt(expected) + 1.0))
    }
  }

  private val S0 = 0.25
  private val AxK = 0.35

  /** AxiomaticF2EXP (search/similarities/AxiomaticF2EXP.java:61-87,
    * Axiomatic.java:104-114):
    *   s = tf/(tf + s0 + s0·dl/avgdl) · ((N+1)/df)^k
    * (tf = ln = 1, gamma = 0 in the F2EXP lens; the clip at zero never
    * fires for positive components; the norm-quantized engine version is
    * `AxiomaticF2ExpSim`). */
  private case object AxiomaticF2Exp extends Model {
    def score(dl: Column): Column =
      col("tf") / (col("tf") + S0 + lit(S0) * dl / col("avgdl")) *
        pow((col("n") + 1.0) / col("df"), AxK)
  }

  /** The sum combine: per doc, raw = Σ s over its scored term rows and
    * nm = how many of them `counted` selects (all by default) — the AND
    * count, the required-set count or a per-doc min-match count. */
  private def summed(scored: DataFrame, idCol: String, counted: Column = lit(true)): DataFrame =
    scored.groupBy(idCol).agg(sum("s").as("raw"), count(when(counted, 1)).as("nm"))

  /** The DisjunctionMax combine (DisjunctionMaxScorer.java:58-70):
    * max + tie·(Σ − max) of an aggregated score column. */
  private def dismax(s: Column, tie: Double): Column = max(s) + lit(tie) * (sum(s) - max(s))

  /** The output score: rounded to 5 decimals, as the oracle SQL rounds. */
  private def score5(c: Column): Column = round(c, 5).as("score")

  /** Every doc matching a term query, scored by `model` and summed: OR
    * (any term) or AND (every distinct term), minus the docs that contain
    * a `mustNot` term. Returns (idCol, score).
    *
    * Plan shape at scale: the tokenizer pass is narrow; only query-term rows
    * survive its filter; the per-term dfs and the one-row collection stats
    * are BROADCAST; one shuffle of partial sums into the per-doc combine. */
  private def scoreAll(model: Model, docs: DataFrame, idCol: String, textCol: String,
                       terms: Seq[String], mode: QueryEngine.Mode,
                       mustNot: Seq[String] = Nil): DataFrame = {
    val agg = summed(termRows(docs, idCol, textCol, col("tok").isin(terms: _*)).scored(model), idCol)
    val gated = mode match {
      case QueryEngine.And => agg.filter(col("nm") === terms.distinct.size)
      case QueryEngine.Or  => agg
    }
    val kept =
      if (mustNot.isEmpty) gated
      else gated.join(tokenRows(docs, idCol, textCol).filter(col("tok").isin(mustNot: _*))
        .select(idCol), Seq(idCol), "left_anti")
    kept.select(col(idCol), score5(col("raw")))
  }

  /** BM25 scores of every doc matching an OR/AND query, minus `mustNot`
    * docs, computed declaratively in double precision (the float-exact
    * Lucene arithmetic lives in graft.query.BM25):
    *   idf  = ln(1 + (N - df + 0.5)/(df + 0.5))
    *   score(d) = Σ_t idf_t * tf/(tf + k1*(1 - b + b*dl/avgdl)) */
  def bm25All(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
              mode: QueryEngine.Mode = QueryEngine.Or,
              mustNot: Seq[String] = Nil): DataFrame =
    scoreAll(Bm25, docs, idCol, textCol, terms, mode, mustNot)

  /** ClassicSimilarity (TF-IDF) scores of an OR/AND query ([[ClassicTfIdf]]). */
  def tfidfAll(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], mode: QueryEngine.Mode = QueryEngine.Or): DataFrame =
    scoreAll(ClassicTfIdf, docs, idCol, textCol, terms, mode)

  /** LMDirichletSimilarity scores of an OR query ([[LMDirichlet]], mu = 2000). */
  def lmDirichletAll(docs: DataFrame, idCol: String, textCol: String,
                     terms: Seq[String]): DataFrame =
    scoreAll(LMDirichlet, docs, idCol, textCol, terms, QueryEngine.Or)

  /** DFISimilarity scores of an OR query ([[Dfi]]). */
  def dfiAll(docs: DataFrame, idCol: String, textCol: String,
             terms: Seq[String]): DataFrame =
    scoreAll(Dfi, docs, idCol, textCol, terms, QueryEngine.Or)

  /** AxiomaticF2EXP scores of an OR query ([[AxiomaticF2Exp]], s0 = 0.25, k = 0.35). */
  def axiomaticAll(docs: DataFrame, idCol: String, textCol: String,
                   terms: Seq[String]): DataFrame =
    scoreAll(AxiomaticF2Exp, docs, idCol, textCol, terms, QueryEngine.Or)

  /** SmallFloat norm-quantization buckets `(lo, hi, qdl)` — one row per
    * norm byte, qdl = the bucket start the engine scores with after the
    * `byte4ToInt(intToByte4(dl))` round-trip (reference util/SmallFloat
    * .java int4 encoding). Derived from the SAME [[graft.codec.SmallFloat]]
    * the codec writes, so the declarative twin and the derived oracle SQL
    * can never drift from the engine's norm quantization. */
  def normQuantBuckets: Seq[(Long, Long, Long)] = {
    val starts = (0 until 256).map(i => graft.codec.SmallFloat.byte4ToInt(i.toByte).toLong)
    require(starts.sliding(2).forall(p => p(0) < p(1)),
      "norm bucket starts must be strictly ascending")
    starts.zipWithIndex.map { case (lo, i) =>
      (lo, if (i == starts.size - 1) Long.MaxValue else starts(i + 1) - 1, lo)
    }
  }

  /** `frame` with `qdl`: the norm-byte bucket start of its `dlCol`, the
    * doc length the engine scores with ([[normQuantBuckets]]). */
  private def quantized(frame: DataFrame, dlCol: String): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    frame.join(broadcast(normQuantBuckets.toDF("lo", "hi", "qdl")),
      col(dlCol) >= col("lo") && col(dlCol) <= col("hi"))
  }

  /** Declarative twin of the ENGINE's BM25 ranking: identical formula to
    * [[bm25All]] but the per-doc length in the denominator is the
    * SmallFloat-quantized `qdl` the engine actually scores with (norm byte
    * round-trip), while avgdl stays exact (sumTotalTermFreq/docCount, as
    * BM25Similarity computes it). Double arithmetic rounded to 5 — the
    * rank-identical float path is [[graft.query.QueryEngine.run]]; this
    * twin exists so the driver oracle can hash-check the engine's top-k
    * doc set AND its scores (to 5 decimals) against DuckDB. */
  def bm25QuantizedNorms(docs: DataFrame, idCol: String, textCol: String,
                         terms: Seq[String]): DataFrame = {
    val tr = termRows(docs, idCol, textCol, col("tok").isin(terms: _*))
    summed(quantized(tr.terms, "dl").select(col(idCol), Bm25.score(col("qdl")).as("s")), idCol)
      .select(col(idCol), score5(col("raw")))
  }

  /** BM25F combined-field scoring, declarative quantized twin of
    * [[graft.query.Bm25F.topK]] (reference lucene/sandbox BM25FQuery.java:
    * 279-311 + MultiNormsLeafSimScorer.java:55-133): all (field, term)
    * postings blend into ONE pseudo-term scored once per doc —
    *   freq  = Σ_f Σ_t w_f · tf(f,t,d)
    *   dl    = byte4 round-trip of round(Σ_f w_f · byte4dl(dl_f))  (re-encoded!)
    *   df    = max over (field, term) docFreq
    *   avgdl = (Σ_f w_f · sumTTF_f) / docCount                     (exact)
    * Double arithmetic rounded to 5; norm quantization applied at BOTH
    * levels through [[normQuantBuckets]] so the derived DuckDB oracle
    * cannot drift from the engine's norm bytes. Weights should be
    * integral (the reference requires ≥ 1) so the float/double rounding
    * paths agree exactly. */
  def bm25fQuantized(docs: DataFrame, idCol: String,
                     fields: Seq[(String, Double)], terms: Seq[String]): DataFrame = {
    val qs = terms.distinct
    val perField = fields.map { case (c, w) => w -> termRows(docs, idCol, c, col("tok").isin(qs: _*)) }
    // combined quantized dl: per-field byte4 bucket, weighted sum, round,
    // bucket AGAIN (the MultiFieldNormValues re-encode)
    val ndl = perField.map { case (w, tr) =>
      quantized(tr.lengths, "dl").select(col(idCol), (col("qdl") * w).as("wqdl"))
    }.reduce(_.unionByName(_))
      .groupBy(idCol).agg(round(sum("wqdl")).cast("long").as("ndl"))
    val cqdl = quantized(ndl, "ndl").select(col(idCol), col("qdl").cast("double").as("cqdl"))
    // pseudo stats: df = max over (field, term); avgdl over the weighted total length
    val dfMax = perField.map(_._2.dfs.select("df"))
      .reduce(_.unionByName(_)).agg(max("df").cast("double").as("df"))
    val weightedTtf = perField.map { case (w, tr) => tr.stats.select((col("sumTtf") * w).as("wttf")) }
      .reduce(_.unionByName(_)).agg(sum("wttf").as("sttf"))
    val stats = perField.head._2.stats.select(col("n").cast("double").as("n"))
      .crossJoin(weightedTtf).crossJoin(dfMax)
      .withColumn("avgdl", col("sttf") / col("n"))
    // blended frequency over matching (field, term) rows
    val freq = perField.map { case (w, tr) => tr.rows.select(col(idCol), (col("tf") * w).as("wtf")) }
      .reduce(_.unionByName(_))
      .groupBy(idCol).agg(sum("wtf").as("freq"))
    freq.join(cqdl, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        score5(bm25(bm25Idf(col("n"), col("df")), col("freq"), col("cqdl"), col("avgdl"))))
  }

  /** Docs matching every `required` term, scored by the BM25 sum of all
    * their matched query terms. */
  private def requiredSum(tr: TermRows, required: Seq[String]): DataFrame =
    summed(tr.scored(Bm25), tr.idCol, col("tok").isin(required: _*))
      .filter(col("nm") === required.distinct.size)
      .select(col(tr.idCol), score5(col("raw")))

  /** req-opt scoring (ReqOptSumScorer, Boolean2ScorerSupplier.java:107-114):
    * docs must match ALL `required` terms; `optional` terms add to the score
    * when present but never gate matching. */
  def bm25ReqOpt(docs: DataFrame, idCol: String, textCol: String,
                 required: Seq[String], optional: Seq[String]): DataFrame =
    requiredSum(
      termRows(docs, idCol, textCol, col("tok").isin((required ++ optional).distinct: _*)),
      required)

  /**
   * CommonTermsQuery (reference lucene/queries/src/java/org/apache/lucene/
   * queries/CommonTermsQuery.java): terms split by document frequency —
   * df > maxTermFrequency·docCount marks a HIGH-frequency (stop-like)
   * term. Low-frequency terms are REQUIRED, high-frequency terms only add
   * score — query-time stop-wording that keeps "the" from gating matches
   * while preserving its scoring contribution. No low-frequency terms →
   * plain OR (the reference's rewrite when the low-freq boolean is empty).
   * The df split is an O(#query-terms) driver-side stats lookup, like all
   * query planning; the engine twin is [[graft.query.Searcher.commonTerms]]
   * (termstats lookup, no corpus pass).
   */
  def commonTerms(docs: DataFrame, idCol: String, textCol: String,
                  terms: Seq[String], maxTermFrequency: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qs = terms.distinct
    val tr = termRows(docs, idCol, textCol, col("tok").isin(qs: _*))
    val high = tr.dfs.crossJoin(tr.stats)
      .filter(col("df") > lit(maxTermFrequency) * col("n"))
      .select("tok").as[String].collect().toSet
    requiredSum(tr, qs.filterNot(high))
  }

  /**
   * SynonymQuery scoring semantics (reference search/SynonymQuery.java:50-55,
   * 203-217): the terms are scored as if indexed as ONE pseudo-term — match
   * any of them, but invoke the similarity a single time on the SUMMED term
   * frequency, with merged stats df = max(df_i) (ttf summed, unused by
   * BM25). Returns (idCol, score) for matching docs, double arithmetic
   * rounded to 5 (oracle-parity path; the float-exact engine version is
   * QueryEngine.synonymTopK).
   */
  def synonymBm25(docs: DataFrame, idCol: String, textCol: String,
                  synonyms: Seq[String]): DataFrame = {
    val tr = termRows(docs, idCol, textCol, col("tok").isin(synonyms: _*))
    tr.withMaxDf(tr.rows.groupBy(idCol, "dl").agg(sum("tf").as("tf")))
      .select(col(idCol), score5(Bm25.score(col("dl"))))
  }

  /** DisjunctionMax over real per-term BM25 scores (reference
    * DisjunctionMaxScorer.java:58-70: max sub score + tieBreaker * sum of
    * the others). Double arithmetic rounded to 5; [[disjunctionMax]] keeps
    * the integer tf variant for exact-count pipelines. */
  def disjunctionMaxBm25(docs: DataFrame, idCol: String, textCol: String,
                         terms: Seq[String], tiebreak: Double): DataFrame =
    termRows(docs, idCol, textCol, col("tok").isin(terms: _*)).scored(Bm25)
      .groupBy(idCol).agg(score5(dismax(col("s"), tiebreak)))

  /** MaxScoreQParser combine (reference solr/core/src/java/org/apache/solr/
    * search/MaxScoreQParser.java:34-78): required terms gate matching and
    * score as a plain boolean sum; ALL optional terms collapse into one
    * DisjunctionMaxQuery, contributing max + tie·(sum − max). Declarative
    * oracle-parity twin of [[graft.query.Searcher.maxScoreRewrite]]. */
  def maxScoreBm25(docs: DataFrame, idCol: String, textCol: String,
                   must: Seq[String], should: Seq[String], tie: Double): DataFrame = {
    val isMust = col("tok").isin(must: _*)
    val isShould = col("tok").isin(should: _*)
    termRows(docs, idCol, textCol, col("tok").isin((must ++ should).distinct: _*)).scored(Bm25)
      .groupBy(idCol)
      .agg(sum(when(isMust, col("s"))).as("ms"), count(when(isMust, 1)).as("nm"),
        dismax(when(isShould, col("s")), tie).as("ds"))
      .filter(col("nm") === must.distinct.size)
      .select(col(idCol), score5(coalesce(col("ms"), lit(0.0)) + coalesce(col("ds"), lit(0.0))))
  }

  /**
   * Solr's mm spec grammar (reference solr/core .../util/SolrPluginUtils
   * .java:671-708 calculateMinShouldMatch): absolute ("3"), negative
   * ("-2" = all but 2), percentage ("75%"), negative percentage ("-25%"),
   * and space-separated conditionals ("2<-1 5<80%": ≤2 optional clauses →
   * all required; 3..5 → all but one; >5 → 80%). Result clamps to
   * [0, optionalClauseCount] exactly as the reference does. Use with
   * [[edismax]]'s `mm` parameter.
   */
  def calculateMinShouldMatch(optionalClauseCount: Int, spec0: String): Int = {
    var result = optionalClauseCount
    var spec = spec0.trim
    if (spec.contains("<")) {
      spec = spec.replaceAll("\\s+<\\s+", "<")
      val conds = spec.split("\\s+")
      var i = 0
      while (i < conds.length) {
        val parts = conds(i).split("<", 2)
        val upperBound = parts(0).toInt
        if (optionalClauseCount <= upperBound) return result
        result = calculateMinShouldMatch(optionalClauseCount, parts(1))
        i += 1
      }
      return result
    }
    if (spec.contains("%")) {
      val percent = spec.dropRight(1).toInt
      val calc = (result * percent) * (1 / 100f)
      result = if (calc < 0) result + calc.toInt else calc.toInt
    } else {
      val calc = spec.toInt
      result = if (calc < 0) result + calc else calc
    }
    if (optionalClauseCount < result) optionalClauseCount
    else if (result < 0) 0 else result
  }

  /** CoveringQuery (reference lucene/sandbox/src/java/org/apache/lucene/
    * search/CoveringQuery.java:47-60 + CoveringScorer): a boolean OR whose
    * minimum-should-match is a PER-DOC value (LongValuesSource) instead of
    * a constant — doc matches iff its matched-clause count ≥ its own
    * threshold; score = sum of the matching clauses (BM25 here). The
    * threshold joins from the doc table as a column, so the gate is one
    * codegen filter after the scoring agg. */
  def coveringBm25(docs: DataFrame, idCol: String, textCol: String,
                   terms: Seq[String], minMatch: Column): DataFrame =
    summed(termRows(docs, idCol, textCol, col("tok").isin(terms: _*)).scored(Bm25), idCol)
      .join(docs.select(col(idCol), minMatch.cast("long").as("__mm")), Seq(idCol))
      .filter(col("nm") >= col("__mm"))
      .select(col(idCol), score5(col("raw")), col("nm").as("n_matched"))

  /** MultiTermQuery SCORING_BOOLEAN_REWRITE twin (reference search/
    * MultiTermQuery.java SCORING_BOOLEAN_REWRITE + ScoringRewrite.java:
    * unlike the constant-score rewrite, every expanded term keeps its REAL
    * BM25 score and docs sum over matched expansions). `tokPred` is the
    * dictionary predicate (prefix/wildcard/range as a Column over `tok`).
    * Double arithmetic rounded to 5; the engine path is
    * `OpenIndex.multiTermScoredTopK`. */
  def bm25Expanded(docs: DataFrame, idCol: String, textCol: String,
                   tokPred: Column): DataFrame =
    summed(termRows(docs, idCol, textCol, tokPred).scored(Bm25), idCol)
      .select(col(idCol), score5(col("raw")))

  /** Declarative BlendedTermQuery twin (reference lucene/core search/
    * BlendedTermQuery.java:273-284: df = max over the terms' dfs so rare
    * variants aren't idf-over-rewarded; dismax combine with tie). Double
    * arithmetic rounded to 5 — the float-exact engine path is
    * a [[graft.query.QueryEngine.Blended]] request. */
  def blendedBm25(docs: DataFrame, idCol: String, textCol: String,
                  terms: Seq[(String, Double)], tieBreaker: Double): DataFrame = {
    val names = terms.map(_._1)
    val boosts = terms.toMap
    val boost = coalesce(names.map(t => when(col("tok") === t, lit(boosts(t)))): _*)
    val tr = termRows(docs, idCol, textCol, col("tok").isin(names: _*))
    tr.withMaxDf(tr.rows)
      .select(col(idCol),
        bm25(boost * bm25Idf(col("n"), col("df")), col("tf"), col("dl"), col("avgdl")).as("s"))
      .groupBy(idCol).agg(score5(dismax(col("s"), tieBreaker)))
  }

  /** Declarative FeatureField twin (reference document/FeatureField.java
    * newSaturationQuery arithmetic in oracle-reproducible double precision):
    * BM25 over `terms` plus weight·(1 − pivot/(f + pivot)) from a per-doc
    * feature expression, added as a SHOULD clause gated on the text match.
    * The engine path with reference quantization + float casts is
    * [[graft.index.IndexStore.OpenIndex.topKWithFeature]]. */
  def bm25FeatureSaturation(docs: DataFrame, idCol: String, textCol: String,
                            terms: Seq[String], feature: Column,
                            weight: Double, pivot: Double): DataFrame =
    summed(termRows(docs, idCol, textCol, col("tok").isin(terms: _*)).scored(Bm25), idCol)
      .join(docs.select(col(idCol), feature.as("__f")), Seq(idCol))
      .select(col(idCol),
        score5(col("raw") + lit(weight) * (lit(1.0) - lit(pivot) / (col("__f") + lit(pivot)))))

  /**
   * ExtendedDisMax (edismax) — Solr's primary user-facing query parser
   * (reference solr/core/src/java/org/apache/solr/search/
   * ExtendedDismaxQParser.java; DisMaxQParser.java:172-232 builds the same
   * main-query shape; SolrPluginUtils.setMinShouldMatch applies `mm`):
   *
   *  - each user term becomes ONE clause = DisjunctionMax over the `qf`
   *    fields of (fieldBoost × BM25_field(term)), tie-broken as
   *    max + tie·(Σ − max) (DisjunctionMaxScorer.java:58-70). Field
   *    statistics (df, dl, avgdl, N) are PER FIELD — Lucene's per-field
   *    stats model;
   *  - a doc matches iff ≥ `mm` of its term clauses match (mm counts the
   *    top-level user clauses only — the phrase boosts below are appended
   *    OUTSIDE the mm'd boolean, ExtendedDismaxQParser.addPhraseFieldQueries);
   *  - `pf2`: every adjacent bigram of the user query becomes a phrase
   *    query over each pf2 field (edismax's pf2 parameter,
   *    ExtendedDismaxQParser.U_FIELD handling of pf2/pf3); a matching doc
   *    adds fieldBoost × phraseBM25, where phrase idf = Σ of the member
   *    terms' idfs and tf = adjacent-occurrence count (PhraseWeight feeds
   *    all term stats to one Similarity scorer). Multiple pf2 fields
   *    dismax with the same `tie`;
   *  - `bf` is edismax's additive boost function (score += bf(doc)) and
   *    `boostFn` the multiplicative `boost` param (score ×= boost(doc),
   *    ExtendedDismaxQParser's BoostedQuery wrapping) — both expressions
   *    over the doc table's columns, applied AFTER mm gating and pf2.
   *
   * Output: (idCol, score) rounded to 5 — oracle-reproducible doubles.
   *
   * Plan shape at scale: one stats frame per field (narrow typed
   * tokenizer pass, partial+final aggs), stats broadcast; the pf2 adjacency
   * join touches only the bigram terms' position rows; no window functions,
   * no driver loops — clause fan-out is a union of per-field frames.
   */
  def edismax(docs: DataFrame, idCol: String,
              qf: Seq[(String, Double)], terms: Seq[String], mm: Int,
              tie: Double, pf2: Seq[(String, Double)] = Nil,
              bf: Option[Column] = None, boostFn: Option[Column] = None): DataFrame = {
    require(qf.nonEmpty && terms.nonEmpty && mm >= 1)
    def applyBoosts(scored: DataFrame): DataFrame =
      if (bf.isEmpty && boostFn.isEmpty) scored
      else {
        val enrich = docs.select(col(idCol),
          bf.getOrElse(lit(0.0)).cast("double").as("__bf"),
          boostFn.getOrElse(lit(1.0)).cast("double").as("__boost"))
        scored.withColumnRenamed("score", "__s")
          .join(enrich, Seq(idCol))
          .select(col(idCol), score5((col("__s") + col("__bf")) * col("__boost")))
      }
    val clauses = qf.map { case (c, boost) =>
      termRows(docs, idCol, c, col("tok").isin(terms: _*)).scored(Bm25)
        .select(col(idCol), col("tok"), (col("s") * boost).as("bs"))
    }.reduce(_ unionByName _)
      .groupBy(col(idCol), col("tok")).agg(dismax(col("bs"), tie).as("s"))
    val main = summed(clauses, idCol).filter(col("nm") >= mm)
    val bigrams = terms.sliding(2).filter(_.size == 2).toSeq
    if (pf2.isEmpty || bigrams.isEmpty)
      applyBoosts(main.select(col(idCol), score5(col("raw"))))
    else {
      val bigramTerms = bigrams.flatten.distinct
      // one frame per pf2 field: (id, bg, ps) — bg indexes the bigram so
      // cross-field dismax groups per (doc, bigram)
      val perPhraseField = pf2.map { case (c, boost) =>
        val tr = termRows(docs, idCol, c, col("tok").isin(bigramTerms: _*))
        val dfMap = tr.dfs.select("tok", "df").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val pos = tokenPosTable(docs, idCol, c)
          .filter(col("tok").isin(bigramTerms: _*))
        val perBigram = bigrams.zipWithIndex.map { case (Seq(t1, t2), bi) =>
          val a = pos.filter(col("tok") === t1).select(col(idCol), col("pos").as("pa"))
          val bx = pos.filter(col("tok") === t2).select(col(idCol), col("pos").as("pb"))
          a.join(bx, idCol).filter(col("pb") === col("pa") + 1)
            .groupBy(idCol).agg(count("*").cast("double").as("ptf"))
            .withColumn("bg", lit(bi))
        }.reduce(_ unionByName _)
        // idf per bigram = Σ member idfs over THIS field's stats; a term
        // absent from the field has df=0 → idf = ln(1 + (N+0.5)/0.5)
        val idf = coalesce(bigrams.zipWithIndex.map { case (bigram, bi) =>
          when(col("bg") === bi, bigram.map(t =>
            bm25Idf(col("n"), lit(dfMap.getOrElse(t, 0L).toDouble))).reduce(_ + _))
        }: _*)
        perBigram
          .join(tr.lengths, idCol).crossJoin(broadcast(tr.stats))
          .select(col(idCol), col("bg"),
            bm25(lit(boost) * idf, col("ptf"), col("dl"), col("avgdl")).as("ps"))
      }.reduce(_ unionByName _)
      val phrase = perPhraseField.groupBy(col(idCol), col("bg"))
        .agg(dismax(col("ps"), tie).as("bps"))
        .groupBy(idCol).agg(sum("bps").as("pb"))
      applyBoosts(main.join(phrase, Seq(idCol), "left")
        .select(col(idCol), score5(col("raw") + coalesce(col("pb"), lit(0.0)))))
    }
  }

  /**
   * Re-ranking (reference solr/core/src/java/org/apache/solr/search/
   * ReRankQParserPlugin.java; lucene/core/src/java/org/apache/lucene/search/
   * QueryRescorer.java): the top `reRankDocs` of the main query are
   * re-scored as firstPass + weight * rescoreQuery score; docs in the window
   * that don't match the rescore query keep their first-pass score
   * (QueryRescorer.combine with secondPassMatches=false). Returns
   * (idCol, score, first_pass) for the re-ranked window.
   *
   * Determinism: both passes round to 5 before combining and the window
   * boundary orders by (first_pass DESC, id ASC), so the oracle's double
   * arithmetic reproduces the exact row set. Scale shape: the corpus is
   * tokenized ONCE for both term sets (one shared stats frame); window
   * selection is TakeOrderedAndProject (bounded per-partition heaps), and
   * the rescore join touches only the reRankDocs-sized window.
   */
  def reRank(docs: DataFrame, idCol: String, textCol: String,
             mainTerms: Seq[String], rescoreTerms: Seq[String],
             reRankDocs: Int, weight: Double): DataFrame = {
    val st = termRows(docs, idCol, textCol,
      col("tok").isin((mainTerms ++ rescoreTerms).distinct: _*)).scored(Bm25)
    val main = st.filter(col("tok").isin(mainTerms: _*)).groupBy(idCol)
      .agg(round(sum("s"), 5).as("first_pass"))
    val re = st.filter(col("tok").isin(rescoreTerms: _*)).groupBy(idCol)
      .agg(round(sum("s"), 5).as("__re"))
    main.orderBy(col("first_pass").desc, col(idCol).asc).limit(reRankDocs)
      .join(re, Seq(idCol), "left")
      .select(col(idCol),
        score5(col("first_pass") + lit(weight) * coalesce(col("__re"), lit(0.0))),
        col("first_pass"))
  }

  /**
   * Query elevation (reference solr/core/src/java/org/apache/solr/handler/
   * component/QueryElevationComponent.java): editorially pinned docs rank
   * first — in configured order — ahead of the organic results; excluded
   * docs are removed; pinned docs ABSENT from the organic result set are
   * inserted (the component rewrites the query to include them) with score
   * 0. Returns (idCol, score, pin_pos, elevated); consumers order by
   * (elevated DESC, pin_pos ASC, score DESC, id) — sort keys, not a
   * materialized global rank, so no single-partition window exists at scale.
   *
   * Scale shape: the pin/exclude lists are editorial-tiny, so the organic
   * pass is one broadcast join; the missing-pin probe anti-joins the tiny
   * list against the result frame (one exchange of the already-aggregated
   * results — nothing scales with corpus size except that frame).
   */
  def elevate(scored: DataFrame, idCol: String, pinned: Seq[Long],
              excluded: Seq[Long] = Nil): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val pins = pinned.zipWithIndex.map { case (id, i) => (id, i + 1) }
      .toDF(idCol, "pin_pos")
    val kept = if (excluded.isEmpty) scored
               else scored.filter(!col(idCol).isin(excluded: _*))
    val organic = kept.join(broadcast(pins), Seq(idCol), "left")
      .select(col(idCol), col("score"),
        coalesce(col("pin_pos"), lit(0)).as("pin_pos"))
    val missing = pins.join(kept.select(idCol), Seq(idCol), "left_anti")
      .select(col(idCol), lit(0.0).as("score"), col("pin_pos"))
    organic.unionByName(missing)
      .withColumn("elevated", col("pin_pos") > 0)
  }

  /**
   * Function-score boosting (reference lucene/queries/src/java/org/apache/
   * lucene/queries/function/FunctionScoreQuery.java boostByValue): final
   * score = query score * max(0, feature value) — recency/popularity/
   * quality boosts from a doc-values-shaped feature frame. The multiply
   * happens AFTER the scoring aggregation, so the join carries only
   * matching docs, and the feature read is a narrow column scan.
   */
  def boostByValue(scored: DataFrame, idCol: String,
                   features: DataFrame, featureCol: String): DataFrame =
    scored.join(features.select(col(idCol), col(featureCol)), Seq(idCol))
      .select(col(idCol),
        round(col("score") * greatest(col(featureCol), lit(0.0)), 5).as("score"))

  /** minShouldMatch (MinShouldMatchSumScorer): docs matching >= n of terms. */
  def minShouldMatch(docs: DataFrame, idCol: String, textCol: String,
                     terms: Seq[String], n: Int): DataFrame =
    termFreqs(docs, idCol, textCol)
      .filter(col("tok").isin(terms: _*))
      .groupBy(idCol).agg(count("*").as("n_matched"), sum("tf").as("sum_tf"))
      .filter(col("n_matched") >= n)

  /** DisjunctionMax over per-term tf: max + tiebreak*(sum-max). */
  def disjunctionMax(docs: DataFrame, idCol: String, textCol: String,
                     terms: Seq[String], tiebreak: Double): DataFrame =
    termFreqs(docs, idCol, textCol)
      .filter(col("tok").isin(terms: _*))
      .groupBy(idCol)
      .agg(round(max("tf") + lit(tiebreak) * (sum("tf") - max("tf")), 5).as("dmax_score"))

  /** Exact phrase match (ExactPhraseMatcher): docs where the terms occur at
    * consecutive token positions — the one-term-per-slot [[multiPhraseMatch]].
    * Returns (idCol, n_occurrences). */
  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
                  phrase: Seq[String]): DataFrame =
    multiPhraseMatch(docs, idCol, textCol, phrase.map(Seq(_)))

  /**
   * Sloppy phrase match (SloppyPhraseMatcher semantics for phrases without
   * repeated terms, reference search/SloppyPhraseMatcher.java): term i's
   * positions are offset-adjusted (q = pos - i, Lucene's PhrasePositions),
   * and the doc matches iff some choice of one occurrence per term has
   * adjusted-position range (max q - min q) <= slop. Reordering costs 2
   * (e.g. "b a" matches "a b"~2), exactly as in the reference. The
   * per-doc minimal range is the classic smallest-covering-range sweep.
   * Returns (idCol, min_slop) for matching docs.
   */
  def sloppyPhraseMatch(docs: DataFrame, idCol: String, textCol: String,
                        phrase: Seq[String], slop: Int): DataFrame = {
    require(phrase.nonEmpty)
    val spark = docs.sparkSession
    import spark.implicits._
    // slots sharing a term must choose DISTINCT raw positions (reference
    // SloppyPhraseMatcher.java:362-410 — repeating PhrasePositions may not
    // land on the same position); encode term identity per slot
    val termIds = phrase.distinct.zipWithIndex.toMap
    val termOfSlot = phrase.map(termIds).toArray
    val hasRepeats = phrase.distinct.size != phrase.size
    val pos = tokenPosTable(docs, idCol, textCol)
    // per doc: one array of adjusted positions per phrase slot
    val parts = phrase.zipWithIndex.map { case (t, i) =>
      pos.filter(col("tok") === t)
        .groupBy(idCol).agg(sort_array(collect_list(col("pos") - i)).as(s"q$i"))
    }
    val joined = parts.reduceLeft((a, b) => a.join(b, idCol))
    // id column kept generic (any type, like every sibling operator): the
    // sweep runs on Rows with an explicit encoder
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      joined.schema(idCol),
      org.apache.spark.sql.types.StructField("min_slop",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    joined.select(col(idCol),
        array(phrase.indices.map(i => col(s"q$i")): _*).as("qs"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val lists = r.getSeq[scala.collection.Seq[Int]](1)
          val best =
            if (!hasRepeats) minRangeSweep(lists)
            else minRangeWithRepeats(lists, termOfSlot, slop)
          if (best <= slop) Iterator.single(org.apache.spark.sql.Row(r.get(0), best))
          else Iterator.empty
        }
      }(enc)
  }

  /** Smallest range covering one element from each sorted list (the classic
    * sweep — valid when every slot holds a distinct term). */
  private[graft] def minRangeSweep(lists: scala.collection.Seq[scala.collection.Seq[Int]]): Int = {
    val idx = Array.fill(lists.size)(0)
    var best = Int.MaxValue
    var done = false
    while (!done) {
      var minV = Int.MaxValue; var maxV = Int.MinValue; var minList = -1
      var i = 0
      while (i < lists.size) {
        val v = lists(i)(idx(i))
        if (v < minV) { minV = v; minList = i }
        if (v > maxV) maxV = v
        i += 1
      }
      if (maxV - minV < best) best = maxV - minV
      idx(minList) += 1
      if (idx(minList) >= lists(minList).size) done = true
    }
    best
  }

  /** Min adjusted-position range over assignments of one occurrence per
    * slot where same-term slots use DISTINCT raw positions, bounded by the
    * caller's slop budget: returns the exact minimum iff it is <= `slop`,
    * Int.MaxValue otherwise. Branch-and-bound DFS with a WINDOW bound —
    * once any slot is fixed, later slots only try candidates inside
    * [curMax - slop, curMin + slop] (a candidate outside can never end
    * <= slop), found by binary search. Per-slot adjusted positions are
    * distinct, so branching after the first slot is <= slop + 1 per slot
    * REGARDLESS of occurrence-list length: a pathological doc with 10^4
    * repeats of one phrase term costs O(L1 * (slop+1)^(n-1)), not O(L1^n)
    * (pathological-doc test in OperatorsSpec). */
  private[graft] def minRangeWithRepeats(lists: scala.collection.Seq[scala.collection.Seq[Int]],
                                         termOfSlot: Array[Int],
                                         slop: Int = Int.MaxValue - 1): Int = {
    val n = lists.size
    val arrs = lists.map(_.toArray).toArray // sorted ascending (caller sorts)
    var best = Int.MaxValue
    val chosenRaw = new Array[Int](n)
    def lowerBound(a: Array[Int], v: Int): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < v) lo = m + 1 else hi = m }
      lo
    }
    def dfs(s: Int, curMin: Int, curMax: Int): Unit = {
      if (s > 0 && curMax - curMin > slop) return
      if (s > 0 && best != Int.MaxValue && curMax - curMin >= best) return
      if (s == n) { best = curMax - curMin; return }
      val l = arrs(s)
      // window bound: candidates below curMax - slop or above curMin + slop
      // cannot be part of a <= slop assignment
      var i = if (s == 0) 0 else lowerBound(l, curMax - slop)
      val hiV = if (s == 0) Int.MaxValue else safeAdd(curMin, slop)
      while (i < l.length && l(i) <= hiV) {
        val q = l(i)
        val raw = q + s
        var ok = true
        var j = 0
        while (ok && j < s) {
          if (termOfSlot(j) == termOfSlot(s) && chosenRaw(j) == raw) ok = false
          j += 1
        }
        if (ok) {
          chosenRaw(s) = raw
          dfs(s + 1, math.min(curMin, q), math.max(curMax, q))
        }
        i += 1
      }
    }
    dfs(0, Int.MaxValue, Int.MinValue)
    if (best <= slop) best else Int.MaxValue
  }

  @inline private def safeAdd(a: Int, b: Int): Int = {
    val s = a.toLong + b.toLong
    if (s > Int.MaxValue) Int.MaxValue else s.toInt
  }

  /**
   * MultiPhraseQuery (reference search/MultiPhraseQuery.java:56): a phrase
   * where each position matches ANY of a set of terms — slot i's candidate
   * positions are the UNION of its member terms' positions (a token
   * position holds one term, so the union has no duplicates). Returns
   * (idCol, n_occurrences) of docs with >= 1 consecutive match.
   */
  def multiPhraseMatch(docs: DataFrame, idCol: String, textCol: String,
                       slots: Seq[Seq[String]]): DataFrame = {
    require(slots.nonEmpty && slots.forall(_.nonEmpty))
    val pos = tokenPosTable(docs, idCol, textCol)
    val parts = slots.zipWithIndex.map { case (ts, i) =>
      pos.filter(col("tok").isin(ts: _*))
        .groupBy(idCol).agg(collect_list(col("pos") - i).as(s"p$i"))
    }
    val joined = parts.reduceLeft((a, b) => a.join(b, idCol))
    val starts = (1 until slots.length).foldLeft(col("p0")) { (acc, i) =>
      array_intersect(acc, col(s"p$i"))
    }
    joined.withColumn("n_occurrences", size(starts))
      .filter(col("n_occurrences") > 0)
      .select(col(idCol), col("n_occurrences"))
  }

  /** Compile a Lucene-style glob (`*` = any run, `?` = any single char) to
    * an anchored regex — the WildcardQuery compiler (reference
    * search/WildcardQuery.java:42 builds the equivalent automaton). All
    * regex metacharacters in the literal parts are escaped. */
  def wildcardToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append(".")
      case c if "\\.[]{}()<>+-=!$|^".indexOf(c) >= 0 => sb.append("\\").append(c)
      case c => sb.append(c)
    }
    sb.append("$").toString
  }

  /** Multi-term expansion queries: df of terms selected by a predicate on
    * the term itself (prefix/regexp/fuzzy/set — PrefixQuery, RegexpQuery,
    * FuzzyQuery, TermInSetQuery). Returns (term, df, ttf). */
  def expandTerms(docs: DataFrame, idCol: String, textCol: String,
                  termPred: Column => Column): DataFrame =
    termFreqs(docs, idCol, textCol)
      .filter(termPred(col("tok")))
      .groupBy(col("tok").as("term"))
      .agg(count("*").as("df"), sum("tf").as("ttf"))

  // ---------------------------------------------------------------------
  // Text analysis for training-data pipelines
  // ---------------------------------------------------------------------

  /** Context-filtered suggestions (reference lucene/suggest
    * CompletionQuery contexts capability): completions of `prefix` drawn
    * only from docs whose `ctxCol` equals `ctx`, weighted by IN-CONTEXT
    * document frequency. The context filter lands before the explode, so
    * only the context's tokens are generated at all. */
  def contextSuggest(docs: DataFrame, idCol: String, textCol: String,
                     ctxCol: String, ctx: String, prefix: String, k: Int): DataFrame =
    docs.filter(col(ctxCol) === ctx)
      .select(col(idCol), explode(tokensOf(textCol)).as("tok"))
      .filter(col("tok").startsWith(prefix))
      .groupBy("tok").agg(countDistinct(idCol).as("df"))
      .orderBy(desc("df"), asc("tok")).limit(k)
      .select(col("tok").as("term"), col("df"))

  /** Phonetic search (Solr PhoneticFilterFactory capability, query side):
    * docs containing any token whose Soundex code equals the query
    * word's. The encoding is the pure-builtin Column chain
    * ([[graft.analysis.Soundex.encodeCol]]) — a narrow codegen filter on
    * the exploded token table; the lit() side uses the scalar encoder,
    * which PhoneticSpec fuzz-ties to the Column version. */
  def phoneticMatch(docs: DataFrame, idCol: String, textCol: String,
                    word: String): DataFrame =
    tokenTable(docs, idCol, textCol)
      .filter(graft.analysis.Soundex.encodeCol(col("tok")) ===
        lit(graft.analysis.Soundex.encode(word)))
      .select(idCol).distinct()

  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Per-doc token budget counts: whitespace words, analyzer tokens, and
    * BPE-ish units. All codegen built-ins. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(split(trim(col(textCol)), "\\s+")).as("n_words"),
      size(tokensOf(textCol)).as("n_alnum"),
      size(regexp_extract_all(lower(col(textCol)), lit(BpeishPattern), lit(0))).as("n_bpeish"),
      length(col(textCol)).as("n_chars"))

  /** Token count + basic quality stats per doc, all codegen built-ins. */
  def qualityStats(docs: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String]): DataFrame = {
    val toks = tokensOf(textCol)
    docs.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      round(size(filter(toks, t => t.isin(stopwords: _*))) /
        greatest(size(toks), lit(1)).cast("double"), 5).as("stopword_ratio"),
      round(aggregate(transform(toks, t => length(t)), lit(0),
        (acc, x) => acc + x).cast("double") /
        greatest(size(toks), lit(1)), 5).as("mean_token_len"),
      round(size(array_distinct(toks)) /
        greatest(size(toks), lit(1)).cast("double"), 5).as("distinct_ratio"))
  }

  /** Language-ID by stopword-hit voting: argmax over per-language marker
    * lists (deterministic n-gram-free heuristic, SQL-expressible). */
  def languageId(docs: DataFrame, idCol: String, textCol: String,
                 markers: Seq[(String, Seq[String])]): DataFrame = {
    val toks = tokensOf(textCol)
    val hitCols = markers.map { case (lang, words) =>
      size(filter(toks, t => t.isin(words: _*))).as(s"hits_$lang")
    }
    val base = docs.select(col(idCol) +: hitCols: _*)
    // argmax with deterministic tie-break: first language in list order wins
    val pred = markers.map(_._1).foldRight(lit("und")) { (lang, els) =>
      when(col(s"hits_$lang") > 0 &&
        markers.map(m => col(s"hits_$lang") >= col(s"hits_${m._1}")).reduce(_ && _),
        lit(lang)).otherwise(els)
    }
    base.withColumn("lang_pred", pred)
  }

  /** Document fingerprint: md5 of the sorted distinct token set — the
    * canonical "fingerprint" normalization (case/punct/order-insensitive). */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      md5(concat_ws(" ", array_sort(array_distinct(tokensOf(textCol))))).as("fp"))

  /**
   * Composed corpus-cleaning pipeline — the standard pretraining-data
   * pass, as ONE declarative plan Catalyst optimizes end-to-end:
   * language-ID filter -> quality-stat thresholds -> exact dedup
   * keep-first. Each stage is the already-oracled operator; composing
   * them stays a single pipeline (langid/quality are narrow projections,
   * dedup adds its one content-hash shuffle). Returns the surviving
   * (idCol, lang_pred, n_tokens, stopword_ratio) rows.
   *
   * At 100 TB this is the shape that matters: filters run BEFORE the
   * dedup shuffle, so the only wide exchange sees already-cleaned rows.
   */
  def cleanCorpus(docs: DataFrame, idCol: String, textCol: String,
                  markers: Seq[(String, Seq[String])], keepLangs: Seq[String],
                  stopwords: Seq[String], minTokens: Int,
                  maxStopwordRatio: Double): DataFrame = {
    val lang = languageId(docs, idCol, textCol, markers)
      .filter(col("lang_pred").isin(keepLangs: _*))
    val quality = qualityStats(docs, idCol, textCol, stopwords)
      .filter(col("n_tokens") >= minTokens && col("stopword_ratio") <= maxStopwordRatio)
      .select(col(idCol), col("n_tokens"), col("stopword_ratio"))
    val surviving = docs.select(col(idCol), col(textCol))
      .join(lang, idCol).join(quality, idCol)
    // exact dedup LAST (its shuffle sees only cleaned rows); keep-first
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(lower(col(textCol)))).orderBy(col(idCol))
    surviving.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("lang_pred"), col("n_tokens"), col("stopword_ratio"))
  }

  /** IVrixDB-style search-time field extraction: k:v pairs pulled out of a
    * raw string with regex, typed by cast attempt (FieldExtractionStream). */
  def extractField(raw: Column, key: String): Column =
    regexp_extract(raw, "\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*(\\d+)", 1).cast("long")

  /**
   * Snippet highlighter (reference lucene/highlighter
   * UnifiedHighlighter/Highlighter.java capability): for docs matching any
   * query term, extract the token window of width `window` around the
   * FIRST matching token and wrap every query-term occurrence inside the
   * window in <em> tags. Pure codegen built-ins (deterministic, oracle-
   * checkable): (idCol, first_pos, snippet).
   */
  def highlight(docs: DataFrame, idCol: String, textCol: String,
                terms: Seq[String], window: Int): DataFrame = {
    val toks = tokensOf(textCol)
    // 1-based first occurrence of ANY term (array_position -> 0 if absent)
    val big = lit(Int.MaxValue)
    val firstPos = least(terms.map(t =>
      coalesce(nullif(array_position(toks, lit(t)), lit(0L)), big)): _*)
    val start = greatest(firstPos - window, lit(1L))
    val snippetToks = slice(toks, start.cast("int"), lit(2 * window + 1))
    val marked = transform(snippetToks, x =>
      when(x.isin(terms: _*), concat(lit("<em>"), x, lit("</em>"))).otherwise(x))
    docs.select(col(idCol), firstPos.as("first_pos"),
        concat_ws(" ", marked).as("snippet"))
      .filter(col("first_pos") < big)
      .withColumn("first_pos", col("first_pos").cast("long"))
  }

  // ---- payloads (lucene/analysis payloads + lucene/queries payloads) ----

  /** DelimitedPayloadTokenFilter (reference lucene/analysis/common
    * payloads/DelimitedPayloadTokenFilter.java:39-66 + FloatEncoder):
    * whitespace tokens of the form `term|payload` split at the LAST
    * delimiter; the suffix decodes as a float payload, tokens without a
    * delimiter carry a null payload (the reference sets payAtt to null).
    * Returns (idCol, pos, term, payload) — one row per occurrence, built
    * in one narrow codegen pass (posexplode over split-on-whitespace).
    */
  def payloadTable(docs: DataFrame, idCol: String, textCol: String,
                   delim: String = "\\|"): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), "\\s+")).as(Seq("pos", "__w")))
      .filter(length(col("__w")) > 0)
      .select(col(idCol), col("pos"),
        regexp_extract(col("__w"), s"^(.*?)(?:$delim([0-9.eE+-]+))?$$", 1).as("term"),
        nullif(regexp_extract(col("__w"), s"^(.*?)(?:$delim([0-9.eE+-]+))?$$", 2), lit(""))
          .cast("float").as("payload"))

  /** PayloadScoreQuery with includeSpanScore=false (reference
    * lucene/queries/payloads/PayloadScoreQuery.java:60-185 + the
    * Min/Max/Average/Sum PayloadFunction family): per matching doc,
    * combine the payloads of every occurrence of `term` with `func`
    * (docScore: avg divides by numPayloadsSeen; min/max/sum are the
    * running fold). Occurrences with null payloads count as matches but
    * contribute nothing (the reference skips null payloads in
    * currentScore). Returns (idCol, payload_score DOUBLE, n_payloads).
    * One shuffle on idCol; with includeSpanScore=true the reference
    * multiplies by the span score — compose with bm25All for that.
    */
  def payloadScore(payloads: DataFrame, idCol: String, term: String,
                   func: String): DataFrame = {
    val agg = func.toLowerCase match {
      case "min" => min(col("payload"))
      case "max" => max(col("payload"))
      case "avg" => avg(col("payload"))
      case "sum" => sum(col("payload"))
      case other => throw new IllegalArgumentException(
        s"payload function must be min/max/avg/sum, got $other")
    }
    payloads.filter(col("term") === term)
      .groupBy(idCol)
      .agg(agg.cast("double").as("payload_score"),
        count(col("payload")).as("n_payloads"))
  }

  /** SpanPayloadCheckQuery / Solr `{!payload_check}` (reference
    * lucene/queries/src/java/org/apache/lucene/queries/payloads/
    * SpanPayloadCheckQuery.java:50-170 PayloadChecker, solr/core
    * search/PayloadCheckQParserPlugin.java:34-100): a phrase whose
    * positions match only when each position's payload equals the given
    * value, compared in order — a `None` check accepts any payload at its
    * slot (the reference's null entry, :159-161). One pre-gated slot
    * frame per phrase position joined on (doc, start) — the bounded
    * phrase-join shape, never a full positions product; payload equality
    * pushes into each slot's scan. Returns (idCol, n_matches). */
  def payloadCheck(payloads: DataFrame, idCol: String, terms: Seq[String],
                   checks: Seq[Option[Float]]): DataFrame = {
    require(terms.nonEmpty && terms.size == checks.size,
      "payloadCheck: one check per phrase slot (None = wildcard)")
    val slots = terms.zip(checks).zipWithIndex.map { case ((t, chk), i) =>
      val base = payloads.filter(col("term") === t)
      val gated = chk.fold(base)(p => base.filter(col("payload") === p))
      gated.select(col(idCol), (col("pos") - i).as("__p0"))
    }
    slots.reduce((a, b) => a.join(b, Seq(idCol, "__p0")))
      .groupBy(idCol).agg(count("*").as("n_matches"))
  }
}

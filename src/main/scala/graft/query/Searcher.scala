package graft.query

import graft.index.IndexStore.OpenIndex
import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Query-string execution against an [[OpenIndex]]: parse with
 * [[QueryParser]], map each leaf onto a [[QueryEngine]] stage, compose
 * Boost/Bool/DisMax/Const in one AST walk with the planner's combine
 * columns. The reference analogue is
 * IndexSearcher.search(QueryParser.parse(...)) (SURVEY.md §3.1).
 *
 * Scoring contract (documented, asserted in SearcherSpec):
 *  - Term leaf: the engine's exact Lucene-arithmetic BM25 per-term score.
 *  - Exact phrase: BM25 with tf = phrase frequency and weight = double sum
 *    of the distinct member terms' idfs cast float (PhraseWeight passes all
 *    member term statistics; BM25Similarity sums their idfs).
 *  - Sloppy phrase / prefix / wildcard / fuzzy / range: constant score 1
 *    (MultiTermQuery CONSTANT_SCORE rewrite; sloppy kept constant-score).
 *  - Boolean: the must clauses' scores and the should clauses' scores are
 *    each summed as double in clause order (the must sum from -0.0), the
 *    two sums added and cast float; DisjunctionMax runs
 *    DisjunctionMaxScorer's loop in clause order.
 *  - Term-leaf booleans are lowered: a term, a boosted term, or a boolean
 *    whose clauses are only those is ONE [[QueryEngine.Bool]] request on
 *    the [[Wand]] kernel (top k at the top level, every match nested),
 *    mustNot and tombstones tested inside it, as Lucene's BooleanQuery
 *    scores term clauses in one scorer tree. Any other boolean, and
 *    DisMax, combine one per-doc grouping of their clauses' frames with
 *    the kernel's arithmetic, so a pure-term query string (or a
 *    maxscore/XML dismax over terms) scores bit-identically to the
 *    matching [[QueryEngine.Request]] either way.
 */
object Searcher {

  import QueryParser._

  /** CommonTermsQuery over the index (reference lucene/queries/
    * CommonTermsQuery.java): df-split via the termstats dictionary (a
    * cached O(#terms) lookup, no corpus pass), then low-frequency terms
    * required / high-frequency optional through the boolean AST — exactly
    * the reference's rewrite into a +low / high boolean. */
  def commonTerms(idx: OpenIndex, terms: Seq[String], k: Int,
                  maxTermFrequency: Double): DataFrame = {
    val qs = terms.distinct
    require(qs.forall(_.matches("[^\\s+\\-\"(){}\\[\\]^~*?:\\\\]+")),
      "commonTerms takes analyzed terms, not query syntax")
    val dfs = QueryEngine.lookupDfs(idx.termstats, qs, Some(idx.dfCache))
    val cutoff = maxTermFrequency * idx.stats.docCount
    val (high, low) = qs.partition(t => dfs.getOrElse(t, 0L) > cutoff)
    search(idx, (low.map("+" + _) ++ high).mkString(" "), k)
  }

  /** Parse + rank: top-k (docId, score) with tombstones excluded before
    * the limit. */
  def search(idx: OpenIndex, query: String, k: Int): DataFrame =
    rank(idx, QueryParser.parse(query), k)()

  /** The top k of a query over `idx`: a term-leaf boolean as one kernel
    * request, any other query through the planner's exclusion and output
    * stages over its frame, composed over the leaves `leaf` resolves. */
  private def rank(idx: OpenIndex, q: Query, k: Int)(leaf: Query => DataFrame = this.leaf(idx, _)): DataFrame =
    idx.run(termRequest(q, k).getOrElse(QueryEngine.Request(QueryEngine.Scored(compose(idx, q)(leaf)), k)))

  /** A term, a boosted term, or a boolean of only those, as one
    * [[QueryEngine.Bool]] request for `k`; None for any other query. */
  private def termRequest(q: Query, k: Int): Option[QueryEngine.Request] = {
    def termLeaf(c: Query): Option[(String, Float)] = c match {
      case TermQ(t) => Some((t, 1f))
      case BoostQ(b, TermQ(t)) => Some((t, b))
      case _ => None
    }
    def termLeaves(cs: Seq[Query]): Option[Seq[(String, Float)]] = {
      val ls = cs.flatMap(termLeaf)
      if (ls.size == cs.size) Some(ls) else None
    }
    q match {
      case BoolQ(must, should, mustNot) =>
        for (m <- termLeaves(must); s <- termLeaves(should); n <- termLeaves(mustNot))
          yield QueryEngine.Request(QueryEngine.Bool(m, s), k, mustNot = n.map(_._1))
      case leaf => termLeaf(leaf).map(l => QueryEngine.Request(QueryEngine.Bool(Nil, Seq(l)), k))
    }
  }

  /** MaxScoreQParser rewrite (reference solr/core/src/java/org/apache/solr/
    * search/MaxScoreQParser.java:34-78): parse exactly like the classic
    * parser, then delegate all top-level SHOULD clauses to ONE
    * DisjunctionMaxQuery with the given tie — only the best optional clause
    * contributes fully, the rest scaled by `tie`. MUST / MUST_NOT clauses
    * pass through as separate boolean clauses (always contribute), and a
    * top-level boost re-wraps the rewritten query. Non-boolean queries are
    * returned unchanged. */
  def maxScoreRewrite(q: Query, tie: Float): Query = q match {
    case BoostQ(b, inner) => BoostQ(b, maxScoreRewrite(inner, tie))
    case BoolQ(must, should, mustNot) if should.nonEmpty =>
      BoolQ(must, Seq(DisMaxQ(should, tie)), mustNot)
    case other => other
  }

  /** Parse + rank under the MaxScore rewrite (Solr `{!maxscore tie=...}`). */
  def searchMaxScore(idx: OpenIndex, query: String, k: Int, tie: Float = 0f): DataFrame =
    rank(idx, maxScoreRewrite(QueryParser.parse(query), tie), k)()

  /** GraphTermsQParser (reference solr/core/src/java/org/apache/solr/search/
    * GraphTermsQParserPlugin.java:73-155): constant-score disjunction over
    * the given terms, SKIPPING every term whose document frequency exceeds
    * `maxDocFreq` — the graph-traversal frontier query that refuses to
    * expand through super-nodes. The df probe is a cached termstats lookup
    * (O(#terms), no corpus pass); the surviving terms ride the same pushed
    * dictionary-predicate scan as every multi-term query. */
  def graphTerms(idx: OpenIndex, terms: Seq[String], maxDocFreq: Long): DataFrame = {
    val dfs = QueryEngine.lookupDfs(idx.termstats, terms, Some(idx.dfCache))
    val keep = terms.distinct.filter(t => dfs.get(t).exists(_ <= maxDocFreq))
    if (keep.isEmpty) QueryEngine.noHits(idx.spark)
    else constScore(idx, col("term").isin(keep: _*))
  }

  /** XML query (CoreParser dialect) search: parse via [[XmlParser]] and
    * rank like [[search]]. Span-rooted documents are rejected here — they
    * evaluate over a text column via [[graft.operators.Spans]]. */
  def searchXml(idx: OpenIndex, xml: String, k: Int): DataFrame =
    rank(idx, XmlParser.parseScored(xml), k)()

  /** [[SimpleQueryParser]] dialect search — the lenient end-user surface
    * (never throws on malformed syntax). */
  def searchSimple(idx: OpenIndex, query: String, k: Int,
                   flags: Int = SimpleQueryParser.AllOperators,
                   defaultOperator: String = "should"): DataFrame =
    rank(idx, SimpleQueryParser.parse(query, flags, defaultOperator), k)()

  /**
   * Multi-field search (Lucene per-field inverted indexes): `field:`-scoped
   * clauses route to that field's index; unscoped clauses hit
   * `defaultField`; an unknown field matches nothing (exactly Lucene —
   * a term in an absent field has no postings). docIds are shared across
   * the per-field indexes (same corpus), so boolean composition and
   * scoring work unchanged.
   */
  def searchFielded(idxs: Map[String, OpenIndex], defaultField: String,
                    query: String, k: Int): DataFrame =
    searchFieldedAst(idxs, defaultField, QueryParser.parse(query), k)

  /** [[searchFielded]] over an already-built AST (the local-params
    * dispatcher resolves its own syntax before ranking). */
  def searchFieldedAst(idxs: Map[String, OpenIndex], defaultField: String,
                       ast: Query, k: Int): DataFrame = {
    val default = idxs.getOrElse(defaultField,
      throw new IllegalArgumentException(s"no index for default field '$defaultField'"))
    rank(default, ast, k) {
      case FieldQ(f, inner) =>
        idxs.get(f).map(eval(_, inner)).getOrElse(QueryEngine.noHits(default.spark))
      case q => leaf(default, q)
    }
  }

  /** All matching docs of the parsed query: (docId LONG, score FLOAT). */
  def eval(idx: OpenIndex, q: Query): DataFrame = compose(idx, q)(leaf(idx, _))

  /** The one AST walk: term-leaf booleans run as one kernel request over
    * `idx` (every match, unranked; tombstones and the limit apply once, at
    * the top); Boost, Bool, DisMax and Const compose the frames of the
    * other leaves, which `leaf` resolves. */
  private def compose(idx: OpenIndex, q: Query)(leaf: Query => DataFrame): DataFrame = {
    def ev(q: Query): DataFrame = termRequest(q, QueryEngine.All) match {
      case Some(req) => scoreAll(idx, req)
      case None => composite(q)
    }
    def composite(q: Query): DataFrame = q match {
      // boost multiplies the child's float scores (classic setBoost)
      case BoostQ(b, inner) => ev(inner)
        .select(col("docId"), (col("score") * lit(b)).cast("float").as("score"))
      case BoolQ(must, should, mustNot) => evalBool(idx.spark, ev, must, should, mustNot)
      // DisjunctionMaxQuery (reference search/DisjunctionMaxQuery.java)
      case DisMaxQ(clauses, tie) =>
        require(clauses.nonEmpty, "DisMaxQ needs >= 1 clause")
        clauseParts(ev, clauses).select(col("docId"), QueryEngine.disMaxScore(tie))
      case ConstQ(inner) =>
        ev(inner).select(col("docId")).distinct().withColumn("score", lit(1f))
      case other => leaf(other)
    }
    ev(q)
  }

  /** A leaf over one index (a term leaf is a kernel request of
    * [[compose]]); every match is scored, and tombstones and the limit
    * apply once, at the top. */
  private def leaf(idx: OpenIndex, q: Query): DataFrame = q match {
    // single-index search: a field prefix can only mean the one field
    case FieldQ(_, inner) => eval(idx, inner)
    case MatchAllQ =>
      idx.docstats.select(col("docId")).withColumn("score", lit(1f))
    case PhraseQ(terms, 0) => phraseScores(idx, terms)
    case PhraseQ(terms, slop) => sloppyDocs(idx, terms, slop)
    case PrefixQ(p) =>
      constScore(idx, col("term").startsWith(p))
    case WildcardQ(glob) =>
      constScore(idx, col("term").rlike(TextOps.wildcardToRegex(glob)))
    case FuzzyQ(t, maxEdits) =>
      // gram-pruned expansion (FuzzyTermsEnum analogue): the dictionary
      // probe touches only the word's bigram buckets, never the full vocab
      val expanded = idx.fuzzyExpand(t, maxEdits)
      if (expanded.isEmpty) QueryEngine.noHits(idx.spark)
      else constScore(idx, col("term").isin(expanded: _*))
    case RangeQ(lo, hi, inclusive) =>
      constScore(idx, if (inclusive) col("term") >= lo && col("term") <= hi
                      else col("term") > lo && col("term") < hi)
    case composite => throw new IllegalArgumentException(s"not a leaf query: $composite")
  }

  /** Every match of a planner request over the index, unranked. */
  private def scoreAll(idx: OpenIndex, req: QueryEngine.Request): DataFrame =
    QueryEngine.run(idx.spark, idx.blocks, idx.termstats, idx.stats, req, dfCache = Some(idx.dfCache))

  private def constScore(idx: OpenIndex, termPred: org.apache.spark.sql.Column): DataFrame =
    scoreAll(idx, QueryEngine.Request(QueryEngine.Expanded(termPred), QueryEngine.All))

  /** Exact phrase, BM25-scored with tf = phrase freq; weight = (float) sum
    * of distinct member-term idfs (double accumulation in first-occurrence
    * order). A member term absent from the dictionary -> no match. */
  private def phraseScores(idx: OpenIndex, terms: Seq[String]): DataFrame = {
    val qs = terms.distinct
    val found = QueryEngine.lookupDfs(idx.termstats, qs, Some(idx.dfCache))
    if (found.size < qs.size) return QueryEngine.noHits(idx.spark)
    var w = 0.0
    qs.foreach(t => w += BM25.idf(found(t), idx.stats.docCount).toDouble)
    val scorer = BM25.TermScorer(w.toFloat,
      BM25.normCache(BM25.DefaultK1, BM25.DefaultB,
        BM25.avgFieldLength(idx.stats.sumTotalTermFreq, idx.stats.docCount)))
    QueryEngine.phraseFreqs(idx.positions, terms.map(Seq(_)))
      .join(idx.docstats.select(col("docId"), col("normByte")), "docId")
      .select(col("docId"),
        graft.functions.Bm25Score(col("freq").cast("int"), col("normByte").cast("byte"),
          scorer.weight, scorer.cache).as("score"))
  }

  /** Sloppy phrase over the positions tier (constant score): per doc, one
    * sorted adjusted-position list per slot from [[QueryEngine.phraseFreqs]]'
    * one-shuffle slot grouping; the shared min-range kernels (sweep /
    * repeats-aware DFS) decide the match. */
  private def sloppyDocs(idx: OpenIndex, phrase: Seq[String], slop: Int): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val termIds = phrase.distinct.zipWithIndex.toMap
    val termOfSlot = phrase.map(termIds).toArray
    val hasRepeats = phrase.distinct.size != phrase.size
    QueryEngine.slotPositions(idx.positions, phrase.map(Seq(_)))
      .select(col("docId"),
        array(phrase.indices.map(i => sort_array(col(s"p$i"))): _*).as("qs"))
      .as[(Long, Seq[Seq[Int]])]
      .flatMap { case (docId, lists) =>
        val best =
          if (!hasRepeats) TextOps.minRangeSweep(lists)
          else TextOps.minRangeWithRepeats(lists, termOfSlot, slop)
        if (best <= slop) Iterator.single((docId, 1f)) else Iterator.empty
      }
      .toDF("docId", "score")
  }

  /** Each doc's (clause index, score) parts over the clause frames. */
  private def clauseParts(ev: Query => DataFrame, clauses: Seq[Query]): DataFrame =
    QueryEngine.collectParts(clauses.zipWithIndex.map { case (q, ci) =>
      ev(q).select(col("docId"), lit(ci).as("ci"), col("score"))
    }.reduce(_.unionByName(_)), "ci")

  /**
   * Boolean combination over one clause-parts grouping, as DisMax's. A doc
   * matches with every `must` part and no `mustNot` part (with no must
   * clause, any part left is a `should` part). Score: the must parts and
   * the should parts each summed in clause order as double, the two sums
   * added, cast float. The must sum starts at -0.0, the additive identity,
   * so a lone must part keeps its bits.
   */
  private def evalBool(spark: SparkSession, ev: Query => DataFrame,
                       must: Seq[Query], should: Seq[Query],
                       mustNot: Seq[Query]): DataFrame = {
    if (must.isEmpty && should.isEmpty) return QueryEngine.noHits(spark)
    val (nMust, nShould) = (must.size, should.size)
    def parts(lo: Int, hi: Int) = filter(col("parts"), p => p.getField("ci") >= lo && p.getField("ci") < hi)
    def sum(lo: Int, hi: Int, zero: Double) =
      aggregate(sort_array(parts(lo, hi)), lit(zero), (acc, p) => acc + p.getField("score").cast("double"))
    val mustSum = sum(0, nMust, -0.0)
    val score = if (should.isEmpty) mustSum else mustSum + sum(nMust, nMust + nShould, 0.0)
    clauseParts(ev, must ++ should ++ mustNot)
      .filter(size(parts(0, nMust)) === nMust && !exists(col("parts"), _.getField("ci") >= nMust + nShould))
      .select(col("docId"), score.cast("float").as("score"))
  }
}

package graft.query

import graft.index.{BlockRow, CorpusStats, IndexBuilder, PostingRow}
import graft.codec.PostingsCodec
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64Bitmap

/**
 * BM25 top-k query execution over the packed postings table, mirroring the
 * reference's query lifecycle (SURVEY.md §3.1) Spark-first:
 *
 *  - "rewrite + createWeight" = driver-side: look up per-term stats with a
 *    pushed-down filter on the postings/termstats tables (a few rows), build
 *    [[BM25.TermScorer]]s once, ship them in closures (broadcast stats).
 *  - "per-leaf scorers" = `filter(term IN qs)` on the blocks DataFrame
 *    (Parquet min/max pruning skips non-matching row groups because blocks
 *    are written term-sorted), then the [[Wand]] kernel scores the blocks
 *    doc-at-a-time.
 *  - "leaf slices" = doc-range buckets of one grid ([[Wand.BucketDocs]]
 *    docIds). A multi-term request keys its blocks to buckets, and a
 *    bucket must sit in one task. A `blocks` input whose physical plan
 *    reports one partition already has that: `OpenIndex.warm` caches an
 *    index under one grid slice as that slice ([[Wand.slice]]), and a
 *    filter or map of it keeps the one partition, so they score in place,
 *    with no exchange. Any other input (a larger or unwarmed index, one
 *    segment of a budgeted search, `WithHot`'s union with the hot rows,
 *    time-bucket and search-job blocks) is shuffled on the bucket per
 *    query, inside the kernel. Which of the two runs is read from the
 *    `blocks` plan, not from the request.
 *  - "TopScoreDocCollector + TopDocs.merge" = the kernel's bounded
 *    [[Wand.HitQueue]] per run, merged by orderBy(score DESC, docId ASC)
 *    .limit(k) (Spark's TakeOrderedAndProject) on the driver.
 *  - "block-max WAND" (reference WANDScorer.java:45) = the same kernel with
 *    skipping on. As with Lucene's TOP_SCORES, it is not the caller's
 *    choice: the kernel turns it on whenever it is sound ([[Wand.topK]]).
 *
 * Every scored top-k query is one [[Request]] run by one planner ([[run]],
 * or [[runCounted]] for the top-k + hit count output), like Lucene's
 * IndexSearcher.search(Query, Collector): query type, paging, filters and
 * deletes are request fields, not separate search methods. The planner's
 * stages, each written once:
 *  1. slots — one [[TermInfo]] per term clause, with its occurrence and
 *     boost: through [[plan]], from blended dfs, caller-built, or with the
 *     hot tier's stats merged in; mustNot terms are unscored slots;
 *  2. scores — term requests through the [[Wand]] kernel (the ti-ordered
 *     must and should double sums or DisjunctionMax, top k or every doc),
 *     which also tests mustNot, tombstones and the `after` cursor before a
 *     doc reaches its top-k queue; [[Expanded]] and [[Scored]] frames as
 *     they come;
 *  3. exclusions — an fq DocSet joins after scoring (the kernel then emits
 *     every doc); [[Expanded]] and [[Scored]] frames take mustNot, the fq,
 *     tombstones and the cursor here, in SQL;
 *  4. output — orderBy(score DESC, docId ASC).limit(k), the unbounded score
 *     frame, or the one-job bounded heap + count.
 *
 * Summation contract for multi-term scores: per-term float scores are summed
 * in query-term order as double, cast to float at the end (the reference's
 * DisjunctionSumScorer sums sub-scorer floats into a double).
 */
object QueryEngine {

  sealed trait Mode
  case object Or extends Mode
  case object And extends Mode

  /** A slot's occurrence (Lucene BooleanClause.Occur). */
  sealed trait Occur
  case object Must extends Occur
  case object Should extends Occur
  case object MustNot extends Occur

  /** BooleanQuery.maxClauseCount / IndexSearcher default (reference
    * search/IndexSearcher.java getMaxClauseCount). */
  val MaxClauseCount = 1024

  /** One slot of a term request: a term clause with its scorer, its
    * occurrence and its boost (the part is the float score times the
    * float boost); `ti` orders the combine. A mustNot slot is matched,
    * never scored ([[NotScored]]). */
  final case class TermInfo(term: String, ti: Int, scorer: SimScorer, occur: Occur = Should,
                            boost: Float = 1f)

  /** The scorer of a mustNot slot, which is never called. */
  object NotScored extends SimScorer {
    def score(freq: Float, normByte: Byte): Float = 0f
  }

  /** Per-index term-dictionary memo: term -> Some((df, ttf)) | None (term
    * absent). Lucene keeps the term dictionary hot in memory; here each
    * queried term's stats row is fetched once per index and every later
    * query plans WITHOUT a Spark job — the dominant fixed cost of small
    * top-k queries (one lookup job per query otherwise). Bounded by the
    * number of distinct queried terms. */
  type DfCache = scala.collection.concurrent.Map[String, Option[(Long, Long)]]
  def newDfCache(): DfCache = scala.collection.concurrent.TrieMap.empty

  /** Look up (df, ttf) for the terms, through the memo when one is
    * supplied: the one term-dictionary read. Absent terms are left out. */
  def lookupStats(termstats: DataFrame, terms: Seq[String],
                  dfCache: Option[DfCache]): Map[String, (Long, Long)] = {
    val qs = terms.distinct
    val cached: Map[String, Option[(Long, Long)]] =
      dfCache.map(c => qs.flatMap(t => c.get(t).map(t -> _)).toMap).getOrElse(Map.empty)
    val missing = qs.filterNot(cached.contains)
    val fetched: Map[String, (Long, Long)] =
      if (missing.isEmpty) Map.empty
      else termstats.filter(col("term").isin(missing: _*))
        .select("term", "df", "ttf").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    dfCache.foreach(c => missing.foreach(t => c.update(t, fetched.get(t))))
    cached.collect { case (t, Some(st)) => t -> st } ++ fetched
  }

  /** Look up df for the terms ([[lookupStats]]). */
  def lookupDfs(termstats: DataFrame, terms: Seq[String],
                dfCache: Option[DfCache]): Map[String, Long] =
    lookupStats(termstats, terms, dfCache).map { case (t, (df, _)) => t -> df }

  /** Look up (df, ttf) for query terms and build scorers. Terms absent from
    * the index are dropped (they match nothing). `sim` picks the scoring
    * model (default BM25). */
  def plan(termstats: DataFrame, stats: CorpusStats, terms: Seq[String],
           k1: Float = BM25.DefaultK1, b: Float = BM25.DefaultB, boost: Float = 1f,
           dfCache: Option[DfCache] = None,
           sim: Similarity = null): Seq[TermInfo] = {
    val similarity = if (sim == null) Bm25Sim(k1, b) else sim
    val qs = terms.distinct
    val found = lookupStats(termstats, qs, dfCache)
    qs.zipWithIndex.collect { case (t, i) if found.contains(t) =>
      val (df, ttf) = found(t)
      TermInfo(t, i, similarity.scorer(boost, df, ttf, stats.docCount, stats.sumTotalTermFreq))
    }
  }

  /** The explain path reads BM25 internals (weight, norm cache) and is
    * wired for the default similarity only. */
  private def asBm25(s: SimScorer): BM25.TermScorer = s match {
    case t: BM25.TermScorer => t
    case other => throw new IllegalArgumentException(
      s"this path supports the BM25 similarity only, got ${other.getClass.getSimpleName}")
  }

  /** The one block -> posting decode of the match-only and tf paths
    * (Lucene's PostingsEnum): every (term, docId, tf, normByte) row of the
    * blocks. Callers push their term (or doc-range) filter onto `blocks`
    * first, so only those blocks are read. The scoring kernel ([[Wand]])
    * decodes inline to score as it goes. */
  def postingRows(blocks: Dataset[BlockRow]): Dataset[PostingRow] = {
    import blocks.sparkSession.implicits._
    blocks.flatMap { b =>
      val (docs, tfs) = PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)
      (0 until b.n).iterator.map(i => PostingRow(b.term, docs(i), tfs(i), b.norms(i)))
    }
  }

  /** The empty (docId LONG, score FLOAT) result. */
  def noHits(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("docId"), lit(0f).as("score"))

  /** liveDocs: drop the docIds in the tombstone bitmap `dead` from a
    * docId-keyed frame. Lucene liveDocs semantics — deleted docs leave the
    * results, but collection and term stats still count them until a
    * merge reclaims, so surviving docs' scores are UNCHANGED by a delete. */
  def liveDocs(docs: DataFrame, dead: Option[Roaring64Bitmap]): DataFrame = dead.fold(docs) { bm =>
    docs.filter(udf((d: Long) => !bm.contains(d)).apply(col("docId")))
  }

  /** Where a request's per-doc scores come from (planner stage 1). */
  sealed trait Clauses
  /** Query terms scored through [[plan]] (df memo; `sim` null = BM25):
    * should slots under [[Or]], must slots under [[And]]. */
  final case class Terms(terms: Seq[String], sim: Similarity = null) extends Clauses
  /** A flat BooleanQuery of BM25 term clauses, each (term, boost) one slot
    * in clause order: every `must` clause required, `should` clauses
    * optional (one needed when there is no must); the request's `mustNot`
    * excludes. Its score is the must parts' double sum from -0.0 plus the
    * should parts' from 0.0, cast float ([[Searcher]]'s lowering of a
    * term-leaf boolean). */
  final case class Bool(must: Seq[(String, Float)], should: Seq[(String, Float)]) extends Clauses
  /** BlendedTermQuery (reference lucene/core search/BlendedTermQuery.java:
    * 265-295): the present terms score AS IF they shared one document
    * frequency — df = max over their dfs, ttf = sum (:273-281,
    * adjustFrequencies) — so cross-field/synonym variants with rarer
    * spellings aren't over-rewarded by idf. Each term keeps its own boost.
    * The reference's default DISJUNCTION_MAX_REWRITE is
    * `tieBreaker = Some(0.01f)`; BOOLEAN_REWRITE is the summed combine. */
  final case class Blended(terms: Seq[(String, Float)]) extends Clauses
  /** Caller-built infos: collection stats merged elsewhere (time buckets,
    * one segment of a budgeted search). */
  final case class Infos(infos: Seq[TermInfo]) extends Clauses
  /** The packed index PLUS un-packed HOT posting rows from the streaming
    * sink (IVrixDB's HOT->WARM->COLD search order, reference
    * MultipleBucketsSearchStream — results are independent of arrival
    * order). Collection stats (N, avgdl, df) merge across both tiers before
    * scorer construction, so scores are bit-identical to a from-scratch
    * build over the combined corpus (asserted in tests). `hot` schema:
    * (term, docId, tf, normByte, dl) — StreamOps.hotIndexSink. */
  final case class WithHot(terms: Seq[String], hot: DataFrame) extends Clauses
  /** Multi-term query rewrite (PrefixQuery / WildcardQuery / RegexpQuery /
    * FuzzyQuery / TermInSetQuery — SURVEY §2.3) under the CONSTANT_SCORE
    * rewrite: every doc matching ANY [[expand]]ed term scores 1, so the
    * output order is docId ASC. */
  final case class Expanded(termPred: Column) extends Clauses
  /** A (docId, score) frame the caller already scored (composed boolean
    * evaluation): only the exclusions and the output stage run. */
  final case class Scored(frame: DataFrame) extends Clauses

  /** `k` = [[All]]: the full per-doc score frame, unordered. */
  val All: Int = Int.MaxValue

  /**
   * One scored query. How it is executed (block-max skipping, where the
   * top-k heap sits) is the planner's choice, not a field.
   *
   * @param mode       [[Terms]] only: should ([[Or]]) or must ([[And]]) slots
   * @param mustNot    terms whose docs are excluded (mustNot slots of a
   *                   term request, an anti-join for a frame)
   * @param tieBreaker DisjunctionMax combine with this tie (reference
   *                   search/DisjunctionMaxScorer.java:58-70); None sums
   * @param filter     Solr `fq` DocSet (docId): restricts the match set
   *                   without contributing to scores
   * @param after      searchAfter cursor (score, docId) of the previous
   *                   page's last hit (reference TopScoreDocCollector.java:
   *                   95-160): pages are disjoint and concatenate to one
   *                   big top-k
   */
  final case class Request(clauses: Clauses, k: Int, mode: Mode = Or, mustNot: Seq[String] = Nil,
                           tieBreaker: Option[Float] = None,
                           filter: Option[DataFrame] = None,
                           after: Option[(Float, Long)] = None)

  /** Run a request: (docId LONG, score FLOAT) ordered (score DESC, docId
    * ASC), at most `k` rows — or the unordered frame of every match when
    * `k` is [[All]]. `tombstones` are the live-docs bitmap; `dfCache` the
    * index's term-dictionary memo. */
  def run(spark: SparkSession, blocks: Dataset[BlockRow], termstats: DataFrame, stats: CorpusStats,
          req: Request, tombstones: Option[Roaring64Bitmap] = None,
          dfCache: Option[DfCache] = None): DataFrame =
    termInfos(termstats, stats, req, dfCache) match {
      case None => noHits(spark)
      // a term request with no fq DocSet: the kernel's own heap is the
      // top-k, and it tests mustNot, tombstones and the cursor itself
      case Some(infos) if infos.nonEmpty && req.filter.isEmpty =>
        scoreTerms(spark, blocks, req, infos, tombstones, req.k)
      case Some(infos) =>
        val docs = liveScores(spark, blocks, termstats, req, infos, tombstones)
        if (req.k == All) docs else docs.orderBy(desc("score"), asc("docId")).limit(req.k)
    }

  /** Lucene TotalHits (reference search/TotalHits.java): `value` is the
    * exact hit count when `exact`, else a valid lower bound (the
    * GREATER_THAN_OR_EQUAL_TO relation). */
  final case class TotalHits(value: Long, exact: Boolean)

  /**
   * Top-k AND its TotalHits in ONE job: each partition folds every scored
   * doc through a [[Wand.HitQueue]] plus a counter, and the driver merges
   * the tiny per-partition states through one more (a separate count() job
   * would double the work — search-job previews need both per bucket). Same
   * (score DESC, docId ASC) order as [[run]].
   *
   * TopScoreDocCollector's totalHitsThreshold contract (reference
   * TopScoreDocCollector.java:49-95,233: hits are counted exactly while
   * the count is within the threshold; beyond it the count may degrade to
   * a lower bound). This path skips nothing, so the count `n` is always
   * the exact match count and the bound class follows Lucene's rule:
   * `TotalHits(n, exact = threshold == All || n <= threshold)`.
   */
  def runCounted(spark: SparkSession, blocks: Dataset[BlockRow], termstats: DataFrame,
                 stats: CorpusStats, req: Request,
                 totalHitsThreshold: Int = All): (Seq[(Long, Float)], TotalHits) = {
    termInfos(termstats, stats, req, None) match {
      case None => (Nil, TotalHits(0L, exact = true))
      case Some(infos) =>
        import spark.implicits._
        val k = req.k
        val partials = liveScores(spark, blocks, termstats, req, infos, tombstones = None)
          .as[Wand.Hit]
          .mapPartitions { it =>
            val q = new Wand.HitQueue(k)
            var n = 0L
            it.foreach { h => n += 1; q.offer(h) }
            Iterator.single((n, q.hits))
          }
          .collect()
        val merged = new Wand.HitQueue(k)
        partials.foreach(_._2.foreach(merged.offer))
        val n = partials.iterator.map(_._1).sum
        (merged.hits.map(h => (h.docId, h.score)).toSeq,
          TotalHits(n, exact = totalHitsThreshold == All || n <= totalHitsThreshold))
    }
  }

  /** Stage 1: the request's slots — None when it can match nothing,
    * empty for clauses that carry no term infos. */
  private def termInfos(termstats: DataFrame, stats: CorpusStats, req: Request,
                        dfCache: Option[DfCache]): Option[Seq[TermInfo]] = {
    val (scoring, required) = req.clauses match {
      case Terms(ts, sim) =>
        val infos = plan(termstats, stats, ts, dfCache = dfCache, sim = sim)
        if (req.mode == And) (infos.map(_.copy(occur = Must)), ts.distinct.size) else (infos, 0)
      case Bool(must, should) =>
        val scorers = plan(termstats, stats, (must ++ should).map(_._1), dfCache = dfCache)
          .map(i => i.term -> i.scorer).toMap
        ((must.map((_, Must)) ++ should.map((_, Should))).zipWithIndex.collect {
          case (((t, boost), occur), i) if scorers.contains(t) => TermInfo(t, i, scorers(t), occur, boost)
        }, must.size)
      case Blended(ts) =>
        val found = lookupDfs(termstats, ts.map(_._1), dfCache)
        val present = ts.filter { case (t, _) => found.getOrElse(t, 0L) > 0L }
        lazy val dfBlend = present.map { case (t, _) => found(t) }.max
        (present.zipWithIndex.map { case ((t, boost), i) =>
          TermInfo(t, i, Bm25Sim().scorer(boost, dfBlend, 0L, stats.docCount, stats.sumTotalTermFreq))
        }, 0)
      case Infos(is) => (is, 0)
      case WithHot(ts, hot) =>
        val qs = ts.distinct
        // merged collection stats: hot docs counted once each
        val hr = hot.select("docId", "dl").distinct()
          .agg(count("*"), sum(col("dl").cast("long"))).head()
        val docCount = stats.docCount + hr.getLong(0)
        val sumTtf = stats.sumTotalTermFreq + (if (hr.isNullAt(1)) 0L else hr.getLong(1))
        // merged per-term df
        val mainDf = lookupDfs(termstats, qs, dfCache)
        val hotDf = hot.filter(col("term").isin(qs: _*))
          .groupBy("term").agg(count("*").as("df")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        (qs.zipWithIndex.collect { case (t, i) if mainDf.contains(t) || hotDf.contains(t) =>
          val df = mainDf.getOrElse(t, 0L) + hotDf.getOrElse(t, 0L)
          TermInfo(t, i, BM25.termScorer(1f, BM25.DefaultK1, BM25.DefaultB, df, docCount, sumTtf))
        }, 0)
      case _: Expanded | _: Scored => return Some(Nil)
    }
    if (scoring.isEmpty || scoring.count(_.occur == Must) < required) None
    else {
      val next = scoring.map(_.ti).max + 1
      Some(scoring ++ req.mustNot.distinct.zipWithIndex.map { case (t, i) =>
        TermInfo(t, next + i, NotScored, MustNot)
      })
    }
  }

  /** Stage 2 for term requests: the [[Wand]] kernel over the index blocks
    * — for [[WithHot]] unioned with the hot rows, packed into blocks from
    * the postings sealHot packs, in place (no shuffle). The union's plan
    * reports no single partition, so several slots shuffle it to their
    * buckets. */
  private def scoreTerms(spark: SparkSession, blocks: Dataset[BlockRow], req: Request,
                         infos: Seq[TermInfo], tombstones: Option[Roaring64Bitmap], k: Int): DataFrame = {
    val scored = req.clauses match {
      case WithHot(_, hot) =>
        val rows = IndexBuilder.hotPostingRows(hot.filter(col("term").isin(infos.map(_.term): _*)))
        blocks.unionByName(IndexBuilder.packPartitions(rows))
      case _ => blocks
    }
    Wand.topK(spark, scored, infos, k, req.tieBreaker, tombstones, req.after)
  }

  /** Stages 2-3: every match's score, then the exclusions. */
  private def liveScores(spark: SparkSession, blocks: Dataset[BlockRow], termstats: DataFrame,
                         req: Request, infos: Seq[TermInfo],
                         tombstones: Option[Roaring64Bitmap]): DataFrame = {
    import spark.implicits._
    def filtered(docs: DataFrame) = req.filter.fold(docs)(fq => docs.join(fq, Seq("docId")))
    val combined = req.clauses match {
      case Scored(frame) => frame
      case Expanded(termPred) =>
        matchingDocs(spark, blocks, expand(termstats, termPred)).withColumn("score", lit(1f))
      // the kernel tests mustNot, tombstones and the cursor itself
      case _ => return filtered(scoreTerms(spark, blocks, req, infos, tombstones, All))
    }
    val kept =
      if (req.mustNot.isEmpty) combined
      else combined.join(matchingDocs(spark, blocks, req.mustNot), Seq("docId"), "left_anti")
    // tombstones and the cursor apply BEFORE the limit: afterwards, pages
    // over an index with deletes would under-fill k
    val live = liveDocs(filtered(kept), tombstones)
    req.after.fold(live) { case (score, docId) =>
      live.filter($"score" < score || ($"score" === score && $"docId" > docId))
    }
  }

  /** The composed-query grouping ([[Searcher]]): each doc's (`order`,
    * score) parts as one `parts` list, for Searcher's boolean sums or
    * [[disMaxScore]] to combine in `order` — the SQL twins of the kernel's
    * combines. */
  private[query] def collectParts(scored: DataFrame, order: String): DataFrame =
    scored.groupBy("docId").agg(collect_list(struct(col(order), col("score"))).as("parts"))

  /** DisjunctionMaxScorer.score over the ordered parts: a running float
    * max; the displaced max and every non-max sub-score accumulate into a
    * double; (float)(max + others * tie). */
  private[query] def disMaxScore(tie: Float): Column = {
    def acc(mx: Column, others: Column) = struct(mx.as("mx"), others.as("others"))
    aggregate(
      sort_array(col("parts")),
      acc(lit(0f), lit(0.0d)),
      (a, x) => {
        val (mx, others, s) = (a.getField("mx"), a.getField("others"), x.getField("score"))
        when(s >= mx, acc(s, others + mx.cast("double")))
          .otherwise(acc(mx, others + s.cast("double")))
      },
      a => (a.getField("mx").cast("double") + a.getField("others") * lit(tie.toDouble)).cast("float")
    ).as("score")
  }

  /** Dictionary expansion of a term predicate (a pushed-down filter on the
    * small termstats table), capped at the `cap` highest-df terms
    * (TopTermsRewrite keeps top terms; overflow past [[MaxClauseCount]]
    * raises in the reference — here the cap is applied deterministically). */
  def expand(termstats: DataFrame, termPred: Column, cap: Int = MaxClauseCount): Seq[String] =
    termstats.filter(termPred)
      .orderBy(desc("df"), asc("term")).limit(cap)
      .select("term").collect().map(_.getString(0)).toSeq

  /** Per-doc phrase frequency (number of consecutive-match start positions)
    * over the positions tier; slot i matches any of its terms.
    *
    * ONE shuffle regardless of phrase length: the positions of ALL slots'
    * terms are read in one pruned scan, each occurrence is tagged with the
    * slots its term serves (a tiny broadcast (term, slot) table — a term
    * can serve several slots), and a single groupBy(docId) builds every
    * slot's adjusted-position list as a conditional collect_list. The old
    * shape (per-slot groupBy + N-way join) cost one shuffle per slot —
    * a 5-term phrase on common terms was 5 shuffles + 4 joins. */
  def phraseFreqs(positions: DataFrame, slots: Seq[Seq[String]]): DataFrame = {
    val starts = (1 until slots.length).foldLeft(col("p0")) { (acc, i) =>
      array_intersect(acc, col(s"p$i"))
    }
    slotPositions(positions, slots)
      .select(col("docId"), size(starts).as("freq")).filter(col("freq") > 0)
  }

  /** [[phraseFreqs]]' one-shuffle slot grouping: per doc with every slot
    * present, slot i's adjusted positions (pos - i) as column `p$i`, in no
    * particular order. */
  private[query] def slotPositions(positions: DataFrame, slots: Seq[Seq[String]]): DataFrame = {
    require(slots.nonEmpty && slots.forall(_.nonEmpty))
    val spark = positions.sparkSession
    import spark.implicits._
    val termSlots = slots.zipWithIndex
      .flatMap { case (ts, i) => ts.distinct.map(t => (t, i)) }
    val lookup = broadcast(termSlots.toDF("term", "__slot"))
    val allTerms = termSlots.map(_._1).distinct
    val occ = positions.filter(col("term").isin(allTerms: _*))
      .join(lookup, "term")
      .select(col("docId"), col("__slot"), explode(col("poss")).as("__p"))
    val slotLists = slots.indices.map(i =>
      collect_list(when(col("__slot") === i, col("__p") - i)).as(s"p$i"))
    occ.groupBy("docId").agg(slotLists.head, slotLists.tail: _*)
      .filter(slots.indices.map(i => size(col(s"p$i")) > 0).reduce(_ && _))
  }

  /** docIds matching the terms (Or = any, And = all) as a constant-score
    * filter — the match-only half of a query: field-sorted top-k and
    * facets (the "filter query + sort by doc values" shape), filter
    * DocSets, and with [[expand]]ed terms the constant-score rewrite of
    * [[Expanded]] requests and the parser's multi-term leaves. */
  def matchingDocs(spark: SparkSession, blocks: Dataset[BlockRow],
                   terms: Seq[String], mode: Mode = Or): DataFrame = {
    val qs = terms.distinct
    if (qs.isEmpty) return noHits(spark).select("docId")
    val rows = postingRows(blocks.filter(col("term").isin(qs: _*)))
    mode match {
      case Or  => rows.select("docId").distinct()
      case And => rows.select("term", "docId").distinct().groupBy("docId").agg(count("*").as("__nt"))
        .filter(col("__nt") === qs.size).select("docId")
    }
  }

  /**
   * SynonymQuery top-k (reference search/SynonymQuery.java:50-55,203-217):
   * the synonym terms are scored as ONE pseudo-term — a doc matches if it
   * contains ANY of them, the similarity is invoked a single time on the
   * SUMMED term frequency, and the pseudo-term stats merge as
   * df = max(df_i) (ttf summed — unused by BM25). Per-doc summed tf is an
   * exact integer; the norm byte is per-doc, identical across member terms.
   * Returns (docId, syn_tf, score) ordered (score DESC, docId ASC).
   */
  def synonymTopK(spark: SparkSession, blocks: Dataset[BlockRow], termstats: DataFrame,
                  stats: CorpusStats, synonyms: Seq[String], k: Int,
                  boost: Float = 1f, tombstones: Option[Roaring64Bitmap] = None,
                  dfCache: Option[DfCache] = None): DataFrame = {
    import spark.implicits._
    val qs = synonyms.distinct
    val found = lookupDfs(termstats, qs, dfCache)
    if (found.isEmpty)
      return noHits(spark).select($"docId", lit(0).as("syn_tf"), $"score")
    val scorer = BM25.termScorer(boost, BM25.DefaultK1, BM25.DefaultB,
      found.values.max, stats.docCount, stats.sumTotalTermFreq)
    val grouped = postingRows(blocks.filter($"term".isin(found.keys.toSeq: _*))).groupBy("docId")
      .agg(sum($"tf").cast("int").as("syn_tf"), first($"normByte").as("normByte"))
    // tombstones excluded before the limit (liveDocs; stats unchanged)
    liveDocs(grouped, tombstones)
      .select($"docId", $"syn_tf",
        graft.functions.Bm25Score($"syn_tf", $"normByte".cast("byte"),
          scorer.weight, scorer.cache).as("score"))
      .orderBy(desc("score"), asc("docId")).limit(k)
  }

  /**
   * Score explanation (IndexSearcher.explain / BM25Similarity.explain
   * analogue, reference search/IndexSearcher.java explain +
   * BM25Similarity.java explainScore): one row per query term matching
   * `docId`, carrying every scoring component with the exact arithmetic of
   * the scoring path — so sum(term_score) double-accumulated in ti order,
   * cast float, equals the top-k score bit-for-bit (tested).
   */
  def explain(spark: SparkSession, blocks: Dataset[BlockRow], termstats: DataFrame,
              stats: CorpusStats, terms: Seq[String], docId: Long): DataFrame = {
    import spark.implicits._
    val infos = plan(termstats, stats, terms)
    val byTerm = infos.map(i => i.term -> i).toMap
    val k1 = BM25.DefaultK1
    val b = BM25.DefaultB
    postingRows(blocks.filter($"term".isin(infos.map(_.term): _*) &&
        $"minDoc" <= docId && $"maxDoc" >= docId))
      .filter($"docId" === docId)
      .map { p =>
        val info = byTerm(p.term)
        (p.term, info.ti, p.tf, p.normByte.toInt & 0xFF,
          graft.codec.SmallFloat.byte4ToInt(p.normByte),
          asBm25(info.scorer).weight, k1, b,
          info.scorer.score(p.tf.toFloat, p.normByte))
      }
      .toDF("term", "ti", "tf", "norm_byte", "dl_quantized", "weight", "k1", "b", "term_score")
      .orderBy("ti")
  }

  /**
   * Exact-phrase match over a positions table (docId, term, poss ARRAY<INT>):
   * docs where the terms occur at consecutive positions. Returns docIds.
   * (Reference semantics: ExactPhraseMatcher — SURVEY.md §2.3.)
   */
  def phraseMatch(positions: DataFrame, terms: Seq[String]): DataFrame =
    multiPhraseMatch(positions, terms.map(Seq(_)))

  /**
   * MultiPhraseQuery over the positions table (reference
   * search/MultiPhraseQuery.java:56): slot i matches ANY of its terms, so
   * its candidate positions are the union of the member terms' position
   * arrays (flattened per doc — a position holds one term, no duplicates).
   * Returns docIds with >= 1 consecutive match.
   */
  def multiPhraseMatch(positions: DataFrame, slots: Seq[Seq[String]]): DataFrame =
    phraseFreqs(positions, slots).select("docId")
}

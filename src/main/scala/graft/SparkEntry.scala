package graft

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexStore}
import graft.operators.{Analytics => A, AtomicUpdate, Classify, Dedup, Ltr, MathEval => M, MediaContainers, Monitor, Multimodal, Pipeline => P, Relational => R, ResultClustering, Signatures, Similarity, Spans, TextOps}
import graft.query.QueryEngine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator capability from SURVEY.md §2
  * re-expressed Spark-first; entries with a key in [[oracleSql]] are
  * verified row/hash-identical against DuckDB on the same parquet tables.
  * Float-valued outputs are rounded on BOTH sides so the comparison tests
  * semantics, not libm ulps. Engine-backed queries (ft_engine_*) run the
  * real inverted-index build + postings codec + BM25 top-k pipeline.
  */
object SparkEntry {

  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ------------------------------------------------------------------
  // Real-engine index over the documents table, built once per (session,
  // sf dir). documents.text is all-[a-z0-9 ] so the Lucene-fidelity
  // analyzer and the SQL regex tokenizer produce identical tokens —
  // letting integer outputs of the real codec path be oracle-checked.
  // ------------------------------------------------------------------
  private val idxCache = scala.collection.mutable.Map[(SparkSession, String), IndexStore.OpenIndex]()

  private def docIndex(s: SparkSession, dir: String): IndexStore.OpenIndex = synchronized {
    idxCache.getOrElseUpdate((s, dir), {
      val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
      // session-scoped path: another SparkSession in this JVM must not
      // scrub an index a live cached OpenIndex is still reading
      val idxDir = s"target/docidx/$safe-${java.lang.System.identityHashCode(s)}"
      // scrub any stale index from a previous process before building
      graft.util.Fs.rmTree(idxDir)
      val corpus = rd(s, dir, "documents")
        .select(col("doc_id").as("docId"), col("text").as("content"),
          col("lang"), col("source"))
      IndexStore.build(s, corpus, idxDir, numSegments = 2,
        shufflePartitions = s.conf.get("spark.sql.shuffle.partitions", "32").toInt,
        withPositions = true, docValueCols = Seq("lang", "source"), withOffsets = true)
      IndexStore.OpenIndex(s, idxDir)
    })
  }

  /** The PURE engine top-k path for the benchmark headline: the driver
    * oracle's ft_engine_topk joins the quantized-norm declarative twin to
    * make its scores hash-checkable, which is oracle plumbing, not engine
    * work — the bench must time the codec + scorer + heap path alone. */
  private[graft] def engineTopKBench(s: SparkSession, dir: String): DataFrame =
    docIndex(s, dir).topK(Seq("spark", "query", "join"), 20)

  private val stemIdxCache = scala.collection.mutable.Map[(SparkSession, String), IndexStore.OpenIndex]()

  /** Stop + Porter-stemmed index over the documents table (the
    * EnglishAnalyzer-style configured chain) — queries against it must
    * analyze through the index's persisted chain (OpenIndex.analyzer). */
  private def stemDocIndex(s: SparkSession, dir: String): IndexStore.OpenIndex = synchronized {
    stemIdxCache.getOrElseUpdate((s, dir), {
      val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val idxDir = s"target/stemidx/$safe-${java.lang.System.identityHashCode(s)}"
      graft.util.Fs.rmTree(idxDir)
      val corpus = rd(s, dir, "documents")
        .select(col("doc_id").as("docId"), col("text").as("content"))
      IndexStore.build(s, corpus, idxDir, numSegments = 1,
        shufflePartitions = s.conf.get("spark.sql.shuffle.partitions", "32").toInt,
        analyzer = graft.analysis.AnalyzerChain.english(Stopwords.toSet))
      IndexStore.OpenIndex(s, idxDir)
    })
  }

  private val fidxCache = scala.collection.mutable.Map[(SparkSession, String), Map[String, IndexStore.OpenIndex]]()

  /** Per-field indexes (text + lang) over the documents table. */
  private def docFieldedIndex(s: SparkSession, dir: String): Map[String, IndexStore.OpenIndex] = synchronized {
    fidxCache.getOrElseUpdate((s, dir), {
      val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val idxDir = s"target/docfidx/$safe-${java.lang.System.identityHashCode(s)}"
      graft.util.Fs.rmTree(idxDir)
      val corpus = rd(s, dir, "documents")
        .select(col("doc_id").as("docId"), col("text"), col("lang"))
        // derived short "title" field (first 5 tokens) — the BM25F demo
        // field; deterministic so the DuckDB oracle can mirror it
        .withColumn("title", array_join(slice(TextOps.tokensOf("text"), 1, 5), " "))
      graft.index.FieldedIndex.build(s, corpus, idxDir,
        fields = Seq("text" -> "text", "lang" -> "lang", "title" -> "title"),
        numSegments = 1,
        shufflePartitions = s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      graft.index.FieldedIndex.open(s, idxDir)
    })
  }

  /** Flagship: full engine round-trip on the synthesized source-code corpus
    * (north-rule input shape) — build a segmented index, run a BM25 top-k.
    * Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "target/entry-idx"
    graft.util.Fs.rmTree(dir)
    val withIds = CorpusGen.corpus(spark, 300, 8).toDF()
      .withColumn("docId", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("repo", "path", "commit")).cast("long") - 1)
    IndexStore.build(spark, withIds, dir, numSegments = 2, shufflePartitions = 8)
    IndexStore.OpenIndex(spark, dir).topK(Seq("public", "static", "void"), 10)
  }

  private val Stopwords = Seq("the", "a", "of", "and")
  private val LangMarkers = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "et", "les", "une"))

  /** The planted-neighbor corpus of sim_ann_planted / sim_ivf_planted:
    * (vec_id, embedding) with ten 2x-scaled copies of the `anchor`'s vector
    * planted under the raw ids < 10 shifted by 2,000,000, plus the anchor's
    * vector. Exact-duplicate vectors collapse to one canonical id first —
    * the planted contract (top-k = anchor + the 10 copies) presumes
    * DISTINCT corpus vectors, and a tiled rehearsal corpus carries
    * bit-identical twins that tie at cos 1.0 and win the id tie-break. A
    * group's canonical id is the anchor when the group holds it, else its
    * min id, so the anchor survives whatever ids its twins carry. */
  private def plantedEmbeddings(raw: DataFrame, anchor: Long): (DataFrame, Array[Float]) = {
    val vecs = raw.select("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === anchor).select("embedding").take(1).headOption
      .getOrElse(throw new IllegalStateException(
        s"planted-neighbor query: anchor vec_id $anchor is absent from embeddings"))
      .getSeq[Float](0).toArray
    val canonical = vecs.groupBy("embedding")
      .agg(min_by(col("vec_id"), struct(col("vec_id") =!= anchor, col("vec_id"))).as("vec_id"))
      .select("vec_id", "embedding")
    val qScaled = array(q.toIndexedSeq.map(v => lit(v * 2.0f)): _*)
    val planted = vecs.filter(col("vec_id") < 10)
      .select((col("vec_id") + 2000000).as("vec_id"), qScaled.as("embedding"))
    (canonical.unionByName(planted), q)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregation / rollup / facet (SURVEY §2.4-2.5) ----
    "q1_agg" -> ((s, d) => R.rollup(rd(s, d, "lineitem"),
      Seq("l_returnflag", "l_linestatus"),
      round(sum("l_quantity"), 2).as("sum_qty"),
      round(sum("l_extendedprice"), 2).as("sum_price"),
      round(avg("l_quantity"), 4).as("avg_qty"),
      count("*").as("cnt"))),

    "q10_cube" -> ((s, d) => rd(s, d, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping("l_returnflag").cast("int").as("grp_rf"),
        grouping("l_linestatus").cast("int").as("grp_ls"),
        count("*").as("cnt"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "grp_rf", "grp_ls", "cnt", "sum_qty")),

    "q11_having" -> ((s, d) => R.having(
      R.rollup(rd(s, d, "lineitem"), Seq("l_suppkey"),
        round(sum("l_quantity"), 2).as("sum_qty")),
      col("sum_qty") > 300)),

    "q14_stats" -> ((s, d) => R.stats(rd(s, d, "lineitem"),
      count("*").as("n"),
      countDistinct("l_partkey").as("n_parts"),
      round(avg("l_quantity"), 4).as("avg_qty"),
      round(stddev_samp("l_quantity"), 4).as("std_qty"),
      round(var_samp("l_quantity"), 4).as("var_qty"),
      round(sum(col("l_quantity") * col("l_quantity")), 2).as("sumsq_qty"),
      round(expr("percentile(l_quantity, 0.5)"), 4).as("med_qty"))),

    "q17_percentile" -> ((s, d) => rd(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))),

    // Mergeable-sketch percentile twin (the reference's PercentileAgg ships
    // t-digest — the SCALE default; the exact sort-based `percentile` above
    // stays as the oracle query only). Approximate by design, so the oracle
    // checks a TOLERANCE BAND, not the value: the Spark side computes both
    // the sketch and the exact percentile and emits whether the sketch is
    // within 1% relative error; the oracle expects `true` for every group —
    // sketch drift now hash-mismatches instead of hiding in a rows-only row.
    "q67_percentile_sketch" -> ((s, d) => rd(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(2500)).as("__a50"),
        percentile_approx(col("l_extendedprice"), lit(0.9), lit(2500)).as("__a90"),
        expr("percentile(l_extendedprice, 0.5)").as("__e50"),
        expr("percentile(l_extendedprice, 0.9)").as("__e90"))
      .select(col("l_returnflag"),
        (abs(col("__a50") - col("__e50")) <= col("__e50") * 0.01).as("p50_ok"),
        (abs(col("__a90") - col("__e90")) <= col("__e90") * 0.01).as("p90_ok"))),

    // statistical evaluator family (Solr streaming-expression stats/regress
    // evaluators): correlation, covariance, higher moments, OLS line
    "q47_statfuncs" -> ((s, d) => rd(s, d, "lineitem")
      .agg(round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qp"),
        round(covar_samp("l_quantity", "l_extendedprice"), 4).as("covar_qp"),
        round(skewness("l_quantity"), 6).as("skew_q"),
        round(kurtosis("l_quantity"), 6).as("kurt_q"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"))),

    // field collapse (CollapsingQParserPlugin): best-scoring doc per source
    // for a BM25 query, with the collapsed group size
    "q51_collapse" -> ((s, d) => R.collapseOn(
      TextOps.bm25All(rd(s, d, "documents"), "doc_id", "text",
          Seq("spark", "query", "join"))
        .join(rd(s, d, "documents").select("doc_id", "source"), "doc_id"),
      "source", "score", "doc_id")),

    // re-ranking (ReRankQParserPlugin / QueryRescorer): top-50 of the main
    // query re-scored by a weighted second query
    "q52_rerank" -> ((s, d) => TextOps.reRank(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query"), Seq("join", "data"),
      reRankDocs = 50, weight = 2.0)),

    // two-level pivot facet (facet.pivot=lang,source, facet.limit 3/2)
    "q53_pivot" -> ((s, d) => R.facetPivot(rd(s, d, "documents"),
      "lang", "source", topA = 3, topBPerA = 2)),

    // query elevation (QueryElevationComponent): docs 7 and 3 pinned in
    // that order, doc 11 excluded; unmatched pins inserted at score 0
    "q54_elevate" -> ((s, d) => TextOps.elevate(
      TextOps.bm25All(rd(s, d, "documents"), "doc_id", "text",
        Seq("spark", "query")),
      "doc_id", pinned = Seq(7L, 3L), excluded = Seq(11L))),

    // graph streaming expressions over a deterministic doc-id DAG
    // (src -> src+3 and src -> src*2, targets clipped to existing ids)
    "q56_gather" -> ((s, d) => R.gatherNodes(
      graphEdges(rd(s, d, "documents")), "src", "dst",
      seeds = Seq(1L), hops = 3)),

    "q57_shortest" -> ((s, d) => R.shortestPaths(
      graphEdges(rd(s, d, "documents")), "src", "dst",
      from = 1L, to = 20L, maxDepth = 6)),

    // function-score boost (FunctionScoreQuery.boostByValue): BM25 score
    // scaled by a reciprocal doc-length feature (recip-style recency shape)
    "q55_boost" -> ((s, d) => TextOps.boostByValue(
      TextOps.bm25All(rd(s, d, "documents"), "doc_id", "text",
        Seq("spark", "join")),
      "doc_id",
      rd(s, d, "documents").select(col("doc_id"),
        round(lit(1000.0) / (col("n_chars") + 1000.0), 6).as("boost")),
      "boost")),

    // ---- joins (SURVEY §2.4) ----
    "q2_join_inner" -> ((s, d) => R.innerJoin(
        rd(s, d, "orders"), rd(s, d, "customer").withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count("*").as("n_orders"), round(sum("o_totalprice"), 2).as("total"))),

    "q3_join_broadcast" -> ((s, d) => R.hashJoin(
        rd(s, d, "lineitem"), rd(s, d, "part").withColumnRenamed("p_partkey", "l_partkey"),
        Seq("l_partkey"))
      .groupBy("p_brand")
      .agg(count("*").as("n"), round(sum("l_quantity"), 2).as("qty"))),

    "q4_join_left_outer" -> ((s, d) => R.leftOuterJoin(
        rd(s, d, "customer").select(col("c_custkey").as("o_custkey")),
        rd(s, d, "orders"), Seq("o_custkey"))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count("o_orderkey").as("n_orders"))
      .select("c_custkey", "n_orders")),

    "q5_semi_join" -> ((s, d) => R.intersectOn(
      rd(s, d, "customer").select(col("c_custkey").as("o_custkey")),
      rd(s, d, "orders").filter(col("o_orderstatus") === "F"),
      Seq("o_custkey")).select(col("o_custkey").as("c_custkey"))),

    "q6_anti_join" -> ((s, d) => R.complementOn(
      rd(s, d, "customer").select(col("c_custkey").as("o_custkey")),
      rd(s, d, "orders"),
      Seq("o_custkey")).select(col("o_custkey").as("c_custkey"))),

    // parent/child block join (ToParentBlockJoinQuery analogue): parents
    // (orders) where >=1 child (lineitem) matches a predicate, with child
    // match counts — child-side filter first, then groupBy parent key
    "q41_parent_child" -> ((s, d) => {
      val children = rd(s, d, "lineitem").filter(col("l_quantity") >= 45)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count("*").as("n_matching_children"))
      R.innerJoin(rd(s, d, "orders").select("o_orderkey", "o_orderstatus"),
        children, Seq("o_orderkey"))
    }),

    // block-join ScoreMode.Max (ToParentBlockJoinQuery): parent score =
    // max matching-child score — exact doubles, no rounding needed
    "q48_blockjoin_max" -> ((s, d) => R.parentBlockJoin(
      rd(s, d, "orders").select("o_orderkey", "o_orderstatus"),
      rd(s, d, "lineitem").filter(col("l_quantity") >= 45),
      "o_orderkey", "l_orderkey", "l_extendedprice", "max")),

    // block-join ScoreMode.Avg: parent score = mean matching-child score
    // (round 5 — double partial-sum order differs across engines)
    // [child] doc transformer: parents carry their first-3 matching
    // children (child-id order) + the unlimited numFound
    "tr_child" -> ((s, d) => R.childDocTransformer(
        rd(s, d, "orders").select("o_orderkey", "o_orderstatus"),
        rd(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        "o_orderkey", "l_orderkey", "l_linenumber",
        childFilter = Some(col("l_quantity") >= 25), limit = 3)
      .select(col("o_orderkey"), col("o_orderstatus"),
        concat_ws(",", col("child_ids")).as("child_ids"),
        col("child_numfound"))),

    // [subquery] response transformer: per result doc, a named ordered doc
    // list from a parameterized sub-query ({!terms f=s_nationkey
    // v=$row.c_nationkey} with its own sort/rows/fq) — one equi-join, no
    // per-doc loop
    "tr_subquery" -> ((s, d) => R.subqueryTransformer(
        rd(s, d, "customer").select("c_custkey", "c_nationkey"),
        "c_custkey", "c_nationkey",
        rd(s, d, "supplier").select("s_suppkey", "s_nationkey", "s_acctbal"),
        "s_nationkey", "s_suppkey",
        sortBy = Seq(col("s_acctbal").desc, col("s_suppkey").asc), rows = 3,
        subFilter = Some(col("s_acctbal") >= 0), name = "sup")
      .select(col("c_custkey"), col("c_nationkey"),
        concat_ws(",", col("sup_ids")).as("sup_ids"),
        col("sup_numfound"))),

    "q49_blockjoin_avg" -> ((s, d) => R.parentBlockJoin(
        rd(s, d, "orders").select("o_orderkey"),
        rd(s, d, "lineitem").filter(col("l_quantity") >= 45),
        "o_orderkey", "l_orderkey", "l_extendedprice", "avg")
      .select(col("o_orderkey"), round(col("score"), 5).as("score"),
        col("n_matching_children"))),

    // ToChildBlockJoin: the parent query (high-value orders, score =
    // o_totalprice) fans out to its lineitem children, each child carrying
    // exactly its parent's score
    "q65_tochild" -> ((s, d) => R.toChildBlockJoin(
      rd(s, d, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("score")),
      rd(s, d, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("line_id"),
        col("l_orderkey")),
      "o_orderkey", "l_orderkey")),

    "q22_fetch" -> ((s, d) => {
      val ev = rd(s, d, "events")
      val dim = ev.groupBy("user_id").agg(count("*").as("n_events"))
      R.fetch(ev.filter(col("event_id") < 1000).select("event_id", "user_id"),
        dim, Seq("user_id"))
    }),

    // ---- sort / top / distinct / merge / reduce / window ----
    "q7_topk" -> ((s, d) => R.rank(rd(s, d, "orders")
      .select("o_orderkey", "o_totalprice"), 100,
      desc("o_totalprice"), asc("o_orderkey"))),

    "q8_distinct" -> ((s, d) => R.distinctOn(rd(s, d, "lineitem"),
      "l_returnflag", "l_linestatus")),

    "q18_merge" -> ((s, d) => {
      val o = rd(s, d, "orders")
      R.mergeSorted(Seq(asc("o_orderdate"), asc("o_orderkey")),
        o.filter(col("o_orderstatus") === "F"),
        o.filter(col("o_orderstatus") === "O"))
        .select(col("o_orderkey"), col("o_orderdate").cast("string").as("od"))
        .limit(200)
    }),

    "q19_reduce" -> ((s, d) => rd(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(concat_ws(",", array_sort(collect_set("l_linestatus"))).as("statuses"))),

    "q15_grouping_top2" -> ((s, d) => R.topPerGroup(
      rd(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), Seq(desc("o_totalprice"), asc("o_orderkey")), 2)
      .select("o_custkey", "o_orderkey", "rn")),

    // ---- unnest / select-evaluators / field extraction ----
    "q9_unnest" -> ((s, d) => R.cartesianProduct(
      rd(s, d, "documents").filter(col("doc_id") < 20),
      TextOps.tokensOf("text"), "tok").select("doc_id", "tok")),

    "q12_select_funcs" -> ((s, d) => rd(s, d, "lineitem")
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_quantity")), 6).as("r1"),
        round(log(col("l_extendedprice")), 6).as("r2"),
        round(pow(col("l_discount") + 1, 2), 6).as("r3"),
        concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("s"),
        upper(col("l_linestatus")).as("u"),
        length(col("l_returnflag")).as("len"))),

    "q29_stfe" -> ((s, d) => rd(s, d, "events")
      .withColumn("k_val", TextOps.extractField(col("props"), "k"))
      .groupBy("event_type")
      .agg(count("*").as("n"), sum("k_val").as("sum_k"))),

    // dynamic timeline: auto-gap from a ladder so bucket count <= 300
    // (IVrixDB DynamicTimeline); 30-day span -> 3h buckets, epoch-aligned
    "q39_dyn_timeline" -> ((s, d) => graft.streaming.StreamOps
      .dynamicTimeline(rd(s, d, "events"), "ts", maxBuckets = 300)),

    // salted two-phase aggregation (skew defusal made explicit): results
    // must equal the plain groupBy — THAT is the oracle
    "q40_salted" -> ((s, d) => R.saltedRollup(rd(s, d, "lineitem"),
      Seq("l_returnflag"), salts = 16,
      sumCols = Seq("l_quantity"), countAs = Some("cnt"))
      .select(col("l_returnflag"), round(col("sum_l_quantity"), 2).as("sum_qty"), col("cnt"))),

    // ---- time series / date math (SURVEY §2.4 timeseries, §2.6 datemath) ----
    "q13_timeseries" -> ((s, d) => rd(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).cast("string").as("bucket"), col("event_type"))
      .agg(count("*").as("cnt"), round(sum("value"), 2).as("sum_value"))),

    "q28_datemath" -> ((s, d) => {
      val ev = rd(s, d, "events")
      val mx = ev.agg(date_trunc("day", max(col("ts"))).as("d0"))
      ev.crossJoin(broadcast(mx))
        .filter(col("ts") >= col("d0") - expr("INTERVAL 7 DAYS"))
        .groupBy("event_type").agg(count("*").as("n"))
    }),

    // ---- range / multi-term expansion (PointRangeQuery, PrefixQuery,
    //      RegexpQuery, FuzzyQuery, TermInSetQuery) ----
    "q23_range" -> ((s, d) => rd(s, d, "lineitem")
      .filter(col("l_shipdate").between("1996-01-01", "1996-12-31 23:59:59") &&
        col("l_quantity").between(10, 20))
      .groupBy("l_returnflag")
      .agg(count("*").as("n"), round(sum("l_extendedprice"), 2).as("rev"))),

    "q24_prefix" -> ((s, d) => TextOps.expandTerms(rd(s, d, "documents"),
      "doc_id", "text", t => t.startsWith("s"))),

    "q25_regex" -> ((s, d) => TextOps.expandTerms(rd(s, d, "documents"),
      "doc_id", "text", t => t.rlike("^[a-z]*o[a-z]*r$"))),

    "q26_fuzzy" -> ((s, d) => TextOps.expandTerms(rd(s, d, "documents"),
      "doc_id", "text", t => levenshtein(t, lit("spark")) <= 1)),

    "q27_termset" -> ((s, d) => TextOps.expandTerms(rd(s, d, "documents"),
      "doc_id", "text", t => t.isin("spark", "query", "join", "data"))),

    // WildcardQuery: glob -> anchored regex (WildcardQuery.java:42)
    "q44_wildcard" -> ((s, d) => TextOps.expandTerms(rd(s, d, "documents"),
      "doc_id", "text", t => t.rlike(TextOps.wildcardToRegex("s?a*")))),

    // TermRangeQuery: lexicographic dictionary range (TermRangeQuery.java:41)
    "q45_termrange" -> ((s, d) => TextOps.expandTerms(rd(s, d, "documents"),
      "doc_id", "text", t => t >= "m" && t < "q")),

    // ---- fulltext scoring: declarative BM25 / boolean / phrase / dismax ----
    "ft_bm25_or" -> ((s, d) => TextOps.bm25All(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query", "join"))),

    "ft_bm25_and" -> ((s, d) => TextOps.bm25All(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "data"), mode = QueryEngine.And)),

    "ft_bm25_not" -> ((s, d) => TextOps.bm25All(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query"), mustNot = Seq("slow"))),

    "ft_phrase" -> ((s, d) => TextOps.phraseMatch(rd(s, d, "documents"),
      "doc_id", "text", Seq("data", "group"))),

    "ft_reqopt" -> ((s, d) => TextOps.bm25ReqOpt(rd(s, d, "documents"),
      "doc_id", "text", required = Seq("spark"), optional = Seq("query", "join"))),

    // CommonTermsQuery: df-split query-time stop-wording — 'dup' (df≈5% of
    // docs) is the required low-frequency term; 'the'/'scan' (df≈80%) only
    // add score. The oracle hardcodes the split (deterministic corpus).
    "ft_commonterms" -> ((s, d) => TextOps.commonTerms(rd(s, d, "documents"),
      "doc_id", "text", Seq("dup", "the", "scan"), maxTermFrequency = 0.5)),

    "q20_dismax" -> ((s, d) => TextOps.disjunctionMax(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query", "data"), 0.1)),

    "q21_msm" -> ((s, d) => TextOps.minShouldMatch(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query", "join"), 2)),

    "q16_sig_terms" -> ((s, d) => {
      // fg (en docs) is a SUBSET of bg (all docs): one tokenization pass,
      // one shuffle with conditional counts — the generic two-table
      // significantTerms tokenized the corpus twice and joined
      val docs = rd(s, d, "documents")
      val tok = docs.select(col("lang"),
        explode(TextOps.tokensOf("text")).as("tok"))
      R.significantTermsSubset(tok, col("lang") === "en", "tok", minDf = 5)
        .select(col("tok").as("term"), col("fg").as("fg_count"),
          col("bg").as("bg_count"), round(col("score"), 5).as("score"))
    }),

    // ---- the real engine: codec + segmented store + BM25 (integer-exact
    //      outputs oracle-checked; scores covered by ScalaTest goldens) ----
    "ft_engine_tf" -> ((s, d) => docIndex(s, d).postings("spark")
      .select(col("docId").as("doc_id"), col("tf"))),

    "ft_engine_and" -> ((s, d) => docIndex(s, d)
      .topK(Seq("spark", "query"), 1000000, QueryEngine.And)
      .select(col("docId").as("doc_id"))),

    // flagship BM25 top-k: the ENGINE ranks (codec decode + float scorer +
    // bounded heaps); the output scores come from the quantized-norm
    // declarative twin (same formula as the derived oracle SQL, double
    // arithmetic) so the driver hash-checks the engine's top-20 doc SET
    // and its scores to 5 decimals — engine float scores stay bit-exact
    // spec-tested in EngineSpec
    "ft_engine_topk" -> ((s, d) => {
      val hits = docIndex(s, d).topK(Seq("spark", "query", "join"), 20)
        .select(col("docId").as("doc_id"))
      hits.join(TextOps.bm25QuantizedNorms(rd(s, d, "documents"),
        "doc_id", "text", Seq("spark", "query", "join")), "doc_id")
    }),

    "ft_engine_phrase" -> ((s, d) => docIndex(s, d)
      .phrase(Seq("data", "group")).select(col("docId").as("doc_id"))),

    // BM25F combined-field top-k (sandbox BM25FQuery): title (first 5
    // tokens, weight 2) + body (weight 1) blend into ONE pseudo-term —
    // engine ranks over the per-field indexes (float-exact, Bm25FSpec),
    // output scores from the quantized declarative twin so the driver
    // hash-checks set AND scores (the ft_engine_topk pattern)
    "ft_bm25f" -> ((s, d) => {
      val idxs = docFieldedIndex(s, d)
      val hits = graft.query.Bm25F.topK(
        Seq(idxs("title") -> 2f, idxs("text") -> 1f), Seq("spark", "query"), 20)
        .select(col("docId").as("doc_id"))
      val docs = rd(s, d, "documents")
        .withColumn("title", array_join(slice(TextOps.tokensOf("text"), 1, 5), " "))
      hits.join(TextOps.bm25fQuantized(docs, "doc_id",
        Seq("title" -> 2.0, "text" -> 1.0), Seq("spark", "query")), "doc_id")
    }),

    "ft_engine_prefix" -> ((s, d) => docIndex(s, d)
      .run(QueryEngine.Request(QueryEngine.Expanded(col("term").startsWith("s")), 1000000))
      .select(col("docId").as("doc_id"))),

    // the block-max WAND battery entry: the planner skips blocks on its
    // own, so this is ft_engine_topk's query under its own name
    "ft_engine_wand" -> ((s, d) => {
      val hits = docIndex(s, d).topK(Seq("spark", "query", "join"), 20)
        .select(col("docId").as("doc_id"))
      hits.join(TextOps.bm25QuantizedNorms(rd(s, d, "documents"),
        "doc_id", "text", Seq("spark", "query", "join")), "doc_id")
    }),

    // engine SynonymQuery: match-any + summed tf through the real codec
    // path (integer-exact outputs; the float score column is dropped for
    // the oracle — score identity is asserted in ScoringSemanticsSpec)
    "ft_engine_synonym" -> ((s, d) => docIndex(s, d)
      .synonymTopK(Seq("spark", "query"), 1000000)
      .select(col("docId").as("doc_id"), col("syn_tf").cast("long").as("syn_tf"))),

    // engine MultiPhraseQuery over the stored positions tier
    "ft_engine_multiphrase" -> ((s, d) => docIndex(s, d)
      .multiPhrase(Seq(Seq("spark", "data"), Seq("group")))
      .select(col("docId").as("doc_id"))),

    // TermAutomatonQuery (sandbox graph phrase): data → (group | hash) —
    // freq counts accept events of the intersected automaton, integer-exact
    // (float score spec-tested in TermAutomatonSpec)
    "ft_automaton_syn" -> ((s, d) => {
      val b = new graft.query.TermAutomaton.Builder
      val q0 = b.createState(); val q1 = b.createState(); val q2 = b.createState()
      b.setAccept(q2, true)
      b.addTransition(q0, q1, "data")
      b.addTransition(q1, q2, "group")
      b.addTransition(q1, q2, "hash")
      graft.query.TermAutomaton.matches(docIndex(s, d), b.finish())
        .select(col("docId").as("doc_id"), col("freq"))
    }),

    // graph phrase with an ANY gap (data · ? · group): thread counting
    // follows the reference scorer exactly (incl. its double-count when
    // the gap holds a query term — TermAutomatonSpec pins that contract),
    // so the row is rows-only; the ANY-free twin above is the hard oracle
    "ft_automaton_any" -> ((s, d) => {
      val b = new graft.query.TermAutomaton.Builder
      val q0 = b.createState(); val q1 = b.createState()
      val q2 = b.createState(); val q3 = b.createState()
      b.setAccept(q3, true)
      b.addTransition(q0, q1, "data")
      b.addAnyTransition(q1, q2)
      b.addTransition(q2, q3, "group")
      graft.query.TermAutomaton.matches(docIndex(s, d), b.finish())
        .select(col("docId").as("doc_id"), col("freq"))
    }),

    // ComplexPhraseQueryParser: group + wildcard slots inside a phrase
    "ft_engine_cphrase" -> ((s, d) => docIndex(s, d)
      .complexPhrase("(spark hash) jo*")
      .select(col("docId").as("doc_id"))),

    // engine WildcardQuery against the dictionary (constant-score union)
    "ft_engine_wildcard" -> ((s, d) => docIndex(s, d)
      .run(QueryEngine.Request(
        QueryEngine.Expanded(col("term").rlike(TextOps.wildcardToRegex("s?a*"))), 1000000))
      .select(col("docId").as("doc_id"))),

    // CoveringQuery: per-doc DYNAMIC minimum-should-match (1 + doc_id % 3
    // of the 3 query terms must match, each doc judged by its own bar)
    "ft_covering" -> ((s, d) => TextOps.coveringBm25(
      rd(s, d, "documents"), "doc_id", "text", Seq("spark", "query", "data"),
      minMatch = lit(1) + col("doc_id") % 3)),

    // MultiTermQuery SCORING_BOOLEAN_REWRITE: the 'da'-prefix expansion
    // scored through real BM25 (constant-score twin is ft_engine_wildcard)
    "ft_wildcard_scored" -> ((s, d) => TextOps.bm25Expanded(
      rd(s, d, "documents"), "doc_id", "text", col("tok").startsWith("da"))),

    // engine TermRangeQuery against the dictionary
    "ft_engine_termrange" -> ((s, d) => docIndex(s, d)
      .run(QueryEngine.Request(QueryEngine.Expanded(col("term") >= "m" && col("term") < "q"), 1000000))
      .select(col("docId").as("doc_id"))),

    // facet counts over an engine term query's matches (Solr search+facet)
    "ft_engine_facet" -> ((s, d) => docIndex(s, d)
      .facetByField(Seq("spark"), "lang")),

    // PreAnalyzedField ingestion: the corpus re-ships as the reference's
    // pre-analyzed JSON wire format and builds WITHOUT any chain; the
    // term query over that externally-analyzed index must recover the
    // exact match set (bit-identity of scores is PreAnalyzedSpec)
    "ft_preanalyzed" -> ((s, d) => {
      import s.implicits._
      val pre = rd(s, d, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val toks = graft.analysis.Analyzer.analyze(text).map(t =>
            graft.analysis.PreAnalyzed.PreToken(t.term, t.pos, 0, 0, overlap = false))
          (id, graft.analysis.PreAnalyzed.toJson(None, toks))
        }.toDF("docId", "content")
      val safe = d.replaceAll("[^A-Za-z0-9.]", "_")
      val dir = s"target/preidx/$safe-${java.lang.System.identityHashCode(s)}"
      graft.util.Fs.rmTree(dir)
      IndexStore.build(s, pre, dir, numSegments = 1,
        shufflePartitions = s.conf.get("spark.sql.shuffle.partitions", "32").toInt,
        preAnalyzed = true)
      IndexStore.OpenIndex(s, dir).topK(Seq("spark"), 1000000)
        .select(col("docId").as("doc_id"))
    }),

    // DocValuesTermsQuery as an fq over a term query: 'spark' docs whose
    // lang doc-value is en/de — dv IN-set scan, no postings for the filter
    "ft_dv_terms" -> ((s, d) => {
      val idx = docIndex(s, d)
      idx.topK(Seq("spark"), 1000000)
        .join(idx.dvInSet("lang", Seq("en", "de")).select("docId"), "docId")
        .select(col("docId").as("doc_id"))
    }),

    // norm() function query (Solr NormValueSourceParser / Lucene norm
    // value source): the SmallFloat-decoded length the scorer actually
    // uses, straight from the engine's norm byte
    "ft_func_norm" -> ((s, d) => {
      import s.implicits._
      docIndex(s, d).docstats
        .select(col("docId").cast("long"), col("normByte").cast("int"))
        .as[(Long, Int)]
        .map { case (id, nb) =>
          (id, graft.codec.SmallFloat.byte4ToInt(nb.toByte).toLong)
        }
        .toDF("doc_id", "norm_dl")
    }),

    // engine field-sorted top-k over the doc-values tier (SortField /
    // TopFieldCollector): docs containing 'spark', sorted by lang
    "ft_engine_sortfield" -> ((s, d) => docIndex(s, d)
      .topKByField(Seq("spark"), Seq(("lang", true)), 100)
      .select(col("docId").as("doc_id"), col("lang"))),

    // CursorMark deep paging (Solr cursorMark): page 2 of the lang-sorted
    // match set via the opaque totem from page 1 — fresh bounded-heap top-k
    // after the cursor filter, never a sort-and-skip
    "ft_engine_cursor" -> ((s, d) => {
      val idx = docIndex(s, d)
      val (_, mark1) = idx.cursorPage(Seq("spark"), Seq(("lang", true)), 100)
      val (page2, _) = idx.cursorPage(Seq("spark"), Seq(("lang", true)), 100, mark1)
      page2.select(col("docId").as("doc_id"), col("lang"))
    }),

    // passage-ranked highlighting over the offsets tier (UnifiedHighlighter
    // semantics: best-N passages per doc, not the first match) — rank key
    // (match count DESC, passage ASC) and char offsets are integer-exact
    "ft_highlight_passages" -> ((s, d) => docIndex(s, d)
      .highlightPassages(Seq("spark", "query"), window = 16, topPassages = 2)
      .select(col("docId").as("doc_id"), col("passage"),
        col("n_matches").cast("int").as("n_matches"),
        col("char_start"), col("char_end"))),

    // stemmed-index engine query (configured analysis chain: stop + Porter
    // stem): the query text analyzes through the index's OWN persisted
    // chain ("tables" -> "tabl"); per-doc tf of the stem is integer-exact
    // through the codec path, so the chain's full effect on postings is
    // oracle-checkable
    "ft_stemmed_tf" -> ((s, d) => {
      val idx = stemDocIndex(s, d)
      idx.postings(idx.analyzeQuery("tables").head)
        .select(col("docId").as("doc_id"), col("tf"))
    }),

    // stop-filter norm semantics: doc length counts SURVIVING tokens only
    // (stopped tokens excluded from dl, Lucene FieldInvertState.length)
    "ft_stemmed_dl" -> ((s, d) => stemDocIndex(s, d).docstats
      .select(col("docId").as("doc_id"), col("dl"))),

    // dictionary prefix suggester weighted by df (lucene/suggest
    // AnalyzingSuggester capability)
    "ft_engine_suggest" -> ((s, d) => docIndex(s, d).suggest("s", 10)),

    // FuzzySuggester: prefix suggestions tolerating one OSA edit after
    // the first (non-fuzzy) char — "sprak" reaches the spark-prefixed terms
    "ft_engine_suggest_fuzzy" -> ((s, d) =>
      docIndex(s, d).suggestFuzzy("sprak", 10)),

    // spell correction from the dictionary (DirectSpellChecker capability)
    "ft_engine_spell" -> ((s, d) => docIndex(s, d).spellCorrect("spark", 2, 10)
      .select(col("term"), col("dist"), col("df"))),

    // transposition-aware spell (FuzzyQuery's DEFAULT metric): "sprak"
    // reaches "spark" at ONE edit; oracle via DuckDB damerau_levenshtein
    // (full DL == OSA on every distance<=1 set, and this query caps at 1)
    "ft_spell_damerau" -> ((s, d) => docIndex(s, d)
      .spellCorrect("sprak", 1, 10, transpositions = true)
      .select(col("term"), col("dist"), col("df"))),

    // infix suggester (AnalyzingInfixSuggester): dictionary terms
    // containing the query substring anywhere, weighted by df
    "ft_engine_suggest_infix" -> ((s, d) => docIndex(s, d).suggestInfix("ar", 10)),

    // Solr q + fq: 'spark' matches filtered by the cached non-scoring
    // source=src13 DocSet (scores identical to the unfiltered query)
    "ft_engine_fq" -> ((s, d) => docIndex(s, d)
      .topKWithFilter(Seq("spark"), 1000000,
        graft.index.IndexStore.FqDocValue("source", "src13"))
      .select(col("docId").as("doc_id"))),

    // context-filtered completions (ContextQuery/ContextSuggestField):
    // 's'-prefix suggestions restricted to docs from src13 (boost 2) or
    // src7 (boost 1), ranked by the boost-weighted within-context df
    "ft_engine_suggest_ctx" -> ((s, d) => docIndex(s, d)
      .suggestWithContexts("s", 10, "source", Map("src13" -> 2f, "src7" -> 1f))),

    // spell collation (SpellCheckComponent collate=true): per-word best
    // correction + verified hit count of the collated AND query
    "ft_spell_collate" -> ((s, d) => docIndex(s, d)
      .spellCollate(Seq("sprak", "quary"), 2)),

    // term vector of one doc read from the positions tier (TermVectors
    // capability) with the docId predicate pushed into the parquet scan
    "ft_engine_termvec" -> ((s, d) => docIndex(s, d).termVector(7L)),

    // grouped facets (group.facet=true): event_type counts tally DISTINCT
    // users, not events
    "ft_facet_grouped" -> ((s, d) => R.groupedFacet(
      rd(s, d, "events"), "event_type", "user_id")),

    // facet.range with other=all: gap buckets over [0, 500) plus the
    // before/after/between counters Solr always reports
    "ft_facet_range_other" -> ((s, d) => R.rangeFacetWithOther(
      rd(s, d, "documents"), "n_chars", start = 0.0, end = 500.0, gap = 100.0)),

    // TermsComponent: dictionary terms matching a regex in index order
    "ft_engine_terms" -> ((s, d) => docIndex(s, d)
      .termsEnum(regex = Some("^[a-z]{4}$"), limit = 10, sortByCount = false)),

    // interval facet with OVERLAPPING explicit intervals (facet.interval)
    "ft_facet_interval" -> ((s, d) => R.intervalFacet(rd(s, d, "documents"),
      "n_chars", Seq(("short", 0.0, Some(200.0)), ("mid", 150.0, Some(400.0)),
        ("long", 400.0, None)))),

    // hierarchical (taxonomy) facet: every row counts into each prefix of
    // its lang/source path — the whole taxonomy in one pass
    "ft_facet_taxonomy" -> ((s, d) => R.facetTaxonomy(
      rd(s, d, "documents").select(concat_ws("/", col("lang"), col("source")).as("path")),
      "path")),

    // taxonomy drill-down: children one level under 'en'
    "ft_facet_drilldown" -> ((s, d) => R.drillDown(
      rd(s, d, "documents").select(concat_ws("/", col("lang"), col("source")).as("path")),
      "path", "en")),

    // {!frange}: function range filter — compiled expression value gated to
    // [5, 6), constant-score matches
    "q64_frange" -> ((s, d) => graft.functions.JsExpr.frange(
      rd(s, d, "lineitem"), "sqrt(l_quantity) + l_discount * 10",
      l = Some(5.0), u = Some(6.0), incu = false)
      .select((col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("line_id"),
        col("score").cast("double").as("score"))),

    // association facets: per-category SUM of a per-doc association value
    // (n_chars) over the lang/source taxonomy, every level in one pass
    "ft_facet_assoc" -> ((s, d) => R.facetTaxonomySum(
      rd(s, d, "documents").select(
        concat_ws("/", col("lang"), col("source")).as("path"), col("n_chars")),
      "path", "n_chars")),

    // drill-sideways: base query = docs containing 'data'; drilled into
    // lang=en and source=src13 — each dim's counts computed under the OTHER
    // dim's selection only, plus the all-selections hit count, in ONE pass
    "ft_facet_sideways" -> ((s, d) => R.drillSideways(
      rd(s, d, "documents"),
      array_contains(TextOps.tokensOf("text"), "data"),
      Seq(("lang", col("lang") === "en"), ("source", col("source") === "src13")))),

    // JSON Facet API domain changes (FacetRequest.java:237): facet CHILD
    // docs under a parent-query domain — base = orders with two tagged
    // filters, excludeTags drops the price filter, blockChildren switches
    // the domain to the matching orders' lineitems, a domain filter
    // restricts them, and the facet counts l_returnflag
    "ft_facet_domain" -> ((s, d) => R.facetDomain(
      rd(s, d, "orders"),
      Seq(R.TaggedFilter("st", col("o_orderstatus") === "F"),
        R.TaggedFilter("pr", col("o_totalprice") > 150000)),
      Seq(R.DomainExcludeTags(Set("pr")),
        R.DomainBlockChildren(rd(s, d, "lineitem"), "o_orderkey", "l_orderkey"),
        R.DomainFilter(col("l_quantity") >= 30)),
      "l_returnflag")),

    // the mirror: child-query domain switched to DISTINCT parents
    // (blockParent), then filtered and faceted on the parent side
    "ft_facet_domain_parent" -> ((s, d) => R.facetDomain(
      rd(s, d, "lineitem"),
      Seq(R.TaggedFilter("q", col("l_quantity") >= 45)),
      Seq(R.DomainBlockParent(rd(s, d, "orders"), "l_orderkey", "o_orderkey"),
        R.DomainFilter(col("o_totalprice") > 50000)),
      "o_orderstatus")),

    // indexed shapes (LatLonShape): deterministic diamond polygons (one
    // per doc_id) run through the exploded-edge shape machinery; relations
    // vs a query box plus containment of a tiny box. The oracle is
    // INDEPENDENT: a diamond is an L1 ball, so DuckDB computes the same
    // relations in closed form (L1 distance arithmetic), not by the
    // crossing/orientation algorithm under test
    "geo_shapes" -> ((s, d) => {
      val clat = (col("doc_id") * 7 % 140).cast("double") - 70 + 0.5
      val clon = (col("doc_id") * 13 % 340).cast("double") - 170 + 0.5
      val r = lit(0.26) + (col("doc_id") % 5).cast("double") * 0.2
      val verts = array(
        struct((clat + r).as("lat"), clon.as("lon")),
        struct(clat.as("lat"), (clon + r).as("lon")),
        struct((clat - r).as("lat"), clon.as("lon")),
        struct(clat.as("lat"), (clon - r).as("lon")))
      val shapes = rd(s, d, "documents")
        .select(col("doc_id").as("shape_id"), verts.as("verts"))
      val edges = graft.operators.Geo.shapeEdges(shapes, "shape_id", "verts")
      val big = graft.operators.Geo.boxRelations(edges, "shape_id", -10, 10, -20, 20)
      val tiny = graft.operators.Geo.boxRelations(edges, "shape_id", 0.4, 0.6, 0.4, 0.6)
        .select(col("shape_id"), col("contains").as("contains_tiny"))
      big.select(col("shape_id"), col("intersects"), col("within"), col("disjoint"))
        .join(tiny, "shape_id")
    }),

    // shape-vs-shape: the same indexed diamonds against a QUERY POLYGON
    // (diamond centered (0,0), L1 radius 20.3). Oracle: two L1 balls
    // intersect iff the center distance is at most the radius sum, and
    // ball1 lies within ball2 iff center distance + r1 <= r2 — closed
    // forms independent of the crossing/orientation machinery
    "geo_shapes_poly" -> ((s, d) => {
      val clat = (col("doc_id") * 7 % 140).cast("double") - 70 + 0.5
      val clon = (col("doc_id") * 13 % 340).cast("double") - 170 + 0.5
      val r = lit(0.26) + (col("doc_id") % 5).cast("double") * 0.2
      val verts = array(
        struct((clat + r).as("lat"), clon.as("lon")),
        struct(clat.as("lat"), (clon + r).as("lon")),
        struct((clat - r).as("lat"), clon.as("lon")),
        struct(clat.as("lat"), (clon - r).as("lon")))
      val shapes = rd(s, d, "documents")
        .select(col("doc_id").as("shape_id"), verts.as("verts"))
      val qPoly = Seq((20.3, 0.0), (0.0, 20.3), (-20.3, 0.0), (0.0, -20.3))
      graft.operators.Geo.polyRelations(
        graft.operators.Geo.shapeEdges(shapes, "shape_id", "verts"), "shape_id", qPoly)
    }),

    // indexed LINES (open chains) against the same query polygon: each
    // doc contributes a 1-degree vertical polyline; the closed-form L1
    // oracle uses the separable segment-to-center distance
    "geo_lines_poly" -> ((s, d) => {
      val clat = (col("doc_id") * 7 % 140).cast("double") - 70 + 0.5
      val clon = (col("doc_id") * 13 % 340).cast("double") - 170 + 0.5
      val verts = array(
        struct(clat.as("lat"), clon.as("lon")),
        struct((clat + 1.0).as("lat"), clon.as("lon")))
      val lines = rd(s, d, "documents")
        .select(col("doc_id").as("shape_id"), verts.as("verts"))
      val qPoly = Seq((20.3, 0.0), (0.0, 20.3), (-20.3, 0.0), (0.0, -20.3))
      graft.operators.Geo.polyRelations(
        graft.operators.Geo.lineEdges(lines, "shape_id", "verts"), "shape_id", qPoly,
        closed = false)
    }),

    // spatial heatmap facet (facet.heatmap): grid-cell counts over the
    // synthetic lat/lon derived as in q46_geo
    "ft_geo_heatmap" -> ((s, d) => {
      val ev = rd(s, d, "events").select(
        (col("user_id") % 17000 / 100.0 - 85.0).as("lat"),
        (col("user_id") % 35900 / 100.0 - 179.5).as("lon"))
      graft.operators.Geo.heatmap(
        ev.filter(col("lat").between(-85, -65) && col("lon").between(-180, -160)),
        "lat", "lon", latMin = -85.0, lonMin = -180.0, cellDeg = 2.0)
    }),

    // learning-to-rank linear-model rescore of the BM25 top-40 window
    // (Solr LTR plugin: feature extraction + LinearModel re-ranking)
    "ft_ltr" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val first = TextOps.bm25All(docs, "doc_id", "text", Seq("spark", "query", "join"))
      Ltr.rescore(first, "doc_id", "score", docs,
        Seq(("loglen", log(lit(1.0) + col("n_chars"))),
          ("is_en", (col("lang") === "en").cast("int"))),
        Ltr.LinearModel(Seq(("first_pass", 1.0), ("loglen", 0.3), ("is_en", 0.5))),
        n = 40)
    }),

    // snippet highlighter (lucene/highlighter capability): first-match
    // window with <em>-wrapped query terms — fully deterministic built-ins
    "ft_highlight" -> ((s, d) => TextOps.highlight(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query"), 3)),

    // classic query-string parser end to end (QueryParser.java:81):
    // required conjunction with negation — integer-exact docId outputs
    "qp_bool" -> ((s, d) => docIndex(s, d)
      .search("+spark +query -slow", 1000000)
      .select(col("docId").as("doc_id"))),

    // XML query parser (CoreParser dialect): boolean of a dismax must, a
    // constant-score range should (affects scores only), and a mustNot —
    // the match set is (spark OR query) minus slow, oracled as a doc set
    "qp_xml" -> ((s, d) => docIndex(s, d).searchXml(
      """<BooleanQuery>
        |  <Clause occurs="must">
        |    <DisjunctionMaxQuery tieBreaker="0.3">
        |      <TermQuery>spark</TermQuery>
        |      <UserQuery>query</UserQuery>
        |    </DisjunctionMaxQuery>
        |  </Clause>
        |  <Clause occurs="should">
        |    <ConstantScoreQuery boost="0.5">
        |      <RangeQuery lowerTerm="join" upperTerm="joz"/>
        |    </ConstantScoreQuery>
        |  </Clause>
        |  <Clause occurs="mustNot"><TermQuery>slow</TermQuery></Clause>
        |</BooleanQuery>""".stripMargin, 1000000)
      .select(col("docId").as("doc_id"))),

    // XML span tree at the document root: (sort|hash) then merge within 2
    "sp_xml" -> ((s, d) => {
      val parsed = graft.query.XmlParser.parse(
        """<SpanNear slop="2" inOrder="true">
          |  <SpanOrTerms>sort hash</SpanOrTerms>
          |  <SpanTerm>merge</SpanTerm>
          |</SpanNear>""".stripMargin) match {
        case graft.query.XmlParser.Span(q) => q
        case _ => throw new IllegalStateException("expected a span root")
      }
      Spans.matchingDocs(rd(s, d, "documents"), "doc_id", "text", parsed)
    }),

    // SimpleQueryParser dialect: infix +/| with op-change grouping —
    // `data + group | quer*` parses as ((data AND group) OR quer*)
    "qp_simple" -> ((s, d) => {
      val idx = docIndex(s, d)
      graft.query.Searcher.searchSimple(idx, "data + group | quer*", 1000000)
        .select(col("docId").as("doc_id"))
    }),

    // surround dialect: prefix booleans + ordered distance operator
    // (2w = within ordered distance 2 == SpanNear slop 1)
    "qp_surround" -> ((s, d) => graft.query.SurroundParser.matchingDocs(
      rd(s, d, "documents"), "doc_id", "text",
      "or(and(spark, query), 2w(data, group))")),

    // should-clauses mixing a term with an exact phrase
    "qp_mixed" -> ((s, d) => docIndex(s, d)
      .search("spark \"data group\"", 1000000)
      .select(col("docId").as("doc_id"))),

    // wildcard + term-range leaves composed with AND
    "qp_multiterm" -> ((s, d) => docIndex(s, d)
      .search("+s?a* +[ma TO pz]", 1000000)
      .select(col("docId").as("doc_id"))),

    // multi-field search (Lucene per-field postings): lang-scoped required
    // clause routed to the lang field's index, body term to the text field
    "qp_fielded" -> ((s, d) => graft.index.FieldedIndex.search(
        docFieldedIndex(s, d), "text", "+lang:en +spark query", 1000000)
      .select(col("docId").as("doc_id"))),

    // Solr local-params dispatch: {!bool} with a nested {!term} should
    // clause, a FILTER (non-scoring must), a $deref'd switch — the
    // request-routing surface every Solr query string carries
    "qp_localparams" -> ((s, d) => graft.query.LocalParams.search(
        docFieldedIndex(s, d), "text",
        "{!bool must='spark' filter='{!term f=lang v=en}' must_not='slow'}",
        1000000)
      .select(col("docId").as("doc_id"))),

    "qp_localparams_switch" -> ((s, d) => graft.query.LocalParams.search(
        docFieldedIndex(s, d), "text",
        "{!switch case.fr='{!term f=lang v=fr}' default='{!prefix f=text}quer' v=$route}",
        1000000, request = Map("route" -> "xx"))
      .select(col("docId").as("doc_id"))),

    // JSON Query DSL (JSON Request API): the same bool/term dispatch as
    // qp_localparams expressed in the JSON dialect — must/filter/must_not
    // with a nested term parser object
    "qp_json" -> ((s, d) => graft.query.JsonDsl.search(
        docFieldedIndex(s, d), "text",
        """{"bool": {
          |  "must": ["spark"],
          |  "filter": {"term": {"f": "lang", "query": "en"}},
          |  "must_not": ["slow"]
          |}}""".stripMargin,
        1000000)
      .select(col("docId").as("doc_id"))),

    // ---- Solr named function queries (ValueSourceParser registry ->
    //      query/FuncParser.scala): the fl/sort/bf/boost value-source
    //      dialect compiled to codegen'd Columns, never per-doc callbacks ----

    // arithmetic core: recip/linear/map composed (all IEEE ops, exact parity)
    "fn_math" -> ((s, d) => {
      val c = graft.query.FuncParser.compile(rd(s, d, "events"),
        "sum(recip(value,2,100,5),linear(value,0.5,1),map(value,0,10,0,-1))")
      c.df.select(col("event_id"), round(c.value, 5).as("v"))
    }),

    // scale(): global min/max bounds via a broadcast 1-row aggregate
    "fn_scale" -> ((s, d) => {
      val c = graft.query.FuncParser.compile(rd(s, d, "events"),
        "scale(value,0,100)")
      c.df.select(col("event_id"), round(c.value, 5).as("v"))
    }),

    // strdist edit = 1 - levenshtein/maxlen (jw/ngram are spec-tested —
    // their reference kernels have no SQL twin)
    "fn_strdist" -> ((s, d) => {
      val c = graft.query.FuncParser.compile(rd(s, d, "documents"),
        "strdist(source,'src1',edit)")
      c.df.select(col("doc_id"), round(c.value, 5).as("sim"))
    }),

    // ms() date variants: vd (field minus constant) in integer millis
    "fn_ms" -> ((s, d) => {
      val c = graft.query.FuncParser.compile(rd(s, d, "events"),
        "ms(ts,2024-01-01T00:00:00Z)")
      c.df.select(col("event_id"), c.value.cast("long").as("ms_diff"))
    }),

    // ord/rord: global value ordinals (OrdFieldSource semantics)
    "fn_ord" -> ((s, d) => {
      val FP = graft.query.FuncParser
      val ev = rd(s, d, "events")
      val env = FP.Env(idCol = "event_id")
      val c1 = FP.compile(ev, "ord(event_type)", env)
      val c2 = FP.compile(c1.df, "rord(event_type)", env)
      c2.df.select(col("event_id"), c1.value.as("ordv"), c2.value.as("rordv"))
    }),

    // exists/if/def over a genuinely nullable derivation
    "fn_cond" -> ((s, d) => {
      val ev = rd(s, d, "events")
        .withColumn("v2", when(col("value") > 50, col("value")))
      val c = graft.query.FuncParser.compile(ev,
        "if(exists(v2),linear(v2,2,0),def(v2,-1))")
      c.df.select(col("event_id"), round(c.value, 5).as("v"))
    }),

    // geodist (km): bucketed to 100 km so libm trig ulps can't flip the
    // hash (the same reason q46's oracle folds its bounds to constants)
    "fn_geodist" -> ((s, d) => {
      val ev = rd(s, d, "events").select(col("event_id"),
        ((col("event_id") * 37 % 12000) / 100.0 - 60.0).as("lat"),
        ((col("event_id") * 73 % 30000) / 100.0 - 150.0).as("lon"))
      val c = graft.query.FuncParser.compile(ev,
        "geodist(lat,lon,48.8566,2.3522)")
      c.df.select(floor(c.value / 100.0).cast("long").as("bucket"))
        .groupBy("bucket").agg(count("*").as("n"))
    }),

    // engine-stat functions in the named dialect: termfreq/tf/docfreq/idf
    // (ClassicSimilarity arithmetic) against the committed index stats
    "fn_tfstats" -> ((s, d) => {
      val FP = graft.query.FuncParser
      val env = FP.Env(index = Some(docIndex(s, d)))
      val docs = rd(s, d, "documents")
      val c1 = FP.compile(docs, "termfreq(text,'spark')", env)
      val c2 = FP.compile(c1.df, "sum(tf(text,'spark'),idf(text,'spark'),docfreq(text,'spark'))", env)
      c2.df.select(col("doc_id"), c1.value.cast("long").as("tf_spark"),
        round(c2.value, 5).as("combo"))
    }),

    // query(...) as a value source: sub-query score with a default for
    // non-matches, composed with a field-derived boost
    "fn_query_boost" -> ((s, d) => {
      val FP = graft.query.FuncParser
      val docs = rd(s, d, "documents")
      val env = FP.Env(
        request = Map("qq" -> "spark query"),
        scorer = Some(q => TextOps.bm25All(docs, "doc_id", "text",
          q.split(" ").toSeq)))
      val c = FP.compile(docs, "sum(query($qq,0.1),linear(n_chars,0.001,0))", env)
      c.df.select(col("doc_id"), round(c.value, 5).as("v"))
    }),

    // sort-by-function: Solr's classic recency boost recip(ms(NOW,date),..)
    // — monotone in ms, so order parity is integer-exact; the value itself
    // is pure IEEE arithmetic
    "fn_sort" -> ((s, d) => {
      val FP = graft.query.FuncParser
      val c = FP.compile(rd(s, d, "events"),
        "recip(ms(2024-02-01T00:00:00Z,ts),3.16e-11,1,1)",
        FP.Env(idCol = "event_id"))
      c.df.select(col("event_id"), round(c.value, 7).as("v"))
        .orderBy(desc("v"), asc("event_id")).limit(30)
    }),

    // {!func} local-params dispatch: rank every doc by the value
    "qp_func" -> ((s, d) => graft.query.FuncParser.localParamsSearch(
        rd(s, d, "events"), "{!func}recip(value,1,1000,1000)", 50,
        env = graft.query.FuncParser.Env(idCol = "event_id"))
      .select(col("event_id"), round(col("score"), 5).as("score"))),

    // {!frange} local-params dispatch: function-range filter
    "qp_frange" -> ((s, d) => graft.query.FuncParser.localParamsSearch(
        rd(s, d, "events"), "{!frange l=100 u=200}linear(value,2,0)", 1000000,
        env = graft.query.FuncParser.Env(idCol = "event_id"))),

    // group.func (Solr grouping by a function-query value — reference
    // solr/core search/Grouping.java group-by-valuesource mode): buckets
    // come from the compiled function, top-N per bucket by a field sort
    "qp_group_func" -> ((s, d) => {
      val FP = graft.query.FuncParser
      val c = FP.compile(rd(s, d, "events"),
        "if(lt(value,50),0,if(lt(value,200),1,2))", FP.Env(idCol = "event_id"))
      val keyed = c.df.withColumn("grp", c.value.cast("int"))
      R.topPerGroup(keyed, Seq("grp"), Seq(desc("value"), asc("event_id")), 2)
        .select(col("grp"), col("event_id"), round(col("value"), 5).as("value"),
          col("rn"))
    }),

    // JSON-facet aggregate over a function query (json.facet
    // {x:"min(div(..))"} — FacetRequest agg on a value source): the facet
    // metrics evaluate the compiled function per bucket; min/max/count are
    // order-independent, so the oracle is exact by construction
    "fn_facet_agg" -> ((s, d) => {
      val FP = graft.query.FuncParser
      val c = FP.compile(rd(s, d, "events"), "recip(value,1,100,10)",
        FP.Env(idCol = "event_id"))
      c.df.groupBy("event_type").agg(
        round(min(c.value), 5).as("mn"),
        round(max(c.value), 5).as("mx"),
        count("*").as("n"))
    }),

    // CollationField sorted page: locale-aware order via binary collation
    // keys (accents planted deterministically; at PRIMARY strength the fr
    // collator's order over this vocabulary is provably the fold order the
    // oracle sorts by — accent variants tie and fall to the doc_id break)
    "ft_collation_sort" -> ((s, d) => {
      val docs = rd(s, d, "documents").select(col("doc_id"),
        translate(col("source"), "0123456789", "àbçdéfghïj").as("name"))
      docs.orderBy(graft.functions.CollationKey(col("name"), "fr", "primary"),
          col("doc_id"))
        .limit(100).select("doc_id", "name")
    }),

    // grouped search (lucene/grouping two-pass): top-2 docs per lang for a
    // term query, ranked by tf (integer-exact) with docId tie-break; the
    // engine provides postings, the metadata join provides the group field
    "ft_engine_grouped" -> ((s, d) => {
      val tf = docIndex(s, d).postings("spark")
        .select(col("docId").as("doc_id"), col("tf"))
      val withLang = tf.join(rd(s, d, "documents").select("doc_id", "lang"), "doc_id")
      R.topPerGroup(withLang, Seq("lang"), Seq(desc("tf"), asc("doc_id")), 2)
        .select("lang", "doc_id", "tf", "rn")
    }),

    // ---- more aggregation / query-operator surface ----
    // approx distinct (HLLAgg parity via Spark's HLL++): approximate by
    // design, so no value-equality oracle — rows-only check + ScalaTest
    // bound assertions
    "q30_hll" -> ((s, d) => rd(s, d, "events")
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id").as("approx_users"))),

    // HLL with numeric teeth: per-group check that the HLL++ estimate is
    // within ±2% of the exact distinct count (default rsd 0.05 ⇒ near-exact
    // at these cardinalities via the sparse/linear-counting regime). The
    // oracle expects every group `true`, so a sketch regression fails the
    // hash check — this closes q30_hll's permanent rows-only blind spot.
    // rsd 0.005 (not the 0.05 default): the 2% oracle band must hold at
    // ANY cardinality — the sf1 rehearsal showed the default sketch's 5%
    // relative error exceeding the band once user_id cardinality grew 10x
    "q68_hll_bound" -> ((s, d) => rd(s, d, "events")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.005).as("__a"),
        countDistinct("user_id").as("__e"))
      .select(col("event_type"),
        (abs(col("__a") - col("__e")).cast("double") <= col("__e") * 0.02).as("hll_ok"))),

    // IVrixDB topValues field summary: top values with counts + percentages.
    // The total is a broadcast single-row agg INSIDE the plan (same pattern
    // as significantTerms) — no eager count() job at plan construction.
    "q31_topvalues" -> ((s, d) => {
      val ev = rd(s, d, "events")
      val total = ev.agg(count("*").as("__n"))
      ev.groupBy(col("event_type").as("value"))
        .agg(count("*").as("cnt"))
        .crossJoin(broadcast(total))
        .withColumn("pct", round(col("cnt") / col("__n"), 5))
        .drop("__n")
        .orderBy(desc("cnt"), asc("value")).limit(10)
    }),

    // SynonymQuery match + summed tf (integer-exact); the reference
    // SCORING semantics (df = max member df, similarity invoked once on
    // the summed tf) are q34_synonym_bm25 / ft_engine_synonym below
    "q32_synonym" -> ((s, d) => TextOps.termFreqs(rd(s, d, "documents"), "doc_id", "text")
      .filter(col("tok").isin("spark", "query"))
      .groupBy("doc_id")
      .agg(sum("tf").cast("long").as("syn_tf"))),

    // SynonymQuery scored exactly as the reference does (SynonymQuery.java:
    // 50-55,203-217): one pseudo-term, df = max(df_i), summed tf
    "q34_synonym_bm25" -> ((s, d) => TextOps.synonymBm25(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query"))),

    // DisjunctionMax over real per-clause BM25 scores (DisjunctionMaxScorer
    // .java:58-70); q20_dismax keeps the integer-tf variant
    "q35_dismax_bm25" -> ((s, d) => TextOps.disjunctionMaxBm25(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query", "data"), 0.1)),

    // Update-request-processor chain (Solr field-mutating URPs): clone →
    // uniq → count → concat → regexReplace → truncate → trim →
    // fieldLength → defaultValue → ignoreField, one codegen'd projection
    "urp_chain" -> ((s, d) => {
      import graft.operators.UpdateChain._
      chain(
        cloneField("lang", "tags"),
        cloneField("source", "tags"),
        cloneField("lang", "tags"),
        uniqFieldValues("tags"),
        countFieldValues("tags", "n_tags"),
        concatField("tags"),
        regexReplace("text", "dup", "marked"),
        truncateField("text", 30),
        trimField("text"),
        fieldLength("source"),
        defaultValue("origin", "none"),
        ignoreField("n_chars")
      )(rd(s, d, "documents"))
        .select(col("doc_id"), col("text"), col("tags"), col("n_tags"),
          col("source"), col("origin"))
    }),

    // DocBasedVersionConstraints upsert: strictly-newer versions replace,
    // equal/older lose (isVersionNewEnough), absent ids insert
    "urp_versioned" -> ((s, d) => {
      val docs = rd(s, d, "documents")
        .select(col("doc_id"), col("source"), lit(1L).as("version"))
      val ups = rd(s, d, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), concat(col("source"), lit("_v2")).as("source"),
          lit(2L).as("version"))
        .unionByName(rd(s, d, "documents").filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), concat(col("source"), lit("_stale")).as("source"),
            lit(1L).as("version")))
      graft.operators.UpdateChain.versionConstrainedUpsert(docs, ups, "doc_id", "version")
    }),

    // PhrasesIdentificationComponent: every contiguous window of the query
    // (len <= 3) scored by the component's bayesian shingle model over
    // corpus stats (term ttf, bigram ttf/df, conjunction doc counts) —
    // selection/summary are deterministic driver steps (PhrasesSpec)
    "ph_scores" -> ((s, d) => graft.operators.Phrases.scoresDf(
      s, rd(s, d, "documents"), "text", "spark query join data")),

    // MaxScoreQParser ({!maxscore tie=0.3}+spark query data): must clauses
    // sum as usual, ALL should clauses collapse into one dismax — only the
    // best optional term contributes fully (engine twin:
    // Searcher.searchMaxScore; rewrite identity tested in SearcherSpec)
    "qp_maxscore" -> ((s, d) => TextOps.maxScoreBm25(rd(s, d, "documents"),
      "doc_id", "text", must = Seq("spark"), should = Seq("query", "data"),
      tie = 0.3)),

    // GraphTermsQParser: constant-score term-set that SKIPS super-node
    // terms (df > maxDocFreq = docCount/2); 'spark'/'query' (df ~0.77·N)
    // are dropped by the frontier cap, the planted rare term 'dup'
    // (df = 25 absolute at every SF) survives
    "ft_graphterms" -> ((s, d) => {
      val idx = docIndex(s, d)
      graft.query.Searcher.graphTerms(idx, Seq("dup", "spark", "query"),
        idx.stats.docCount / 2)
        .select(col("docId").as("doc_id"))
    }),

    // MultiPhraseQuery: slot 0 matches 'spark' OR 'data', slot 1 'group'
    "q36_multiphrase" -> ((s, d) => TextOps.multiPhraseMatch(rd(s, d, "documents"),
      "doc_id", "text", Seq(Seq("spark", "data"), Seq("group")))),

    // sloppy phrase WITH a repeated term: "data ... data" within slop 4,
    // the two slots must bind DISTINCT occurrences (SloppyPhraseMatcher
    // repeats handling, reference SloppyPhraseMatcher.java:362-410)
    "q43_sloppy_repeat" -> ((s, d) => TextOps.sloppyPhraseMatch(rd(s, d, "documents"),
      "doc_id", "text", Seq("data", "data"), slop = 4)),

    // windowed (sloppy-style) phrase: 'data' then 'group' within 3 positions
    "q33_window_phrase" -> ((s, d) => {
      val pos = TextOps.tokenPosTable(rd(s, d, "documents"), "doc_id", "text")
      val a = pos.filter(col("tok") === "data").select(col("doc_id"), col("pos").as("pa"))
      val b = pos.filter(col("tok") === "group").select(col("doc_id"), col("pos").as("pb"))
      a.join(b, "doc_id")
        .filter((col("pb") - col("pa")).between(1, 3))
        .groupBy("doc_id").agg(count("*").as("n_pairs"))
    }),

    // sloppy phrase (SloppyPhraseMatcher semantics): "group data"~3 —
    // reversed order costs 2, so docs with "data group" also match
    "q42_sloppy" -> ((s, d) => TextOps.sloppyPhraseMatch(rd(s, d, "documents"),
      "doc_id", "text", Seq("group", "data"), slop = 3)),

    // span-query family (Lucene search/spans): composable position-aware
    // queries over the token-position table — see operators/Spans.scala
    // ordered near: "sort ... merge" with <= 2 positions between
    "sp_near_ordered" -> ((s, d) => Spans.matchingDocs(rd(s, d, "documents"),
      "doc_id", "text",
      Spans.SpanNear(Seq(Spans.SpanTerm("sort"), Spans.SpanTerm("merge")),
        slop = 2, inOrder = true))),

    // unordered near: query/window within 3, either direction
    "sp_near_unordered" -> ((s, d) => Spans.matchingDocs(rd(s, d, "documents"),
      "doc_id", "text",
      Spans.SpanNear(Seq(Spans.SpanTerm("query"), Spans.SpanTerm("window")),
        slop = 3, inOrder = false))),

    // spanFirst: 'spark' within the first 10 token positions
    "sp_first" -> ((s, d) => Spans.matchingDocs(rd(s, d, "documents"),
      "doc_id", "text", Spans.SpanFirst(Spans.SpanTerm("spark"), end = 10))),

    // near over an OR clause: (sort|hash) immediately before merge
    "sp_or_near" -> ((s, d) => Spans.matchingDocs(rd(s, d, "documents"),
      "doc_id", "text",
      Spans.SpanNear(Seq(
        Spans.SpanOr(Seq(Spans.SpanTerm("sort"), Spans.SpanTerm("hash"))),
        Spans.SpanTerm("merge")), slop = 1, inOrder = true))),

    // spanNot: ordered group..data near-spans NOT containing 'slow'
    "sp_not" -> ((s, d) => Spans.matchingDocs(rd(s, d, "documents"),
      "doc_id", "text",
      Spans.SpanNot(
        Spans.SpanNear(Seq(Spans.SpanTerm("group"), Spans.SpanTerm("data")),
          slop = 3, inOrder = true),
        Spans.SpanTerm("slow")))),

    // spanContaining: join..table windows that ENCLOSE a 'the' (result
    // spans come from the big clause — SpanContainingQuery)
    "sp_containing" -> ((s, d) => Spans.matchingDocs(rd(s, d, "documents"),
      "doc_id", "text",
      Spans.SpanContaining(
        Spans.SpanNear(Seq(Spans.SpanTerm("join"), Spans.SpanTerm("table")),
          slop = 3, inOrder = true),
        Spans.SpanTerm("the")))),

    // spanWithin: 'the' occurrences enclosed by a sort..merge window
    // (result spans come from the little clause — SpanWithinQuery)
    "sp_within" -> ((s, d) => Spans.matchingDocs(rd(s, d, "documents"),
      "doc_id", "text",
      Spans.SpanWithin(
        Spans.SpanNear(Seq(Spans.SpanTerm("sort"), Spans.SpanTerm("merge")),
          slop = 4, inOrder = true),
        Spans.SpanTerm("the")))),

    // more-like-this (KnnStream parity): docs ranked by shared-distinct-token
    // count with doc 0
    "q37_mlt" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val toks = TextOps.tokenTable(docs, "doc_id", "text").distinct()
      val q = toks.filter(col("doc_id") === 0).select(col("tok"))
      toks.filter(col("doc_id") =!= 0)
        .join(broadcast(q), "tok")
        .groupBy("doc_id").agg(count("*").as("shared"))
        .filter(col("shared") >= 20)
    }),

    // timeseries with gap-fill: every hour bucket in the data's range,
    // zero-filled (TimeSeriesStream start/end/gap semantics)
    "q38_gapfill" -> ((s, d) => {
      val ev = rd(s, d, "events").withColumn("bucket", date_trunc("hour", col("ts")))
      val range = ev.agg(min("bucket").as("lo"), max("bucket").as("hi"))
      val buckets = range.select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("bucket"))
      buckets.join(ev.groupBy("bucket").agg(count("*").as("cnt")), Seq("bucket"), "left_outer")
        .select(col("bucket").cast("string").as("bucket"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    }),

    // IVrixDB time-bucketed index: monthly buckets over the events stream,
    // bucket-pruned time-range term search (docIds = event_ids, exact)
    "ft_time_ids" -> ((s, d) => {
      val idxDir = s"target/timeidx/${d.replaceAll("[^A-Za-z0-9.]", "_")}-${java.lang.System.identityHashCode(s)}"
      graft.util.Fs.rmTree(idxDir)
      val ev = rd(s, d, "events").select(
        col("event_id"), col("ts"),
        lower(concat(col("event_type"), lit(" "), col("props"))).as("raw"))
      graft.index.TimeIndex.build(s, ev, idxDir, granularity = "week",
        shufflePartitions = s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      // weeks of 2024-01-08 and 2024-01-15 only (bucket-level pruning)
      graft.index.TimeIndex.topK(s, idxDir, Seq("error"), 1000000,
        fromBucket = "2024-01-08T00", toBucket = "2024-01-21T23")
        .select(col("docId").as("event_id"))
    }),

    // geo (LatLonPoint capability): deterministic derived coordinates,
    // coarse bounding-box radius pre-filter (exact integer/decimal
    // arithmetic -> oracle-checkable; exact haversine + nearest are
    // covered by GeoSpec against reference distances)
    "q46_geo" -> ((s, d) => {
      val ev = rd(s, d, "events").select(col("event_id"), col("event_type"),
        (col("user_id") % 17000 / 100.0 - 85.0).as("lat"),
        (col("user_id") % 35900 / 100.0 - 179.5).as("lon"))
      ev.filter(graft.operators.Geo.boundingBox(col("lat"), col("lon"),
          -84.0, -179.0, 60000.0))
        .groupBy("event_type").agg(count("*").as("n"))
    }),

    // polygon containment (LatLonPoint.newPolygonQuery): concave chevron,
    // crossing-number ray cast in pure codegen arithmetic
    "ft_geo_polygon" -> ((s, d) => {
      val ev = rd(s, d, "events").select(col("event_id"), col("event_type"),
        (col("user_id") % 17000 / 100.0 - 85.0).as("lat"),
        (col("user_id") % 35900 / 100.0 - 179.5).as("lon"))
      ev.filter(graft.operators.Geo.withinPolygon(col("lat"), col("lon"), GeoPolygon))
        .groupBy("event_type").agg(count("*").as("n"))
    }),

    // index-sort early termination (setIndexSort + TopFieldCollector): the
    // sorted doc-values tier answers same-sort top-k reading a bounded
    // number of rows per file (SortedDvSpec proves the input metrics); the
    // result itself is an exact deterministic top-k, so fully oracle-checked
    "ft_sorted_early" -> ((s, d) => {
      val idx = docIndex(s, d)
      val tier = java.nio.file.Paths.get(idx.dir, "dvsorted", "n_chars")
      if (!java.nio.file.Files.exists(tier))
        IndexStore.buildSortedDocValues(s,
          rd(s, d, "documents").select(col("doc_id").as("docId"), col("n_chars"), col("lang")),
          idx.dir, "n_chars", Seq("lang"), partitions = 8)
      idx.topKByFieldSorted("n_chars", 10, Some(col("lang") === "en"))
        .select(col("docId").as("doc_id"), col("n_chars"))
    }),

    // interval query (lucene/queries intervals module): minimal ordered
    // intervals of fast..scan with at most 2 internal gaps, walked by the
    // reference's iterator algebra over the positions tier — the minimal
    // pair count per doc is integer-exact, so fully oracle-checkable
    "ft_intervals" -> ((s, d) => graft.operators.Intervals.query(
      docIndex(s, d).positions,
      graft.operators.Intervals.MaxGaps(2, graft.operators.Intervals.Ordered(
        Seq(graft.operators.Intervals.Term("fast"), graft.operators.Intervals.Term("scan")))))
      .select(col("docId").as("doc_id"), col("n_intervals"))),

    // free-text (n-gram LM) suggester, FreeTextSuggester semantics: stupid
    // backoff over a 3-gram model, completing "s..." after "value fast";
    // score doubles are the same int/int division + 0.4-power product in
    // both engines, so even the floats are oracle-exact
    "ft_freetext" -> ((s, d) => {
      val m = graft.operators.FreeText.model(rd(s, d, "documents"), "text", maxOrder = 3)
      graft.operators.FreeText.suggest(m, Seq("value", "fast", "s"), 10)
        .select(col("word"), col("ord"), col("score"))
    }),

    // dictionary entity tagger (Solr Text Tagger): broadcast token-trie,
    // one narrow pass, ALL policy here so every match is SQL-checkable
    // (LDR/NO_SUB policies covered by TaggerSpec goldens)
    "ta_tagger" -> ((s, d) => graft.operators.Tagger.tagDocs(
      rd(s, d, "documents"), "doc_id", "text",
      Seq(("JOIN_OP", "hash join"), ("SCAN_OP", "fast scan"), ("TBL", "table")),
      graft.operators.Tagger.All)
      .select(col("doc_id"), col("start_tok"), col("end_tok"), col("tag"))),

    // ---- text analysis (training-data pipeline ops) ----
    "ta_quality" -> ((s, d) => TextOps.qualityStats(rd(s, d, "documents"),
      "doc_id", "text", Stopwords)),

    // composed cleaning pipeline: langid filter -> quality thresholds ->
    // exact-dedup keep-first, one declarative plan (filters BEFORE the
    // dedup shuffle)
    "tp_clean_pipeline" -> ((s, d) => TextOps.cleanCorpus(rd(s, d, "documents"),
      "doc_id", "text", LangMarkers, keepLangs = Seq("en"),
      stopwords = Stopwords, minTokens = 30, maxStopwordRatio = 0.15)),

    "ta_langid" -> ((s, d) => TextOps.languageId(rd(s, d, "documents"),
      "doc_id", "text", LangMarkers).select("doc_id", "lang_pred")),

    // ascii folding through the real analyzer-chain path (the --folded CLI
    // preset's chain): accented words fold to ascii, sub-2-char tokens drop
    // via LengthFilter. The oracle is INDEPENDENT: DuckDB's strip_accents
    // computes the expected folding (word list avoids ligatures/ß, which
    // fold here but not there — FoldingSpec covers those)
    "ta_fold" -> ((s, d) => {
      import s.implicits._
      val chain = graft.analysis.AnalyzerChain(Seq(
        graft.analysis.AsciiFoldingFilter, graft.analysis.LengthFilter(2, 255)))
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, chain.terms(FoldWords((id % FoldWords.size).toInt)).mkString(" "))
        }
        .toDF("doc_id", "folded")
    }),

    // CJK analysis through the real analyzer-chain path (the --cjk CLI
    // preset: width folding + character bigrams). The oracle is INDEPENDENT:
    // the expected bigram strings are written out by hand in CjkExpected,
    // not computed by the filter under test.
    "ta_cjk" -> ((s, d) => {
      import s.implicits._
      val chain = graft.analysis.AnalyzerChain(Seq(
        graft.analysis.CJKWidthFilter, graft.analysis.CJKBigramFilter()))
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, chain.terms(CjkWords((id % CjkWords.size).toInt)).mkString(" "))
        }
        .toDF("doc_id", "cjk_terms")
    }),

    // Morphological Japanese through the REAL 'ja' preset (width fold ->
    // Viterbi lattice segmentation over the bundled lexicon -> particle/aux
    // stop list): fixed sentences exercising compound-vs-split, particle
    // attachment, unknown-katakana grouping and mixed script; the oracle
    // pins the expected segmentations as CASE arms (the ta_cjk pattern).
    "ta_ja_morph" -> ((s, d) => {
      import s.implicits._
      val chain = graft.analysis.Analyzers.forLanguage("ja")
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, chain.terms(JaMorphSentences((id % JaMorphSentences.size).toInt)).mkString(" "))
        }
        .toDF("doc_id", "ja_terms")
    }),

    // Morphological Korean through the REAL 'ko' preset (width fold ->
    // lattice segmentation with nori-style compound DECOMPOUND and POS-stop
    // of particles/verbal-suffixes/copulas -> stop list): fixed sentences
    // exercising decompounding, particle stripping, hada-suffix removal and
    // eojeol-at-a-time segmentation; oracle pins expected outputs as CASE
    // arms (the ta_cjk pattern).
    "ta_ko_morph" -> ((s, d) => {
      import s.implicits._
      val chain = graft.analysis.Analyzers.forLanguage("ko")
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, chain.terms(KoMorphSentences((id % KoMorphSentences.size).toInt)).mkString(" "))
        }
        .toDF("doc_id", "ko_terms")
    }),

    // Chinese word segmentation through the REAL 'zh' preset (width fold ->
    // lattice max-matching segmentation -> function-word stop list): the
    // smartcn capability over unspaced Han text; oracle pins expected
    // segmentations as CASE arms.
    "ta_zh_morph" -> ((s, d) => {
      import s.implicits._
      val chain = graft.analysis.Analyzers.forLanguage("zh")
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, chain.terms(ZhMorphSentences((id % ZhMorphSentences.size).toInt)).mkString(" "))
        }
        .toDF("doc_id", "zh_terms")
    }),

    // Snowball stemming through the real analyzer-chain path: each doc_id
    // deterministically picks a word from the fixed per-language lists and
    // stems it through AnalyzerChain(SnowballStemFilter(lang)) — the same
    // chain an index build persists. Oracle = the same word->stem mapping
    // embedded as CASE arms derived from the SAME Snowball object (which
    // the 84k-word official vocabularies validate in SnowballVocabSpec),
    // so chain wiring and stemmer cannot drift.
    "ta_snowball" -> ((s, d) => {
      import s.implicits._
      val langs = Seq("german", "spanish", "french", "italian", "portuguese",
        "danish", "norwegian", "swedish", "dutch", "russian", "romanian",
        "finnish", "hungarian", "turkish", "arabic", "german2", "lovins",
        "kp", "english")
      val chains = langs.map(l =>
        graft.analysis.AnalyzerChain(Seq(graft.analysis.SnowballStemFilter(l))))
      val lists = Seq(SnowballWordsDe, SnowballWordsEs, SnowballWordsFr,
        SnowballWordsIt, SnowballWordsPt, SnowballWordsDa, SnowballWordsNo,
        SnowballWordsSv, SnowballWordsNl, SnowballWordsRu, SnowballWordsRo,
        SnowballWordsFi, SnowballWordsHu, SnowballWordsTr, SnowballWordsAr,
        SnowballWordsDe2, SnowballWordsLov, SnowballWordsKp, SnowballWordsEn)
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val stems = chains.zip(lists).map { case (c, ws) =>
            c.terms(ws((id % ws.size).toInt)).mkString(" ")
          }
          (id, stems(0), stems(1), stems(2), stems(3), stems(4), stems(5),
            stems(6), stems(7), stems(8), stems(9), stems(10), stems(11),
            stems(12), stems(13), stems(14), stems(15), stems(16), stems(17),
            stems(18))
        }
        .toDF("doc_id", "stem_de", "stem_es", "stem_fr", "stem_it", "stem_pt",
          "stem_da", "stem_no", "stem_sv", "stem_nl", "stem_ru", "stem_ro",
          "stem_fi", "stem_hu", "stem_tr", "stem_ar", "stem_de2", "stem_lov",
          "stem_kp", "stem_en")
    }),

    // CLEF light/minimal stemmer family (Savoy/UniNE/RSLP/Sorani rules;
    // each vocabulary-validated in LightStemVocabSpec) through the chain
    "ta_lightstem" -> ((s, d) => {
      import s.implicits._
      val chains = LightStemLangs.map(l =>
        graft.analysis.AnalyzerChain(Seq(graft.analysis.LightStemFilter(l))))
      val lists = LightStemWords
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val stems = chains.zip(lists).map { case (c, ws) =>
            c.terms(ws((id % ws.size).toInt)).mkString(" ")
          }
          (id, stems(0), stems(1), stems(2), stems(3), stems(4), stems(5),
            stems(6), stems(7), stems(8), stems(9), stems(10), stems(11),
            stems(12), stems(13), stems(14), stems(15), stems(16), stems(17),
            stems(18), stems(19))
        }
        .toDF("doc_id" +: LightStemLangs.map(l => s"ls_$l"): _*)
    }),

    // second light-stemmer wave: lv/cz/bg/id/hi/bn/ar-light/fa-norm/el
    "ta_lightstem2" -> ((s, d) => {
      import s.implicits._
      val chains = LightStemLangs2.map(l =>
        graft.analysis.AnalyzerChain(Seq(graft.analysis.LightStemFilter(l))))
      val lists = LightStemWords2
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val stems = chains.zip(lists).map { case (c, ws) =>
            c.terms(ws((id % ws.size).toInt)).mkString(" ")
          }
          (id, stems(0), stems(1), stems(2), stems(3), stems(4), stems(5),
            stems(6), stems(7), stems(8), stems(9))
        }
        .toDF("doc_id" +: LightStemLangs2.map(l => s"ls_$l"): _*)
    }),

    // the full phonetic-encoder family (reference analysis/phonetic module):
    // every encoder over a fixed surname list, replace mode
    "ta_phonetic" -> ((s, d) => {
      import s.implicits._
      val chains = PhoneticEncoders.map(e => graft.analysis.AnalyzerChain(
        Seq(graft.analysis.PhoneticFilter(inject = false, encoder = e))))
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val codes = chains.map(c =>
            c.terms(PhoneticWords((id % PhoneticWords.size).toInt)).mkString(" "))
          (id, codes(0), codes(1), codes(2), codes(3), codes(4), codes(5),
            codes(6), codes(7))
        }
        .toDF("doc_id" +: PhoneticEncoders.map(e => s"ph_$e"): _*)
    }),

    // elision / common-grams / compound decomposition / html-strip /
    // mapping char filter through the chain (reference charfilter,
    // commongrams, compound, and util.ElisionFilter packages)
    "ta_misc_filters" -> ((s, d) => {
      import s.implicits._
      val chains = MiscFilterChains
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val outs = chains.map { case (_, chain, inputs) =>
            chain.terms(inputs((id % inputs.size).toInt)).mkString(" ")
          }
          (id, outs(0), outs(1), outs(2), outs(3), outs(4))
        }
        .toDF("doc_id" +: MiscFilterChains.map(c => s"mf_${c._1}"): _*)
    }),

    // per-language analyzer presets (the reference XXAnalyzer stacks):
    // ten representative languages over fixed sentences
    "ta_analyzers" -> ((s, d) => {
      import s.implicits._
      val chains = AnalyzerPresetLangs.map(graft.analysis.Analyzers.forLanguage)
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val outs = chains.zip(AnalyzerSentences).map { case (c, ws) =>
            c.terms(ws((id % ws.size).toInt)).mkString(" ")
          }
          (id, outs(0), outs(1), outs(2), outs(3), outs(4), outs(5),
            outs(6), outs(7), outs(8), outs(9), outs(10))
        }
        .toDF("doc_id" +: AnalyzerPresetLangs.map(l => s"an_$l"): _*)
    }),

    // Krovetz stemmer over the corpus' own tokens: the real distributed
    // path (dictionary broadcast with the serialized filter), oracled by
    // the golden-validated scalar
    "ta_kstem" -> ((s, d) => {
      import s.implicits._
      val chain = graft.analysis.AnalyzerChain(Seq(graft.analysis.KStemFilter))
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, chain.terms(KStemWords((id % KStemWords.size).toInt)).mkString(" "))
        }
        .toDF("doc_id", "kstem_terms")
    }),

    // Hunspell affix-dictionary stemming over the distributed chain (the
    // dictionary text broadcast with the serialized filter, parsed lazily
    // per executor); oracled by the golden-validated engine — deep
    // semantics carried by HunspellSpec's 30 reference fixture suites
    "ta_hunspell" -> ((s, d) => {
      import s.implicits._
      val chain = graft.analysis.AnalyzerChain(Seq(
        graft.analysis.HunspellStemFilter(
          graft.analysis.Hunspell.sampleEnglishAff,
          graft.analysis.Hunspell.sampleEnglishDic)))
      rd(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, chain.terms(HunspellWords((id % HunspellWords.size).toInt)).mkString(" "))
        }
        .toDF("doc_id", "hunspell_terms")
    }),

    "ta_fingerprint" -> ((s, d) => TextOps.fingerprint(rd(s, d, "documents"),
      "doc_id", "text")),

    // token-budget counting: whitespace words, analyzer tokens, BPE-ish units
    "ta_tokens" -> ((s, d) => TextOps.tokenCounts(rd(s, d, "documents"),
      "doc_id", "text")),

    // word-bigram shingles through the REAL analysis chain (ShingleFilter,
    // outputUnigrams=false): corpus-wide shingle counts — the word-ngram
    // feature table a training-data pipeline derives
    "ta_shingles" -> ((s, d) => {
      import s.implicits._
      val chain = graft.analysis.AnalyzerChain(
        Seq(graft.analysis.ShingleFilter(2, outputUnigrams = false)))
      rd(s, d, "documents").select(col("text").as[String])
        .flatMap(t => chain.terms(t)).toDF("shingle")
        .groupBy("shingle").agg(count("*").as("cnt"))
        .filter(col("cnt") >= 30)
    }),

    // word-delimiter analysis (WordDelimiterGraphFilter — the camelCase /
    // alnum identifier splitter, THE code-corpus filter): per-doc token
    // counts through a chain with the splitter in its pre-lowercase slot.
    // The documents text is all-lowercase, so a deterministic camelCase
    // identifier is appended per doc ("Doc<id>V2" → doc, <id>, v, 2) to
    // make the splits non-vacuous; the DuckDB oracle replicates the split
    // as maximal letter-or-digit runs over the lowercased text (equivalent
    // for case-free input; case splits are covered by FiltersSpec goldens)
    "ta_worddelim" -> ((s, d) => {
      import s.implicits._
      val chain = graft.analysis.AnalyzerChain(Nil,
        Some(graft.analysis.WordDelimiterFilter(
          preserveOriginal = false, stemPossessive = false)))
      rd(s, d, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" Doc"), col("doc_id"), lit("V2")).as("t"))
        .as[(Long, String)]
        .map { case (id, t) =>
          val ts = chain.terms(t)
          (id, ts.length.toLong, ts.distinct.length.toLong)
        }
        .toDF("doc_id", "n_tokens", "n_distinct")
    }),

    // export handler (/export): the FULL sorted match set, no limit —
    // Solr's bulk-retrieval path; a distributed range-partitioned sort
    "ft_export_sorted" -> ((s, d) => docIndex(s, d)
      .exportSorted(Seq("spark"), Seq(("lang", true)))
      .select(col("docId").as("doc_id"), col("lang"))),

    // context-filtered suggester (CompletionQuery contexts): completions
    // weighted by in-context df only
    "ft_suggest_context" -> ((s, d) => TextOps.contextSuggest(
      rd(s, d, "documents"), "doc_id", "text", "lang", "fr", "s", 10)),

    // child-doc transformer ([child]): parents with ordered nested children
    "q60_children" -> ((s, d) => R.childTransform(
      rd(s, d, "orders").select(col("o_orderkey")),
      rd(s, d, "lineitem"), "o_orderkey", "l_orderkey", "l_linenumber")),

    // JoinUtil score-mode join (lucene/join ScoreMode.Max): dimension rows
    // scored by the max BM25 score of their member docs
    "q58_scorejoin" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val scored = TextOps.bm25All(docs, "doc_id", "text", Seq("spark", "query"))
        .join(docs.select("doc_id", "source"), "doc_id")
      R.scoreJoin(scored, docs.select("source").distinct(),
        "source", "source", "score", "max")
    }),

    // facet.missing=true: per-value buckets plus the null bucket
    "q59_facet_missing" -> ((s, d) => R.facetWithMissing(
      rd(s, d, "documents").select(col("doc_id"),
        when(col("lang") =!= "de", col("lang")).as("lang2")), "lang2")),

    // Solr function queries termfreq/docfreq/idf as per-doc columns
    "ft_func_tfdf" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val tfCol = size(filter(TextOps.tokensOf("text"), t => t === "spark")).cast("long")
      val withTf = docs.select(col("doc_id"), tfCol.as("tf_spark"))
      val stats = withTf.agg(
        sum(when(col("tf_spark") > 0, 1L).otherwise(0L)).as("df_spark"),
        count("*").cast("double").as("n"))
      withTf.crossJoin(broadcast(stats))
        .select(col("doc_id"), col("tf_spark"), col("df_spark"),
          round(log(lit(1.0) + (col("n") - col("df_spark") + 0.5) / (col("df_spark") + 0.5)), 5)
            .as("idf_spark"))
    }),

    // SortField.setMissingValue semantics: missing sort keys order LAST
    "ft_sort_missing" -> ((s, d) => rd(s, d, "documents")
      .select(col("doc_id"), when(col("lang") =!= "de", col("lang")).as("lang2"))
      .orderBy(col("lang2").asc_nulls_last, col("doc_id").asc).limit(50)),

    // ClassicSimilarity (TF-IDF) — the reference's other stock similarity
    "ft_tfidf" -> ((s, d) => TextOps.tfidfAll(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query"))),

    // LMDirichletSimilarity — Bayesian-smoothed language-model ranking
    // (the engine-side norm-quantized twin is query.LMDirichletSim)
    "ft_lmdirichlet" -> ((s, d) => TextOps.lmDirichletAll(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query"))),

    // DFISimilarity — divergence from independence, standardized measure
    "ft_dfi" -> ((s, d) => TextOps.dfiAll(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query"))),

    // AxiomaticF2EXP — axiomatic retrieval model, defaults s=0.25 k=0.35
    "ft_axiomatic" -> ((s, d) => TextOps.axiomaticAll(rd(s, d, "documents"),
      "doc_id", "text", Seq("spark", "query"))),

    // phonetic (Soundex) matching: docs with a token phonetically equal
    // to the (misspelled) query word — "joyn" finds "join" (J500)
    "ft_phonetic" -> ((s, d) => TextOps.phoneticMatch(rd(s, d, "documents"),
      "doc_id", "text", "joyn")),

    // ---- training-pipeline corpus preparation (Pipeline.scala) ----
    // benchmark decontamination: n-gram overlap of the training split vs a
    // held-out eval-fragment set (docs with id%97==3 stand in for the eval
    // set; n=2 because the synthetic vocabulary is tiny — real corpora use
    // n=8..13). Fragments broadcast; text never shuffles.
    "tp_decontam" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val frags = P.benchmarkFragments(docs, "doc_id", "text", mod = 97, rem = 3, n = 2)
      P.decontaminate(docs.filter(col("doc_id") % 97 =!= 3), frags,
        "doc_id", "text", n = 2)
    }),

    // token-budget sequence packing via distributed two-phase prefix sum
    "tp_pack" -> ((s, d) => P.packSequences(s, rd(s, d, "documents"),
      "doc_id", "text", budget = 2048)),

    // deterministic stratified sampling: per-language keep rates, hash-based
    "tp_sample" -> ((s, d) => P.stratifiedSample(rd(s, d, "documents"),
      "doc_id", "lang", Map("en" -> 0.5, "fr" -> 0.25), defaultRate = 0.1)
      .select("doc_id", "lang")),

    // the COMPOSED end-to-end training-prep pipeline: langid+quality clean
    // -> exact dedup -> eval-set & contamination removal -> deterministic
    // 50% sample -> token-budget packing, one declarative plan
    "tp_full_prep" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val cleaned = TextOps.cleanCorpus(docs, "doc_id", "text", LangMarkers,
        keepLangs = Seq("en"), stopwords = Stopwords,
        minTokens = 30, maxStopwordRatio = 0.15)
      val frags = P.benchmarkFragments(docs, "doc_id", "text", 97, 3, 2)
      val contaminated = P.decontaminate(docs.filter(col("doc_id") % 97 =!= 3),
        frags, "doc_id", "text", 2).select("doc_id")
      val kept = cleaned.filter(col("doc_id") % 97 =!= 3)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(P.sampleBucket(col("doc_id")) < 0.5 * P.SampleModulus)
      P.packCounted(s, kept.select(col("doc_id"), col("n_tokens").cast("long")),
        "doc_id", budget = 512)
    }),

    // exact-substring dedup signal (Lee et al. 2022): per-doc fraction of
    // 3-token windows that also occur in ANOTHER document
    "tp_dup_spans" -> ((s, d) => P.duplicatedSpans(rd(s, d, "documents"),
      "doc_id", "text", n = 3)),

    // Gopher-rule repetition metric: duplicate 3-gram fraction per doc
    "tp_repetition" -> ((s, d) => P.repetitionStats(rd(s, d, "documents"),
      "doc_id", "text", n = 3)),

    // PII scrub: the corpus is PII-free by construction, so a
    // deterministic synthetic suffix (email + IPv4 + long digit run
    // derived from doc_id) is appended on BOTH sides before redaction
    "tp_pii" -> ((s, d) => {
      val withPii = rd(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@mail.example.com from 10.0."),
          (col("doc_id") % 256).cast("string"),
          lit(".7 acct 9001234567")).as("text"))
      P.redactPii(withPii, "doc_id", "text")
    }),

    // ---- dedup ----
    "dd_exact" -> ((s, d) => Dedup.exact(rd(s, d, "documents"), "doc_id", "text")),

    "dd_jaccard_pairs" -> ((s, d) => {
      val docs = rd(s, d, "documents").select(col("doc_id"), lower(col("text")).as("t"))
      docs.as("a").join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(Dedup.ngramJaccard(col("a.t"), col("b.t"), 3), 5).as("jac"))
    }),

    "dd_minhash" -> ((s, d) => {
      val sigs = Dedup.minHashSignatures(rd(s, d, "documents"), "doc_id", "text", 128)
      Dedup.minHashCandidates(sigs, "doc_id", bands = 32, rowsPerBand = 4, threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 5).as("est_jaccard"))
    }),

    "dd_simhash" -> ((s, d) => Dedup.simHashCandidates(
      Dedup.simHash(rd(s, d, "documents"), "doc_id", "text"), "doc_id", maxHamming = 3)),

    // MinHashQParser fingerprint query (query-time similarity search):
    // banded LSH probe of doc 3's text against the corpus — hash-family-
    // dependent, so rows-only here; the driver-checked twin is
    // qp_minhash_planted below (MinHashSpec covers band/msm semantics)
    "qp_minhash" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val qtext = docs.filter(col("doc_id") === 3).select("text").head.getString(0)
      Dedup.minHashQuery(docs, "doc_id", "text", qtext,
        numHashes = 64, sim = 0.5, tp = 0.9)
    }),

    // planted twin: querying a document's own text with sim=1/tp=1 gives
    // 64 single-hash bands; only a doc with the identical shingle set can
    // match ALL of them — structurally, the query doc itself (and exact
    // text copies, of which this corpus has none)
    "qp_minhash_planted" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val qtext = docs.filter(col("doc_id") === 0).select("text").head.getString(0)
      Dedup.minHashQuery(docs, "doc_id", "text", qtext)
        .filter(col("matched_bands") === 64)
        .select(col("doc_id"))
    }),

    // planted-duplicate oracle-checked variants of the approximate dedup
    // paths (the dd_embedding pattern): an exact copy of every document
    // under doc_id+1000000 has an IDENTICAL signature, so signature →
    // banding → bucket join → verify must recover every (doc, copy) pair —
    // recall on them is structural (identical band buckets), not
    // probabilistic, and the whole LSH pipeline is exercised end-to-end.
    "dd_minhash_planted" -> ((s, d) => {
      val docs = rd(s, d, "documents").select("doc_id", "text")
      val planted = docs.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val sigs = Dedup.minHashSignatures(docs.unionByName(planted), "doc_id", "text", 64)
      Dedup.minHashCandidates(sigs, "doc_id", bands = 16, rowsPerBand = 4, threshold = 1.0)
        .filter(col("id_b") === col("id_a") + 1000000)
        .select(col("id_a"), col("id_b"))
    }),

    "dd_simhash_planted" -> ((s, d) => {
      val docs = rd(s, d, "documents").select("doc_id", "text")
      val planted = docs.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val sh = Dedup.simHash(docs.unionByName(planted), "doc_id", "text")
      Dedup.simHashCandidates(sh, "doc_id", maxHamming = 0)
        .filter(col("id_b") === col("id_a") + 1000000)
        .select(col("id_a"), col("id_b"))
    }),

    // embedding near-dup with PLANTED duplicates: positive-scaled copies of
    // every vector (cosine exactly 1; the sign sketch is scale-invariant, so
    // LSH recall on them is guaranteed 1.0) — the query only goes green if
    // sketch → banded bucket join → exact cosine rescore all work. Recall
    // on non-trivially-perturbed near-dups is covered by DedupSkewSpec.
    "dd_embedding" -> ((s, d) => {
      val embs = rd(s, d, "embeddings").select("vec_id", "embedding")
      val planted = embs.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.25f)).as("embedding"))
      // occupancy-law band sizing (Dedup.signPlanesFor): at sf0.001-0.1
      // this resolves to the historical planes=16; at sf1+ the band bits
      // grow with log2(n) so bucket population stays ~constant instead of
      // overflowing the skew cap (16 buckets/band at 40k vectors capped
      // out and silently dropped planted pairs in the sf1 rehearsal)
      val planes = Dedup.signPlanesFor(2 * embs.count(), bands = 4)
      Dedup.embeddingNearDup(embs.unionByName(planted), "vec_id", "embedding",
        planes = planes, threshold = 0.999, bands = 4)
        .filter(col("id_b") === col("id_a") + 1000000)
        .select(col("id_a"), col("id_b"), round(col("cos"), 5).as("cos"))
    }),

    // canonical selection: connected components over the near-dup pair
    // graph (consecutive-id Jaccard adjacency) — every doc maps to the
    // min-id representative of its duplicate cluster
    "dd_components" -> ((s, d) => {
      val docs = rd(s, d, "documents").select(col("doc_id"), lower(col("text")).as("t"))
      val edges = docs.as("a").join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .filter(Dedup.ngramJaccard(col("a.t"), col("b.t"), 3) >= 0.35)
        .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      Dedup.connectedComponents(edges, "src", "dst")
    }),

    // ---- similarity search over embeddings ----
    "sim_cosine" -> ((s, d) => {
      val embs = rd(s, d, "embeddings")
      val q = embs.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      Similarity.cosineAll(embs, "vec_id", "embedding", q)
    }),

    "sim_ivf" -> ((s, d) => {
      val embs = rd(s, d, "embeddings")
      val q = embs.filter(col("vec_id") === 3)
        .select("embedding").head().getSeq[Float](0).toArray
      val (assign, cents) = Similarity.ivfIndex(embs, "vec_id", "embedding", k = 16, iters = 2)
      Similarity.ivfTopK(assign, cents, "vec_id", "embedding", q, 20, nprobe = 4)
        .select(col("vec_id"), round(col("cos"), 5).as("cos"))
    }),

    "sim_ann" -> ((s, d) => {
      val embs = rd(s, d, "embeddings")
      val q = embs.filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0).toArray
      // prebuilt sketch index (the scale path: sketch computed once, probes
      // read only matching buckets), then exact rescoring
      val idx = Similarity.signIndex(embs, "vec_id", "embedding", planes = 8)
      Similarity.annTopKIndexed(idx, "vec_id", "embedding", q, planes = 8, k = 20)
        .select(col("vec_id"), round(col("cos"), 5).as("cos"))
    }),

    // planted-neighbor oracle-checked variants of the ANN paths (the
    // dd_minhash_planted pattern): ten copies of the query vector scaled
    // by 2.0f (a power of two — the scaling is exact in float, and both
    // the sign sketch and the cosine IVF assignment are scale-invariant)
    // are planted under known ids, so probe → rescore → top-k MUST
    // surface exactly {query doc} ∪ {copies}, all at cos 1.0 — recall on
    // them is structural, and the full indexed pipelines run end-to-end
    "sim_ann_planted" -> ((s, d) => {
      val (embs, q) = plantedEmbeddings(rd(s, d, "embeddings"), anchor = 7)
      val idx = Similarity.signIndex(embs, "vec_id", "embedding", planes = 8)
      Similarity.annTopKIndexed(idx, "vec_id", "embedding", q, planes = 8, k = 11)
        .select(col("vec_id"), round(col("cos"), 5).as("cos"))
    }),

    "sim_ivf_planted" -> ((s, d) => {
      val (embs, q) = plantedEmbeddings(rd(s, d, "embeddings"), anchor = 3)
      val (assign, cents) = Similarity.ivfIndex(embs, "vec_id", "embedding", k = 16, iters = 2)
      Similarity.ivfTopK(assign, cents, "vec_id", "embedding", q, 11, nprobe = 4)
        .select(col("vec_id"), round(col("cos"), 5).as("cos"))
    }),

    // ---- multimodal plumbing (binary payload + typed metadata) ----
    "mm_decode" -> ((s, d) => Multimodal.decodeMeta(
      Multimodal.asMediaTable(rd(s, d, "documents"), "doc_id", "text"))
      .select(col("asset_id"), col("mime"), col("n_bytes"), col("width"),
        col("height"), col("n_frames"), round(col("duration_s"), 5).as("duration_s"))),

    "mm_frames" -> ((s, d) => Multimodal.sampleFrames(
      Multimodal.decodeMeta(Multimodal.asMediaTable(rd(s, d, "documents"), "doc_id", "text")),
      stride = 2)),

    // REAL image decode: deterministic PNG payloads (dims a pure function
    // of doc_id) synthesized by the JDK's PNG writer, decoded back by the
    // javax.imageio path in decodeMeta — the oracle predicts the decoded
    // dimensions from the same doc_id arithmetic (n_bytes is codec-level
    // detail and stays out of the oracle row)
    "mm_decode_png" -> ((s, d) => {
      import s.implicits._
      val media = rd(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, "image/png",
            Multimodal.synthPng(id, 16 + (id % 32).toInt, 16 + (id % 16).toInt))
        })
        .toDF("asset_id", "mime", "payload")
      Multimodal.decodeMeta(media)
        .select(col("asset_id"), col("mime"), col("width"), col("height"),
          col("n_frames"), round(col("duration_s"), 5).as("duration_s"))
    }),

    // REAL audio decode: deterministic PCM WAV payloads synthesized by the
    // JDK's WAVE writer, decoded back via javax.sound.sampled — the oracle
    // predicts (rate, channels, frames, duration) from the same arithmetic
    "mm_decode_wav" -> ((s, d) => {
      import s.implicits._
      val media = rd(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, "audio/wav", Multimodal.synthWav(id, 400 + (id % 256).toInt * 4))
        })
        .toDF("asset_id", "mime", "payload")
      Multimodal.decodeMeta(media)
        .select(col("asset_id"), col("width").as("sample_rate"),
          col("height").as("channels"), col("n_frames"),
          round(col("duration_s"), 5).as("duration_s"))
    }),

    // REAL video CONTAINER metadata: deterministic minimal MP4s (dims/
    // frames pure functions of doc_id) parsed back through the ISO-BMFF box
    // walker — width/height from stsd, n_frames from stsz, duration from
    // mvhd. Frame pixels stay stubbed (no JDK video codec); the container
    // layer is real.
    "mm_decode_mp4" -> ((s, d) => {
      import s.implicits._
      val media = rd(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, "video/mp4", MediaContainers.synthMp4(
            160 + 8 * (id % 20).toInt, 120 + 8 * (id % 10).toInt,
            10 + (id % 50).toInt, fps = 25, timescale = 1000))
        })
        .toDF("asset_id", "mime", "payload")
      Multimodal.decodeMeta(media)
        .select(col("asset_id"), col("mime"), col("width"), col("height"),
          col("n_frames"), round(col("duration_s"), 5).as("duration_s"))
    }),

    // Matroska/WebM via the EBML walker: dims from the video TrackEntry,
    // duration from Info.Duration x TimestampScale, frames counted from
    // Cluster SimpleBlocks
    "mm_decode_mkv" -> ((s, d) => {
      import s.implicits._
      val media = rd(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val frames = 5 + (id % 40).toInt
          (id, "video/webm", MediaContainers.synthMkv(
            320 + 2 * (id % 33).toInt, 180 + 2 * (id % 21).toInt,
            frames, durationMs = frames * 40.0))
        })
        .toDF("asset_id", "mime", "payload")
      Multimodal.decodeMeta(media)
        .select(col("asset_id"), col("mime"), col("width"), col("height"),
          col("n_frames"), round(col("duration_s"), 5).as("duration_s"))
    }),

    // REAL image resize: decode-scale-reencode (nearest neighbour) halves
    // the synthesized dimensions; the oracle predicts the scaled dims
    "mm_resize_png" -> ((s, d) => {
      import s.implicits._
      val media = rd(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, "image/png",
            Multimodal.synthPng(id, 16 + (id % 32).toInt, 16 + (id % 16).toInt))
        })
        .toDF("asset_id", "mime", "payload")
      Multimodal.decodeMeta(Multimodal.resize(media, 2))
        .select(col("asset_id"), col("width"), col("height"))
    }),

    // ---- reverse search (monitor/percolator): registered queries matched
    // against the document stream in one broadcast-anchored narrow pass ----
    "mon_percolate" -> ((s, d) => Monitor.matches(rd(s, d, "documents"),
      MonitorRegistry)),

    // ---- Solr atomic updates (AtomicUpdateDocumentMerger): a deterministic
    // long-format command batch derived from the table itself, folded over
    // the doc state in arrival order — one agg + one join, no per-doc get ----
    "su_atomic" -> ((s, d) => {
      val base = rd(s, d, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"), array(col("source"), col("lang")).as("tags"),
        col("source"))
      def cmd(pred: org.apache.spark.sql.Column, seq: Int, field: String,
              op: String, value: org.apache.spark.sql.Column) =
        base.filter(pred).select(col("doc_id"), lit(seq).as("seq"),
          lit(field).as("field"), lit(op).as("op"), value.as("value"))
      val id = col("doc_id")
      val updates = Seq(
        cmd(id % 3 === 0, 1, "lang", "set", lit("xx")),
        cmd(id % 9 === 0, 2, "lang", "set", lit(null).cast("string")),
        cmd(id % 4 === 0, 1, "n_chars", "inc", lit("5")),
        cmd(id % 4 === 0, 2, "n_chars", "inc", lit("-2")),
        cmd(id % 2 === 0, 1, "tags", "add", lit("extra")),
        cmd(id % 2 === 0, 2, "tags", "add-distinct", lit("extra")),
        cmd(id % 2 === 0, 3, "tags", "add-distinct", lit("fresh")),
        cmd(id % 2 === 0, 4, "tags", "remove", col("source")),
        cmd(id % 5 === 0, 5, "tags", "removeregex", lit("ex.*"))
      ).reduce(_ unionByName _)
      AtomicUpdate.merge(base.drop("source"), "doc_id", updates,
          stringFields = Seq("lang"), longFields = Seq("n_chars"),
          arrayFields = Seq("tags"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat_ws(",", col("tags")).as("tags"))
    }),

    // DataImportHandler full+delta import lifecycle (contrib/
    // dataimporthandler DocBuilder): full-import clean=true, then a
    // delta-import whose changed rows (mtime > last_index_time) gain a
    // planted term and whose deletedPkQuery set (every 21st doc, a subset
    // of the changed docs) must NOT be re-created — the final search over
    // the planted term proves exactly (changed minus deleted) re-indexed
    "su_dataimport" -> ((s, d) => {
      import graft.sources.DataImport
      val docs = rd(s, d, "documents")
      val safe = d.replaceAll("[^A-Za-z0-9.]", "_")
      val dir = s"target/dih/$safe-${java.lang.System.identityHashCode(s)}"
      graft.util.Fs.rmTree(dir)
      val parts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      DataImport.fullImport(s, docs.select(col("doc_id").as("pk"), col("text")),
        "pk", "text", dir, "2024-01-01T00:00:00", shufflePartitions = parts)
      val delta = docs
        .withColumn("mtime", when(col("doc_id") % 7 === 0,
          lit("2024-01-05T00:00:00")).otherwise(lit("2023-12-01T00:00:00")))
        .withColumn("text2", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" deltamark"))).otherwise(col("text")))
      val deleted = docs.filter(col("doc_id") % 21 === 0)
        .select(col("doc_id").cast("string")).collect().map(_.getString(0)).toSeq
      DataImport.deltaImport(s,
        delta.select(col("doc_id").as("pk"), col("text2"), col("mtime")),
        "pk", "text2", "mtime", dir, "2024-01-06T00:00:00",
        deletedPks = deleted, shufflePartitions = parts)
      IndexStore.OpenIndex(s, dir).topK(Seq("deltamark"), 1000000)
        .join(DataImport.pkMap(s, dir), "docId")
        .select(col("pk").cast("long").as("doc_id"))
    }),

    // RealTimeGetComponent: by-id fetch that sees the PENDING atomic
    // batch (the update-log-before-searcher contract); id filter pushes
    // below the merge
    "su_rtg" -> ((s, d) => {
      val base = rd(s, d, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"), array(col("source"), col("lang")).as("tags"),
        col("source"))
      def cmd(pred: org.apache.spark.sql.Column, seq: Int, field: String,
              op: String, value: org.apache.spark.sql.Column) =
        base.filter(pred).select(col("doc_id"), lit(seq).as("seq"),
          lit(field).as("field"), lit(op).as("op"), value.as("value"))
      val id = col("doc_id")
      val updates = Seq(
        cmd(id % 3 === 0, 1, "lang", "set", lit("xx")),
        cmd(id % 9 === 0, 2, "lang", "set", lit(null).cast("string")),
        cmd(id % 4 === 0, 1, "n_chars", "inc", lit("5")),
        cmd(id % 4 === 0, 2, "n_chars", "inc", lit("-2")),
        cmd(id % 2 === 0, 1, "tags", "add", lit("extra")),
        cmd(id % 2 === 0, 2, "tags", "add-distinct", lit("extra")),
        cmd(id % 2 === 0, 3, "tags", "add-distinct", lit("fresh")),
        cmd(id % 2 === 0, 4, "tags", "remove", col("source")),
        cmd(id % 5 === 0, 5, "tags", "removeregex", lit("ex.*"))
      ).reduce(_ unionByName _)
      AtomicUpdate.realTimeGet(base.drop("source"), "doc_id", updates,
          ids = Seq(0L, 4L, 6L, 7L, 9L),
          stringFields = Seq("lang"), longFields = Seq("n_chars"),
          arrayFields = Seq("tags"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat_ws(",", col("tags")).as("tags"))
    }),

    // ---- SignatureUpdateProcessor: index-time dedup signatures, all
    // whole-stage codegen (native md5 over HOF-built content) ----
    "su_signature" -> ((s, d) => rd(s, d, "documents").select(col("doc_id"),
      Signatures.md5Signature(
        Seq("lang" -> col("lang"), "source" -> col("source"))).as("sig_md5"),
      Signatures.textProfileSignature(Seq("text" -> col("text")))
        .as("sig_profile"))),

    // lookup3ycs64 has no DuckDB twin: rows-only here, bit-exactness is
    // pinned by SignaturesSpec's independent-port vectors
    "su_signature_l3" -> ((s, d) => rd(s, d, "documents").select(col("doc_id"),
      Signatures.lookup3Signature(
        Seq("lang" -> col("lang"), "source" -> col("source"))).as("sig_l3"))),

    // overwriteDupes=true: last write per signature wins — one max_by agg
    "su_dedup_overwrite" -> ((s, d) => Signatures.overwriteDupes(
        rd(s, d, "documents").select(col("doc_id"), col("lang"), col("source")),
        Signatures.md5Signature(
          Seq("lang" -> col("lang"), "source" -> col("source"))),
        col("doc_id"))
      .select(col("signature"), col("doc_id"), col("lang"), col("source"))),

    // ---- classification (reference classification module) ----
    "cls_nb" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      Classify.naiveBayes(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), classCol = "lang")
    }),

    "cls_bm25nb" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      Classify.bm25nb(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), classCol = "lang")
    }),

    "cls_knn" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      // maxDfRatio 0.9: the synthetic corpus has a ~30-token vocabulary of
      // near-universal words — the production default (0.5) would stop-word
      // away everything and leave most docs neighbor-less
      Classify.knn(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), k = 5, classCol = "lang",
        maxDfRatio = 0.9)
    }),

    // DiversifiedTopDocsCollector (lucene/misc): global top-k, <= maxPerKey
    // hits per key — bounded heaps per key, never a window sort
    "q61_diversified" -> ((s, d) => {
      val li = rd(s, d, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("line_id"),
        col("l_suppkey"),
        col("l_quantity").cast("double").as("qscore"))
      R.diversifiedTopK(li, "line_id", "l_suppkey", "qscore", k = 100, maxPerKey = 3)
        .select(col("line_id"), col("l_suppkey"), col("qscore").cast("double").as("qscore"))
    }),

    // BlendedTermQuery: 'spark' (df~77%) and 'dup' (df~5%) scored with ONE
    // blended df = max(df) so the rare variant isn't idf-over-rewarded;
    // dismax combine, tie 0.1
    "ft_blended" -> ((s, d) => TextOps.blendedBm25(rd(s, d, "documents"),
      "doc_id", "text", Seq(("spark", 1.0), ("dup", 1.5)), tieBreaker = 0.1)),

    // FeatureField static-ranking boost (saturation): BM25('spark') +
    // 1.5·(1 − 4/(f+4)) with f = n_chars/100 as the per-doc static feature
    "ft_feature_sat" -> ((s, d) => TextOps.bm25FeatureSaturation(
      rd(s, d, "documents"), "doc_id", "text", Seq("spark"),
      col("n_chars") / 100.0, weight = 1.5, pivot = 4.0)),

    // edismax: qf = [text×1.0, title×2.0] (title derived from source+lang so
    // the cross-field dismax is non-vacuous: 'src13' only matches title),
    // mm=2 over the 3 user clauses, tie=0.1, pf2 bigram phrase boost on text
    // ('data group' occurs adjacently; 'group src13' never does)
    "q63_edismax" -> ((s, d) => {
      val docs = rd(s, d, "documents")
        .withColumn("title", concat_ws(" ", col("source"), col("lang")))
      TextOps.edismax(docs, "doc_id",
        qf = Seq(("text", 1.0), ("title", 2.0)),
        terms = Seq("data", "group", "src13"), mm = 2, tie = 0.1,
        pf2 = Seq(("text", 1.5)))
    }),

    // edismax bf/boost params: additive boost function (n_chars/1000) and
    // multiplicative boost (1 + doc_id%2) over the q63 query
    "q66_edismax_bf" -> ((s, d) => {
      val docs = rd(s, d, "documents")
        .withColumn("title", concat_ws(" ", col("source"), col("lang")))
      TextOps.edismax(docs, "doc_id",
        qf = Seq(("text", 1.0), ("title", 2.0)),
        terms = Seq("data", "group", "src13"), mm = 2, tie = 0.1,
        pf2 = Seq(("text", 1.5)),
        bf = Some(col("n_chars") / 1000.0),
        boostFn = Some(lit(1.0) + col("doc_id") % 2))
    }),

    // PayloadScoreQuery over a delimited-payload corpus: tokens carry
    // "term|payload", parsed by the DelimitedPayloadTokenFilter analogue,
    // folded per doc with the Average payload function
    "ft_payload_score" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val delimited = docs.select(col("doc_id"),
        concat_ws(" ", transform(TextOps.tokensOf("text"),
          (t, i) => concat(t, lit("|"), (i % 7).cast("string")))).as("ptext"))
      val pt = TextOps.payloadTable(delimited, "doc_id", "ptext")
      TextOps.payloadScore(pt, "doc_id", "spark", "avg")
        .select(col("doc_id"), round(col("payload_score"), 5).as("payload_score"),
          col("n_payloads"))
    }),

    // BlendedInfixSuggester: doc suggestions scored by the earliest
    // matched-token position (linear blender), last token as prefix
    "ft_suggest_blended" -> ((s, d) => docIndex(s, d)
      .suggestBlendedInfix("query jo", 10)
      .select(col("docId").as("doc_id"), col("position"),
        round(col("score"), 5).as("score"))),

    // SimpleFacets option set: facet.prefix + excludeTerms + sort=index +
    // offset/limit paging on the engine's doc-values facet
    "ft_facet_prefix" -> ((s, d) => docIndex(s, d)
      .facetByFieldOpts(Seq("spark"), "source",
        prefix = Some("src1"), excludeTerms = Set("src15"),
        minCount = 1, limit = 5, offset = 1, sort = "index")),

    // RangeField (DoubleRange/DateRangeField) relations: 2-D doc ranges
    // vs a query box — interval predicates in pure codegen, pushed scans
    "rf_relations" -> ((s, d) => {
      val ev = rd(s, d, "events").select(col("event_id"),
        col("value").as("lo1"), (col("value") + col("event_id") % 50).as("hi1"),
        (col("event_id") % 100).cast("double").as("lo2"),
        (col("event_id") % 100 + 20).cast("double").as("hi2"))
      graft.operators.RangeField.relations(ev,
          Seq((col("lo1"), col("hi1")), (col("lo2"), col("hi2"))),
          qMin = Seq(50.0, 30.0), qMax = Seq(150.0, 80.0))
        .select("event_id", "intersects", "within", "contains", "crosses")
    }),

    // MoreLikeThisHandler interestingTerms=details: the tf·idf-ranked
    // term list MLT would query with, straight from the index's stats
    "ft_mlt_terms" -> ((s, d) => docIndex(s, d)
      .mltInterestingTerms("spark spark query join data handler7")
      .select(col("term"), col("tf").cast("int").as("tf"),
        col("df").cast("long").as("df"),
        round(col("weight"), 5).as("weight"))),

    // GeoPath corridor (lucene/spatial3d GeoStandardPath): distance-to-
    // polyline via exact spherical vector arithmetic, bucketed to 200 km
    // so libm trig ulps can't flip the hash (the fn_geodist pattern)
    "geo_path" -> ((s, d) => {
      val ev = rd(s, d, "events").select(col("event_id"),
        ((col("event_id") * 37 % 12000) / 100.0 - 60.0).as("lat"),
        ((col("event_id") * 73 % 30000) / 100.0 - 150.0).as("lon"))
      ev.select(floor(graft.operators.Geo.pathDistanceMeters(
            col("lat"), col("lon"), GeoPathRef) / 200000.0)
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count("*").as("n"))
    }),

    // payload() named function: per-doc payload fold with a default for
    // docs lacking the term (FloatPayloadValueSource)
    "fn_payload" -> ((s, d) => {
      val FP = graft.query.FuncParser
      val docs = rd(s, d, "documents")
      val delimited = docs.select(col("doc_id"),
        concat_ws(" ", transform(TextOps.tokensOf("text"),
          (t, i) => concat(t, lit("|"), (i % 7).cast("string")))).as("ptext"))
      val pt = TextOps.payloadTable(delimited, "doc_id", "ptext")
      val c = FP.compile(docs, "payload(ptext,'spark',0.5,average)",
        FP.Env(payloads = Some(pt)))
      c.df.select(col("doc_id"), round(c.value, 5).as("v"))
    }),

    // {!payload_check}: phrase match gated on per-position payload
    // equality (None = the reference's null wildcard slot)
    "qp_payload_check" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val delimited = docs.select(col("doc_id"),
        concat_ws(" ", transform(TextOps.tokensOf("text"),
          (t, i) => concat(t, lit("|"), (i % 7).cast("string")))).as("ptext"))
      val pt = TextOps.payloadTable(delimited, "doc_id", "ptext")
      TextOps.payloadCheck(pt, "doc_id", Seq("spark", "query"),
        Seq(None, Some(2f)))
    }),

    // Sampled facet with amortized counts (RandomSamplingFacetsCollector)
    "ft_facet_sampled" -> ((s, d) => R.facetSampled(
      rd(s, d, "documents"), "lang", "doc_id", sampleSize = 150L)),

    // Search-result clustering (solr/contrib/clustering, STC shape):
    // frequent-phrase base clusters over a 100-doc result window
    "cl_base" -> ((s, d) => ResultClustering.baseClusters(
      rd(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text")),
      "doc_id", "text", maxPhraseLen = 2, minDf = 3,
      stopRatio = 0.8, maxBaseClusters = 20)),

    // scoreNodes(): tf-idf re-ranking of gathered graph nodes — parts
    // reached by high-quantity lineitems, discounted by global part degree
    "q62_scorenodes" -> ((s, d) => {
      val li = rd(s, d, "lineitem")
      val gathered = li.filter(col("l_quantity") > 45)
        .groupBy(col("l_partkey").as("node")).agg(count(lit(1)).as("gathered"))
      R.scoreNodes(gathered, "node", "gathered", li, "l_partkey")
        .select(col("node"), col("gathered"), col("docFreq"),
          round(col("nodeScore"), 6).as("node_score"))
    }),

    // random() streaming expression: deterministic seeded hash shuffle
    "q63_random" -> ((s, d) => R.randomSample(
      rd(s, d, "documents").select("doc_id", "lang", "n_chars"),
      "doc_id", seed = 42L, k = 50)),

    // features() streaming expression: information-gain feature selection
    "cls_features" -> ((s, d) => {
      val docs = rd(s, d, "documents").select(col("doc_id"), col("text"),
        (col("lang") === "en").cast("int").as("y"))
      Classify.featuresIGain(docs, "doc_id", "text", "y", 1, 25)
        .select(col("term"), round(col("score"), 6).as("score"),
          col("docFreq").as("doc_freq"), round(col("idf"), 6).as("idf"))
    }),

    // train() streaming expression: deterministic batch-GD text logit —
    // predictions of the trained model (iterative => no SQL oracle;
    // ClassifySpec pins determinism + separation)
    "cls_logit" -> ((s, d) => {
      val docs = rd(s, d, "documents").select(col("doc_id"), col("text"),
        (col("lang") === "en").cast("int").as("y"))
      val feats = Classify.featuresIGain(docs, "doc_id", "text", "y", 1, 10)
        .collect().map(r => (r.getString(0), r.getDouble(3))).toSeq
      val model = Classify.trainLogistic(docs, "doc_id", "text", "y", 1,
        feats, iterations = 5, alpha = 0.1).last
      Classify.logitPredict(docs, "doc_id", "text", model)
        .select(col("doc_id"), round(col("prob"), 6).as("prob"), col("predicted"))
    }),

    // ---- lucene/expressions: JS-like scoring expressions -> codegen ----
    "expr_score" -> ((s, d) => rd(s, d, "documents").select(col("doc_id"),
      round(graft.functions.JsExpr.compile(
        "min(sqrt(n_chars), 50) + (n_chars > 500 ? 10 : 0) + ln(n_chars + 1) * 2"
      ), 5).as("expr_score"))),

    // ExpressionRescorer: first pass = n_chars (deterministic), top 100
    // rescored by an expression over _score and doc fields
    "expr_rescore" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val hits = docs.select(col("doc_id"), col("n_chars").cast("double").as("fp"))
      graft.functions.JsExpr.rescore(hits, docs, "doc_id", "fp",
          "_score * 0.001 + log10(n_chars + 1) * 3", 100)
        .select(col("doc_id"), round(col("score"), 5).as("score"),
          round(col("first_pass"), 5).as("first_pass"))
    }),

    // ---- Solr math-expression evaluators (solrj io/eval family, the
    // VERDICT-r3 "missing #6" surface) — Spark-first: series kernels as
    // narrow array transforms, hypothesis tests as distributed
    // sufficient-statistic aggregations, matrices as COO join+agg
    // (operators/MathEval.scala) ----

    // MovingAverage + MovingMedian evaluators over the per-type event
    // series: ONE groupBy assembles each series, the kernels are narrow
    // per-row transforms, posexplode restores a relational shape
    "me_moving" -> ((s, d) => {
      val ser = M.series(rd(s, d, "events"), "event_type", "event_id", "value")
      ser.select(col("event_type"), posexplode(M.movingAvgUdf(col("xs"), lit(7))))
        .withColumnRenamed("pos", "idx").withColumnRenamed("col", "ma")
        .join(
          ser.select(col("event_type"), posexplode(M.movingMedianUdf(col("xs"), lit(7))))
            .withColumnRenamed("pos", "idx").withColumnRenamed("col", "mm"),
          Seq("event_type", "idx"))
        .select(col("event_type"), col("idx"), round(col("ma"), 5).as("ma"),
          round(col("mm"), 5).as("mm"))
    }),

    // MovingMADEvaluator: window mean-absolute-deviation, same series
    "me_movingmad" -> ((s, d) =>
      M.series(rd(s, d, "events"), "event_type", "event_id", "value")
        .select(col("event_type"), posexplode(M.movingMadUdf(col("xs"), lit(7))))
        .select(col("event_type"), col("pos").as("idx"),
          round(col("col"), 5).as("mad"))),

    // FindDelayEvaluator: planted shift — the filter is the series' own
    // slice [11..42], so the |xcorr| peak is sharp and the recovered
    // delay is exactly 10
    "me_finddelay" -> ((s, d) =>
      M.series(rd(s, d, "events"), "event_type", "event_id", "value")
        .select(col("event_type"),
          M.findDelayUdf(col("xs"), slice(col("xs"), 11, 32)).as("delay"))),

    // EarthMoversEvaluator over consecutive embedding pairs: 1-D EMD as a
    // running-flow struct aggregate (codegen, no UDF)
    "me_emd" -> ((s, d) => {
      val e = rd(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      e.join(e.select((col("vec_id") - 1).as("vec_id"), col("v").as("v2")), "vec_id")
        .select(col("vec_id"), round(M.earthMovers(col("v"), col("v2")), 5).as("emd"))
    }),

    // FrequencyTableEvaluator over the language column
    "me_freqtable" -> ((s, d) => M.frequencyTable(rd(s, d, "documents"), "lang")
      .select(col("value"), col("cnt"), round(col("pct"), 6).as("pct"))),

    // ModeEvaluator (ties -> smallest value)
    "me_mode" -> ((s, d) => M.mode(rd(s, d, "documents"), "n_chars")),

    // HistogramEvaluator: 10 equal-width bins over n_chars
    "me_histogram" -> ((s, d) => M.histogram(rd(s, d, "documents"), "n_chars", 10)),

    // OutliersEvaluator: tails of Uniform(0,100) under the cdf thresholds
    "me_outliers" -> ((s, d) => M.outliers(rd(s, d, "events"), "value",
        M.uniformCdf(_, 0.0, 100.0), 0.05, 0.95)
      .select(col("event_id"), round(col("cdf"), 6).as("cdf"))),

    // TimeDifferencingEvaluator: lag-3 differenced series
    "me_timediff" -> ((s, d) =>
      M.series(rd(s, d, "events"), "event_type", "event_id", "value")
        .select(col("event_type"), posexplode(M.timeDiffUdf(col("xs"), lit(3))))
        .select(col("event_type"), col("pos").as("idx"),
          round(col("col"), 5).as("dif"))),

    // ConvolutionEvaluator: per-language n_chars series (doc_id<64) ⊛ a
    // fixed [1, 1/2, 1/4] kernel (dyadic ⇒ exact float arithmetic)
    "me_convolve" -> ((s, d) => {
      val docs = rd(s, d, "documents").filter(col("doc_id") < 64)
        .withColumn("v", (col("n_chars") % 10).cast("double"))
      M.series(docs, "lang", "doc_id", "v")
        .select(col("lang"), posexplode(M.convolveUdf(col("xs"),
          array(lit(1.0), lit(0.5), lit(0.25)))))
        .select(col("lang"), col("pos").as("k"), round(col("col"), 5).as("c"))
    }),

    // FFTEvaluator: per-type 16-point series → magnitude spectrum. The
    // oracle recomputes the same spectrum as a naive DFT (cos/sin sums) —
    // butterfly-vs-naive agree far below the round-5 comparison
    "me_fft" -> ((s, d) => {
      val first16 = rd(s, d, "events")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("event_type")
            .orderBy("event_id")))
        .filter(col("rn") <= 16)
      M.series(first16, "event_type", "event_id", "value")
        .select(col("event_type"), posexplode(M.fftMagUdf(col("xs"))))
        .select(col("event_type"), col("pos").as("k"),
          round(col("col"), 5).as("mag"))
    }),

    // Distribution-evaluator battery (Poisson/Binomial/Uniform/Exponential/
    // Weibull/Triangular/ZipF pmf+cdf) — closed-form Column arithmetic,
    // fully codegen, over k = doc_id % 16
    "me_dist" -> ((s, d) => rd(s, d, "documents")
      .select((col("doc_id") % 16).as("k")).distinct()
      .select(col("k"),
        round(M.poissonPmf(col("k"), 4.0), 6).as("pois"),
        round(M.poissonCdf(col("k"), 4.0), 6).as("pois_cdf"),
        round(M.binomialPmf(col("k"), 16, 0.3), 6).as("binom"),
        round(M.uniformCdf(col("k"), 2.0, 12.0), 6).as("unif"),
        round(M.exponentialCdf(col("k"), 5.0), 6).as("expo"),
        round(M.weibullCdf(col("k"), 1.5, 5.0), 6).as("weib"),
        round(M.triangularCdf(col("k"), 0.0, 6.0, 16.0), 6).as("tri"),
        round(M.zipfPmf(col("k") + 1, 16, 1.1), 6).as("zipf"),
        round(M.geometricPmf(col("k"), 0.25), 6).as("geom"),
        round(M.geometricCdf(col("k"), 0.25), 6).as("geom_cdf"),
        round(M.uniformIntegerCdf(col("k"), 2, 13), 6).as("uint"))),

    // EmpiricalDistributionEvaluator as a distributed ecdf (rank window)
    "me_ecdf" -> ((s, d) => M.empiricalCdf(
        rd(s, d, "documents").select(col("doc_id"), col("n_chars")), "n_chars")
      .select(col("doc_id"), round(col("ecdf"), 6).as("ecdf"))),

    // TTestEvaluator (Welch): sufficient stats in one distributed agg;
    // the t→p step is spec-tested vs commons-math3 (no erf in DuckDB)
    "me_ttest" -> ((s, d) => M.tTestWelch(rd(s, d, "events"), "value",
        "event_type", "click", "view")
      .select(round(col("t_stat"), 5).as("t_stat"),
        round(col("t_df"), 3).as("t_df"))),

    // PairedTTestEvaluator: t over per-row differences, one agg pass
    "me_ttest_paired" -> ((s, d) => M.pairedTTest(
        rd(s, d, "lineitem").select(col("l_quantity").as("a"),
          (col("l_discount") * 100).as("b")), "a", "b")
      .select(round(col("t_stat"), 5).as("t_stat"),
        round(col("t_df"), 2).as("t_df"))),

    // KolmogorovSmirnovEvaluator vs Uniform(0,100): D from the distributed
    // cumCounts run-endpoint form (p-value spec-tested vs commons-math3)
    "me_ks" -> ((s, d) => M.ksUniform(rd(s, d, "events"), "value", 0.0, 100.0)
      .select(round(col("d_stat"), 6).as("d_stat"))),

    // AnovaEvaluator: F across all five event types from one grouped pass
    "me_anova" -> ((s, d) => M.anova(rd(s, d, "events"), "value", "event_type")
      .select(round(col("f_ratio"), 4).as("f_ratio"))),

    // MannWhitneyUEvaluator: tie-averaged ranks via a distributed window
    "me_mannwhitney" -> ((s, d) => M.mannWhitneyU(rd(s, d, "events"), "value",
        "event_type", "click", "view")
      .select(round(col("u1"), 2).as("u1"), round(col("u2"), 2).as("u2"))),

    // ChiSquareDataSetEvaluator between the two event_id parities
    "me_chisq" -> ((s, d) => {
      val ev = rd(s, d, "events")
      val c1 = ev.filter(col("event_id") % 2 === 0).groupBy("event_type").count()
      val c2 = ev.filter(col("event_id") % 2 === 1).groupBy("event_type").count()
      M.chiSquareDataSets(c1, c2, "event_type", "count")
        .select(round(col("chi2"), 5).as("chi2"))
    }),

    // TemporalEvaluator* family (year/month/day/dayOfYear/hour/minute/
    // second/week/quarter/epoch) — Spark built-ins by design; the battery
    // pins their semantics against DuckDB's date-part functions
    "me_temporal" -> ((s, d) => rd(s, d, "events")
      .select(col("event_id"),
        year(col("ts")).as("y"), month(col("ts")).as("mo"),
        dayofmonth(col("ts")).as("dom"), dayofyear(col("ts")).as("doy"),
        hour(col("ts")).as("h"), minute(col("ts")).as("mi"),
        second(col("ts")).as("sec"), weekofyear(col("ts")).as("wk"),
        quarter(col("ts")).as("q"),
        unix_timestamp(col("ts")).as("epoch_s"))),

    // GTestDataSetEvaluator between the two event_id parities (statistic;
    // the G→p step is spec-tested — no chi² CDF in DuckDB)
    "me_gtest" -> ((s, d) => {
      val ev = rd(s, d, "events")
      val c1 = ev.filter(col("event_id") % 2 === 0).groupBy("event_type").count()
      val c2 = ev.filter(col("event_id") % 2 === 1).groupBy("event_type").count()
      M.gTestDataSets(c1, c2, "event_type", "count")
        .select(round(col("g_stat"), 5).as("g_stat"))
    }),

    // DbscanEvaluator, distributed (eps-grid + core counts + CC): planted
    // well-separated blobs ⇒ every point core, cluster = min blob id.
    // doc_id < 800 caps the blob size so the (intentionally) fully-dense
    // planted blobs stay O(1) work across SFs
    "me_dbscan" -> ((s, d) => {
      val pts = rd(s, d, "documents").filter(col("doc_id") < 800)
        .select(col("doc_id").as("id"),
          array((col("doc_id") % 4) * 10 + (col("doc_id") % 7) * 0.01,
            (col("doc_id") % 4) * 10 + (col("doc_id") % 5) * 0.01).as("vec"))
      M.dbscan(pts, "id", "vec", eps = 0.5, minPts = 3)
    }),

    // MatrixMultiplyEvaluator over COO frames: C = A·B is a keyed join on
    // the contraction index + grouped sum (distributed sparse matmul)
    "me_matmul" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val a = docs.groupBy((col("doc_id") % 7).as("i"), (col("doc_id") % 5).as("j"))
        .agg(sum(lit(1.0)).as("v"))
      val b = docs.groupBy((col("doc_id") % 5).as("i"), (col("doc_id") % 3).as("j"))
        .agg(sum((col("doc_id") % 4 + 1).cast("double")).as("v"))
      M.matMul(a, b).select(col("i"), col("j"), round(col("v"), 2).as("v"))
    }),

    // ConvexHullEvaluator, distributed (hull of per-partition hulls): the
    // planted 25×20 lattice's hull is its four corners — SF-invariant
    // because both coordinates are modular
    "me_convexhull" -> ((s, d) => M.convexHull(
      rd(s, d, "documents").select(
        (col("doc_id") % 25).cast("double").as("x"),
        ((col("doc_id") / 25).cast("long") % 20).cast("double").as("y")),
      "x", "y")),

    // EnclosingDiskEvaluator: Welzl over the same lattice hull — the
    // rectangle's circumcircle in closed form
    "me_enclosingdisk" -> ((s, d) => M.enclosingDisk(
        rd(s, d, "documents").select(
          (col("doc_id") % 25).cast("double").as("x"),
          ((col("doc_id") / 25).cast("long") % 20).cast("double").as("y")),
        "x", "y")
      .select(col("center_x"), col("center_y"), round(col("radius"), 6).as("radius"))),

    // CorrelationEvaluator (matrix mode): all pairwise Pearson in ONE pass
    "me_corr" -> ((s, d) => M.corrMatrix(rd(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      .select(col("c1"), col("c2"), round(col("corr"), 6).as("r"))),

    // OLSRegressionEvaluator: distributed normal equations (X'X in one
    // agg), k×k solve on the driver
    "me_ols" -> ((s, d) => {
      val coefs = M.olsRegress(rd(s, d, "lineitem"), "l_extendedprice",
        Seq("l_quantity"))
      s.createDataFrame(coefs.toSeq.zipWithIndex.map { case (c, i) => (i, c) })
        .toDF("term", "coef")
        .select(col("term"), round(col("coef"), 4).as("coef"))
    }),

    // KnnRegressionEvaluator: broadcast test points, per-point rank window
    "me_knn" -> ((s, d) => {
      val test = s.createDataFrame(Seq(Tuple1(5.0), Tuple1(17.0), Tuple1(29.0),
        Tuple1(41.0))).toDF("l_quantity")
      M.knnRegress(rd(s, d, "lineitem"), test, "l_quantity", "l_extendedprice",
          10, Seq("l_orderkey", "l_linenumber"))
        .select(col("q"), round(col("pred"), 4).as("pred"))
    }),

    // KmeansEvaluator: Lloyd's over a typed mean-vector aggregation with
    // deterministic farthest-point init; planted well-separated clusters
    // force the assignment, canonicalized by min-id representative
    "me_kmeans" -> ((s, d) => {
      val pts = rd(s, d, "documents").select(col("doc_id").as("id"),
        array(((col("doc_id") % 3) * 100 + col("doc_id") % 5).cast("double"),
          ((col("doc_id") % 3) * 100).cast("double")).as("vec"))
      val (assign, _) = M.kmeans(pts, "id", "vec", 3, 5)
      assign.select(col("id"), expr("min(id) OVER (PARTITION BY cluster)").as("rep"))
    }),

    // FuzzyKmeansEvaluator: u^m-weighted Lloyd's, deterministic init —
    // planted separation forces hard labels; canonical min-id relabel
    "me_fuzzykmeans" -> ((s, d) => {
      val pts = rd(s, d, "documents").select(col("doc_id").as("id"),
        array(((col("doc_id") % 3) * 100 + col("doc_id") % 7).cast("double"),
          ((col("doc_id") % 3) * 100 + col("doc_id") % 5).cast("double")).as("vec"))
      val (assign, _) = M.fuzzyKmeans(pts, "id", "vec", 3, m = 2.0, iters = 6)
      assign.select(col("id"), expr("min(id) OVER (PARTITION BY cluster)").as("rep"))
    }),

    // GaussFitEvaluator: fit of an exact planted gaussian reproduces the
    // generating curve (fitted values oracle against the closed form)
    "me_gaussfit" -> ((s, d) => {
      val base = rd(s, d, "documents").filter(col("doc_id") < 32)
        .select(lit(1).as("g"), col("doc_id").as("i"),
          col("doc_id").cast("double").as("x"),
          (lit(4.0) * exp(-pow(col("doc_id") - lit(16.0), 2) / lit(50.0))).as("y"))
      M.series(base, "g", "i", "x")
        .join(M.series(base, "g", "i", "y").withColumnRenamed("xs", "ys"), "g")
        .select(posexplode(M.gaussFitUdf(col("xs"), col("ys"))))
        .select(col("pos").as("i"), round(col("col"), 5).as("fit"))
    }),

    // HarmonicFitEvaluator: planted sinusoid, same derived-oracle shape
    "me_harmonicfit" -> ((s, d) => {
      val base = rd(s, d, "documents").filter(col("doc_id") < 64)
        .select(lit(1).as("g"), col("doc_id").as("i"),
          col("doc_id").cast("double").as("x"),
          (lit(2.5) * sin(col("doc_id") * lit(0.7) + lit(0.3))).as("y"))
      M.series(base, "g", "i", "x")
        .join(M.series(base, "g", "i", "y").withColumnRenamed("xs", "ys"), "g")
        .select(posexplode(M.harmonicFitUdf(col("xs"), col("ys"))))
        .select(col("pos").as("i"), round(col("col"), 5).as("fit"))
    }),

    // Distance-evaluator family (Manhattan/Euclidean/Chebyshev/Canberra/
    // L1/L∞) over consecutive embedding pairs — pure higher-order-function
    // Column arithmetic, codegen, no UDF
    "me_distances" -> ((s, d) => {
      val e = rd(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      e.join(e.select((col("vec_id") - 1).as("vec_id"), col("v").as("v2")), "vec_id")
        .select(col("vec_id"),
          round(M.manhattan(col("v"), col("v2")), 5).as("man"),
          round(M.euclidean(col("v"), col("v2")), 5).as("euc"),
          round(M.chebyshev(col("v"), col("v2")), 5).as("cheb"),
          round(M.canberra(col("v"), col("v2")), 5).as("canb"),
          round(M.l1Norm(col("v")), 5).as("l1"),
          round(M.lInfNorm(col("v")), 5).as("linf"))
    }),

    // ---- Solr analytics contrib (solr/contrib/analytics): expression
    // reductions + value/range/pivot/query facets (Analytics.scala) ----

    // SortedListCollector order statistics — reference index rules
    // (PercentileFunction.java:107 round(p*n-.5), OrdinalFunction.java:105-110
    // 1-based / negative-from-top, MedianCalculator.java:34-42 even-average);
    // all five stats share ONE rank shuffle (same value expression)
    "an_orderstats" -> ((s, d) =>
      A.orderStats(rd(s, d, "lineitem"), Seq("l_returnflag"), Seq(
        A.OrderStat("p25", col("l_quantity"), A.Pct(0.25)),
        A.OrderStat("p95", col("l_quantity"), A.Pct(0.95)),
        A.OrderStat("med", col("l_quantity"), A.Med),
        A.OrderStat("o3", col("l_quantity"), A.Ord(3)),
        A.OrderStat("otop2", col("l_quantity"), A.Ord(-2))))
      .select(col("l_returnflag"), round(col("p25"), 4).as("p25"),
        round(col("p95"), 4).as("p95"), round(col("med"), 4).as("med"),
        round(col("o3"), 4).as("o3"), round(col("otop2"), 4).as("otop2"))),

    // RangeFacet: gap list [20000, 50000] (last repeats), soft end extends
    // 150000 -> 171000, before/after/between rows (FacetRangeGenerator.java:154-196)
    "an_rangefacet" -> ((s, d) => A.rangeFacet(rd(s, d, "orders"),
      col("o_totalprice"), 1000, 150000, Seq(20000, 50000),
      others = Set("before", "after", "between"),
      metrics = Seq("tp" -> round(sum("o_totalprice"), 2)))),

    // ValueFacet + SortableFacet: buckets sorted by metric desc with value
    // tie-break, offset/limit paging (facet/ValueFacet.java, SortableFacet.java)
    "an_valuefacet" -> ((s, d) => A.valueFacet(rd(s, d, "part"), "p_brand",
      Seq("n" -> count(lit(1)), "rp" -> round(sum("p_retailprice"), 2)),
      sortBy = "n", limit = 5, offset = 2)),

    // Two-level PivotFacet: top parents by count, top children within each
    // kept parent (facet/PivotFacet.java)
    "an_pivotfacet" -> ((s, d) => A.pivotFacet2(rd(s, d, "orders"),
      "o_orderpriority", "o_orderstatus", limit1 = 3, limit2 = 2,
      metrics = Seq("tp" -> round(sum("o_totalprice"), 2)))),

    // QueryFacet: named query domains, every metric a conditional aggregate
    // — ONE pass over the table (facet/QueryFacet.java)
    "an_queryfacet" -> ((s, d) => A.queryFacet(rd(s, d, "lineitem"),
      queries = Seq("low" -> (col("l_quantity") <= 10),
                    "high" -> (col("l_quantity") > 40)),
      metrics = Seq(
        "n" -> (q => count(when(q, 1))),
        "rev" -> (q => round(sum(when(q, col("l_extendedprice"))), 2))))),

    // Full analytics request: mapping function (filter -> missing) feeding
    // simple reductions (count/docCount/missing/unique/mean) + a median,
    // joined on the grouping (function/ReductionCollectionManager.java)
    "an_request" -> ((s, d) => A.request(
      rd(s, d, "lineitem").withColumn("dp",
        A.filterF(col("l_extendedprice") * (lit(1) - col("l_discount")),
          col("l_quantity") > 5)),
      Seq("l_linestatus"),
      simple = Seq("n" -> A.countValues(col("dp")),
        "docs" -> A.docCount(col("dp")),
        "miss" -> A.missingCount(col("dp")),
        "uniq" -> A.uniqueCount(col("l_returnflag")),
        "mean" -> round(A.meanF(col("dp")), 4)),
      order = Seq(A.OrderStat("medq", col("l_quantity"), A.Med)))
      .select(col("l_linestatus"), col("n"), col("docs"), col("miss"),
        col("uniq"), col("mean"), round(col("medq"), 4).as("medq"))),

    // RelatednessAgg: per-bucket fg-vs-bg semantic significance — z-score
    // through the 5-sigmoid blend (search/facet/RelatednessAgg.java:473),
    // fg/bg popularity normalized by BACKGROUND size (:356). One pass +
    // broadcast set sizes.
    "an_relatedness" -> ((s, d) => A.relatedness(rd(s, d, "documents"),
      "source", col("text").contains("data")))
  )

  /** Fixed monitor registry for `mon_percolate` (vocabulary terms of the
    * documents table; the AND anchor is 'stream', the longest term). */
  private val MonitorRegistry: Seq[Monitor.MQuery] = Seq(
    Monitor.TermQ("mq_spark", "spark"),
    Monitor.AndQ("mq_and", Seq("group", "stream")),
    Monitor.OrQ("mq_or", Seq("slow", "vector")),
    Monitor.PhraseQ("mq_phrase", Seq("data", "group")),
    // un-anchorable wildcard -> ANYTOKEN presearcher path
    Monitor.WildcardQ("mq_wild", "str"),
    // negation enforced at verification; only the positive part anchors
    Monitor.NotQ("mq_not", Monitor.TermQ("mq_not_inc", "data"), Seq("slow")))

  /** DuckDB-runnable oracles. Keys absent here (q30_hll, dd_minhash,
    * dd_simhash, sim_ann, sim_ivf) are approximate/recall-based paths
    * (covered by ScalaTest recall bounds vs the brute-force baseline);
    * the flagship engine paths ft_engine_topk/ft_engine_wand oracle via
    * the quantized-norm derived twin ([[engineTopKSql]]). */
  def oracleSql: Map[String, String] = {
    val tok = "SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents"
    val base = Map(
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
          | round(sum(l_extendedprice),2) AS sum_price, round(avg(l_quantity),4) AS avg_qty,
          | count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
      "q10_cube" ->
        """SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag) AS INT) AS grp_rf,
          | CAST(GROUPING(l_linestatus) AS INT) AS grp_ls, count(*) AS cnt,
          | round(sum(l_quantity),2) AS sum_qty
          | FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
      "q11_having" ->
        """SELECT l_suppkey, round(sum(l_quantity),2) AS sum_qty FROM lineitem
          | GROUP BY l_suppkey HAVING round(sum(l_quantity),2) > 300""".stripMargin,
      "q14_stats" ->
        """SELECT count(*) AS n, count(DISTINCT l_partkey) AS n_parts,
          | round(avg(l_quantity),4) AS avg_qty, round(stddev_samp(l_quantity),4) AS std_qty,
          | round(var_samp(l_quantity),4) AS var_qty,
          | round(sum(l_quantity * l_quantity),2) AS sumsq_qty,
          | round(quantile_cont(l_quantity, 0.5),4) AS med_qty FROM lineitem""".stripMargin,
      "q17_percentile" ->
        """SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5),4) AS p50,
          | round(quantile_cont(l_extendedprice, 0.9),4) AS p90
          | FROM lineitem GROUP BY l_returnflag""".stripMargin,
      // tolerance-band oracles for the approximate sketches: the Spark side
      // emits in-band booleans, the oracle expects all-true (see q67/q68
      // scaladoc in `queries`)
      "q67_percentile_sketch" ->
        "SELECT l_returnflag, true AS p50_ok, true AS p90_ok FROM lineitem GROUP BY l_returnflag",
      "q68_hll_bound" ->
        "SELECT event_type, true AS hll_ok FROM events GROUP BY event_type",
      // Spark's skewness/kurtosis are POPULATION moments (g1, excess g2);
      // DuckDB's builtins are sample-corrected — the oracle computes the
      // population definitions from explicit central moments
      "q47_statfuncs" ->
        """WITH m AS (SELECT avg(l_quantity) AS mu FROM lineitem),
          | c AS (SELECT sum(pow(l_quantity - mu, 2)) / count(*) AS m2,
          |        sum(pow(l_quantity - mu, 3)) / count(*) AS m3,
          |        sum(pow(l_quantity - mu, 4)) / count(*) AS m4
          |  FROM lineitem, m GROUP BY mu)
          | SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
          | round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
          | round(c.m3 / pow(sqrt(c.m2), 3), 6) AS skew_q,
          | round(c.m4 / pow(c.m2, 2) - 3, 6) AS kurt_q,
          | round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
          | round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept
          | FROM lineitem, c GROUP BY c.m2, c.m3, c.m4""".stripMargin,
      "q51_collapse" ->
        s"""WITH scored AS (SELECT * FROM (${bm25Sql(Seq("spark", "query", "join"), "or", Nil)})),
           | j AS (SELECT s.doc_id, s.score, d.source
           |   FROM scored s JOIN documents d USING (doc_id)),
           | r AS (SELECT *,
           |   row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rn,
           |   CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS group_size FROM j)
           | SELECT doc_id, score, source, group_size FROM r WHERE rn = 1""".stripMargin,
      "q52_rerank" -> reRankSql(Seq("spark", "query"), Seq("join", "data"), 50, 2.0),
      "q54_elevate" ->
        s"""WITH scored AS (SELECT * FROM (${bm25Sql(Seq("spark", "query"), "or", Nil)})),
           | pins(doc_id, pin_pos) AS (VALUES (7, 1), (3, 2)),
           | kept AS (SELECT * FROM scored WHERE doc_id <> 11)
           | SELECT k.doc_id, k.score, coalesce(p.pin_pos, 0) AS pin_pos,
           |   coalesce(p.pin_pos, 0) > 0 AS elevated
           |  FROM kept k LEFT JOIN pins p USING (doc_id)
           | UNION ALL
           | SELECT p.doc_id, 0.0 AS score, p.pin_pos, TRUE AS elevated FROM pins p
           |  WHERE p.doc_id NOT IN (SELECT doc_id FROM kept)""".stripMargin,
      "q56_gather" ->
        s"""WITH RECURSIVE $GraphEdgesSql,
           | walk(node, depth) AS (
           |   SELECT CAST(1 AS BIGINT), 0
           |   UNION ALL
           |   SELECT e.dst, w.depth + 1 FROM walk w JOIN e ON e.src = w.node
           |    WHERE w.depth < 3)
           | SELECT node, CAST(min(depth) AS INT) AS depth FROM walk GROUP BY node""".stripMargin,
      "q57_shortest" ->
        s"""WITH RECURSIVE $GraphEdgesSql,
           | walk(node, path, depth) AS (
           |   SELECT CAST(1 AS BIGINT), CAST('1' AS VARCHAR), 0
           |   UNION ALL
           |   SELECT e.dst, w.path || '->' || CAST(e.dst AS VARCHAR), w.depth + 1
           |   FROM walk w JOIN e ON e.src = w.node
           |   WHERE w.depth < 6 AND w.node <> 20),
           | hits AS (SELECT path, depth FROM walk WHERE node = 20)
           | SELECT path, CAST(depth AS INT) AS depth FROM hits
           |  WHERE depth = (SELECT min(depth) FROM hits)""".stripMargin,
      "q55_boost" ->
        s"""WITH scored AS (SELECT * FROM (${bm25Sql(Seq("spark", "join"), "or", Nil)})),
           | f AS (SELECT doc_id, round(1000.0 / (n_chars + 1000.0), 6) AS boost FROM documents)
           | SELECT s.doc_id, round(s.score * greatest(f.boost, 0), 5) AS score
           |  FROM scored s JOIN f USING (doc_id)""".stripMargin,
      "q53_pivot" ->
        """WITH ab AS (SELECT lang, source, count(*) AS count_b FROM documents GROUP BY lang, source),
          | l1 AS (SELECT lang, CAST(sum(count_b) AS BIGINT) AS count_a FROM ab GROUP BY lang),
          | keep AS (SELECT * FROM l1 ORDER BY count_a DESC, lang ASC LIMIT 3),
          | nested AS (SELECT ab.lang, keep.count_a, ab.source, ab.count_b,
          |     row_number() OVER (PARTITION BY ab.lang ORDER BY ab.count_b DESC, ab.source ASC) AS rn
          |   FROM ab JOIN keep USING (lang))
          | SELECT lang, count_a, source, count_b FROM nested WHERE rn <= 2""".stripMargin,
      "q2_join_inner" ->
        """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice),2) AS total
          | FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""".stripMargin,
      "q3_join_broadcast" ->
        """SELECT p_brand, count(*) AS n, round(sum(l_quantity),2) AS qty
          | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""".stripMargin,
      "q4_join_left_outer" ->
        """SELECT c_custkey, count(o_orderkey) AS n_orders FROM customer
          | LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey""".stripMargin,
      "q5_semi_join" ->
        """SELECT c_custkey FROM customer WHERE c_custkey IN
          | (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin,
      "q6_anti_join" ->
        """SELECT c_custkey FROM customer WHERE c_custkey NOT IN
          | (SELECT o_custkey FROM orders)""".stripMargin,
      "q41_parent_child" ->
        """WITH ch AS (SELECT l_orderkey AS o_orderkey, count(*) AS n_matching_children
          |  FROM lineitem WHERE l_quantity >= 45 GROUP BY l_orderkey)
          | SELECT o.o_orderkey, o.o_orderstatus, ch.n_matching_children
          | FROM orders o JOIN ch ON o.o_orderkey = ch.o_orderkey""".stripMargin,
      "q65_tochild" ->
        """SELECT l.l_orderkey * 10 + l.l_linenumber AS line_id, l.l_orderkey,
          |   CAST(o.o_totalprice AS DOUBLE) AS parent_score
          | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          | WHERE o.o_totalprice > 300000""".stripMargin,
      "tr_child" ->
        """WITH ch AS (SELECT l_orderkey, l_linenumber,
          |   row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rk
          |  FROM lineitem WHERE l_quantity >= 25),
          | agg AS (SELECT l_orderkey AS o_orderkey,
          |   string_agg(CASE WHEN rk <= 3 THEN CAST(l_linenumber AS VARCHAR) END, ','
          |     ORDER BY l_linenumber) AS child_ids,
          |   count(*) AS child_numfound FROM ch GROUP BY l_orderkey)
          | SELECT o.o_orderkey, o.o_orderstatus,
          |  coalesce(agg.child_ids, '') AS child_ids,
          |  coalesce(agg.child_numfound, 0) AS child_numfound
          | FROM orders o LEFT JOIN agg USING (o_orderkey)""".stripMargin,
      "tr_subquery" ->
        """WITH sub AS (SELECT s_nationkey, s_suppkey,
          |   row_number() OVER (PARTITION BY s_nationkey
          |     ORDER BY s_acctbal DESC, s_suppkey) AS rk
          |  FROM supplier WHERE s_acctbal >= 0),
          | agg AS (SELECT s_nationkey AS c_nationkey,
          |   string_agg(CASE WHEN rk <= 3 THEN CAST(s_suppkey AS VARCHAR) END, ','
          |     ORDER BY rk) AS sup_ids,
          |   count(*) AS sup_numfound FROM sub GROUP BY s_nationkey)
          | SELECT c.c_custkey, c.c_nationkey,
          |  coalesce(agg.sup_ids, '') AS sup_ids,
          |  coalesce(agg.sup_numfound, 0) AS sup_numfound
          | FROM customer c LEFT JOIN agg USING (c_nationkey)""".stripMargin,
      "q48_blockjoin_max" ->
        """WITH ch AS (SELECT l_orderkey AS o_orderkey, max(l_extendedprice) AS score,
          |  count(*) AS n_matching_children
          |  FROM lineitem WHERE l_quantity >= 45 GROUP BY l_orderkey)
          | SELECT o.o_orderkey, o.o_orderstatus, ch.score, ch.n_matching_children
          | FROM orders o JOIN ch ON o.o_orderkey = ch.o_orderkey""".stripMargin,
      "q49_blockjoin_avg" ->
        """WITH ch AS (SELECT l_orderkey AS o_orderkey, round(avg(l_extendedprice), 5) AS score,
          |  count(*) AS n_matching_children
          |  FROM lineitem WHERE l_quantity >= 45 GROUP BY l_orderkey)
          | SELECT o.o_orderkey, ch.score, ch.n_matching_children
          | FROM orders o JOIN ch ON o.o_orderkey = ch.o_orderkey""".stripMargin,
      "q22_fetch" ->
        """WITH dim AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
          | SELECT event_id, user_id, n_events FROM events LEFT JOIN dim USING(user_id)
          | WHERE event_id < 1000""".stripMargin,
      "q7_topk" ->
        """SELECT o_orderkey, o_totalprice FROM orders
          | ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
      "q8_distinct" ->
        "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
      "q18_merge" ->
        """SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS od FROM orders
          | WHERE o_orderstatus IN ('F','O')
          | ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 200""".stripMargin,
      "q19_reduce" ->
        """SELECT l_returnflag, string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
          | FROM lineitem GROUP BY l_returnflag""".stripMargin,
      "q15_grouping_top2" ->
        """SELECT o_custkey, o_orderkey, rn FROM (
          | SELECT o_custkey, o_orderkey, row_number() OVER
          |  (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          | FROM orders) WHERE rn <= 2""".stripMargin,
      "q9_unnest" ->
        s"""SELECT doc_id, tok FROM ($tok) WHERE doc_id < 20""",
      "q12_select_funcs" ->
        """SELECT l_orderkey, l_linenumber, round(sqrt(l_quantity),6) AS r1,
          | round(ln(l_extendedprice),6) AS r2, round(pow(l_discount + 1, 2),6) AS r3,
          | l_returnflag || '-' || l_linestatus AS s, upper(l_linestatus) AS u,
          | length(l_returnflag) AS len FROM lineitem WHERE l_orderkey <= 100""".stripMargin,
      "q29_stfe" ->
        """SELECT event_type, count(*) AS n,
          | CAST(sum(CAST(regexp_extract(props, '"k"\s*:\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
          | FROM events GROUP BY event_type""".stripMargin,
      // floor(epoch), not epoch::BIGINT: DuckDB's double->bigint cast
      // ROUNDS half-up, bumping an event within 0.5s below a bucket
      // boundary into the next bucket; the engine floors (timestamp->long
      // truncation) — exposed by a boundary event present at sf>=0.1
      "q39_dyn_timeline" ->
        """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 10800) * 10800 AS bucket_start,
          | count(*) AS cnt FROM events GROUP BY 1""".stripMargin,
      "q40_salted" ->
        """SELECT l_returnflag, round(sum(l_quantity),2) AS sum_qty, count(*) AS cnt
          | FROM lineitem GROUP BY l_returnflag""".stripMargin,
      "q13_timeseries" ->
        """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket, event_type,
          | count(*) AS cnt, round(sum(value),2) AS sum_value
          | FROM events GROUP BY 1, 2""".stripMargin,
      "q28_datemath" ->
        """SELECT event_type, count(*) AS n FROM events
          | WHERE ts >= (SELECT date_trunc('day', max(ts)) - INTERVAL 7 DAY FROM events)
          | GROUP BY event_type""".stripMargin,
      "q23_range" ->
        """SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice),2) AS rev
          | FROM lineitem WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31 23:59:59'
          | AND l_quantity BETWEEN 10 AND 20 GROUP BY l_returnflag""".stripMargin,
      "q24_prefix" ->
        s"""WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM ($tok) GROUP BY doc_id, tok)
           | SELECT tok AS term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf FROM tf
           | WHERE tok LIKE 's%' GROUP BY tok""".stripMargin,
      "q25_regex" ->
        s"""WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM ($tok) GROUP BY doc_id, tok)
           | SELECT tok AS term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf FROM tf
           | WHERE regexp_matches(tok, '^[a-z]*o[a-z]*r$$') GROUP BY tok""".stripMargin,
      "q26_fuzzy" ->
        s"""WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM ($tok) GROUP BY doc_id, tok)
           | SELECT tok AS term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf FROM tf
           | WHERE levenshtein(tok, 'spark') <= 1 GROUP BY tok""".stripMargin,
      "q27_termset" ->
        s"""WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM ($tok) GROUP BY doc_id, tok)
           | SELECT tok AS term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf FROM tf
           | WHERE tok IN ('spark','query','join','data') GROUP BY tok""".stripMargin,
      "q44_wildcard" ->
        s"""WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM ($tok) GROUP BY doc_id, tok)
           | SELECT tok AS term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf FROM tf
           | WHERE tok LIKE 's_a%' GROUP BY tok""".stripMargin,
      "q45_termrange" ->
        s"""WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM ($tok) GROUP BY doc_id, tok)
           | SELECT tok AS term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf FROM tf
           | WHERE tok >= 'm' AND tok < 'q' GROUP BY tok""".stripMargin,
      "ft_engine_wildcard" ->
        s"""SELECT DISTINCT doc_id FROM ($tok) WHERE tok LIKE 's_a%'""",
      "ft_covering" ->
        """WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
          | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
          | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
          |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
          | qt AS (SELECT * FROM tf WHERE tok IN ('spark','query','data')),
          | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
          | sc AS (SELECT qt.doc_id,
          |   ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
          |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
          |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st),
          | agg AS (SELECT doc_id, sum(s) AS raw, count(*) AS nm FROM sc GROUP BY doc_id)
          | SELECT a.doc_id, round(a.raw, 5) AS score, a.nm AS n_matched
          | FROM agg a WHERE a.nm >= 1 + a.doc_id % 3""".stripMargin,
      "ft_wildcard_scored" ->
        """WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
          | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
          | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
          |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
          | qt AS (SELECT * FROM tf WHERE tok LIKE 'da%'),
          | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
          | sc AS (SELECT qt.doc_id,
          |   ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
          |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
          |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st)
          | SELECT doc_id, round(sum(s), 5) AS score FROM sc GROUP BY doc_id""".stripMargin,
      "ft_engine_termrange" ->
        s"""SELECT DISTINCT doc_id FROM ($tok) WHERE tok >= 'm' AND tok < 'q'""",
      "ft_engine_facet" ->
        s"""WITH m AS (SELECT DISTINCT doc_id FROM ($tok) WHERE tok = 'spark')
           | SELECT d.lang, count(*) AS count FROM m JOIN documents d ON m.doc_id = d.doc_id
           | GROUP BY d.lang ORDER BY count DESC, d.lang ASC""".stripMargin,
      "ft_engine_sortfield" ->
        s"""WITH m AS (SELECT DISTINCT doc_id FROM ($tok) WHERE tok = 'spark')
           | SELECT m.doc_id, d.lang FROM m JOIN documents d ON m.doc_id = d.doc_id
           | ORDER BY d.lang ASC, m.doc_id ASC LIMIT 100""".stripMargin,
      "ft_engine_cursor" ->
        s"""WITH m AS (SELECT DISTINCT doc_id FROM ($tok) WHERE tok = 'spark')
           | SELECT m.doc_id, d.lang FROM m JOIN documents d ON m.doc_id = d.doc_id
           | ORDER BY d.lang ASC, m.doc_id ASC LIMIT 100 OFFSET 100""".stripMargin,
      "ft_engine_suggest" ->
        s"""WITH tf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ($tok) GROUP BY tok)
           | SELECT tok AS term, df FROM tf WHERE tok LIKE 's%'
           | ORDER BY df DESC, tok ASC LIMIT 10""".stripMargin,
      "ft_engine_suggest_fuzzy" ->
        s"""WITH tf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ($tok) GROUP BY tok),
           | cand AS (SELECT tok, df, least(
           |     CASE WHEN length(tok) >= 4 THEN damerau_levenshtein(substr(tok, 1, 4), 'sprak') ELSE 2147483647 END,
           |     CASE WHEN length(tok) >= 5 THEN damerau_levenshtein(substr(tok, 1, 5), 'sprak') ELSE 2147483647 END,
           |     CASE WHEN length(tok) >= 6 THEN damerau_levenshtein(substr(tok, 1, 6), 'sprak') ELSE 2147483647 END) AS dist
           |   FROM tf WHERE tok LIKE 's%' AND length(tok) >= 4)
           | SELECT tok AS term, CAST(dist AS INT) AS dist, df FROM cand WHERE dist <= 1
           | ORDER BY df DESC, tok ASC LIMIT 10""".stripMargin,

      "ft_engine_spell" ->
        s"""WITH tf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ($tok) GROUP BY tok)
           | SELECT tok AS term, CAST(levenshtein(tok, 'spark') AS INT) AS dist, df
           | FROM tf WHERE levenshtein(tok, 'spark') <= 2 AND tok <> 'spark'
           | ORDER BY dist ASC, df DESC, tok ASC LIMIT 10""".stripMargin,
      "q60_children" ->
        """SELECT o.o_orderkey, count(l.l_linenumber) AS n_children,
          |  array_to_string(list_sort(list(l.l_linenumber)), ',') AS children_csv
          | FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          | GROUP BY o.o_orderkey""".stripMargin,
      "q58_scorejoin" ->
        s"""WITH sc AS (${bm25Sql(Seq("spark", "query"), "or", Nil)}),
           | j AS (SELECT d.source, sc.score FROM sc JOIN documents d ON sc.doc_id = d.doc_id)
           | SELECT source, round(max(score), 5) AS join_score FROM j GROUP BY source""".stripMargin,
      "q59_facet_missing" ->
        """SELECT CASE WHEN lang <> 'de' THEN lang END AS lang2, count(*) AS cnt
          | FROM documents GROUP BY 1 ORDER BY lang2 ASC NULLS LAST""".stripMargin,
      "ft_func_tfdf" ->
        """WITH t AS (SELECT doc_id,
          |   CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
          |     x -> x = 'spark')) AS BIGINT) AS tf_spark FROM documents),
          | d AS (SELECT CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df,
          |        CAST(count(*) AS DOUBLE) AS n FROM t)
          | SELECT doc_id, tf_spark, d.df AS df_spark,
          |  round(ln(1 + (d.n - d.df + 0.5) / (d.df + 0.5)), 5) AS idf_spark
          | FROM t, d""".stripMargin,
      "ft_sort_missing" ->
        """SELECT doc_id, CASE WHEN lang <> 'de' THEN lang END AS lang2
          | FROM documents ORDER BY lang2 ASC NULLS LAST, doc_id ASC LIMIT 50""".stripMargin,
      "ft_lmdirichlet" ->
        """WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
          | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
          | st AS (SELECT sum(tf) AS sum_ttf FROM tf),
          | qt AS (SELECT * FROM tf WHERE tok IN ('spark', 'query')),
          | ttfs AS (SELECT tok, sum(tf) AS ttf FROM qt GROUP BY tok),
          | sc AS (SELECT qt.doc_id,
          |   greatest(0.0, ln(1 + qt.tf / (2000.0 * ((ttfs.ttf + 1.0) / (st.sum_ttf + 1.0))))
          |     + ln(2000.0 / (dl.dl + 2000.0))) AS s
          |  FROM qt JOIN ttfs USING (tok) JOIN dl USING (doc_id) CROSS JOIN st)
          | SELECT doc_id, round(sum(s), 5) AS score FROM sc GROUP BY doc_id""".stripMargin,
      "ft_tfidf" ->
        """WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
          | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
          | n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          | qt AS (SELECT * FROM tf WHERE tok IN ('spark', 'query')),
          | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
          | sc AS (SELECT qt.doc_id,
          |   sqrt(qt.tf) * (1 + ln((n.n + 1.0) / (dfs.df + 1.0))) / sqrt(dl.dl) AS s
          |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, n)
          | SELECT doc_id, round(sum(s), 5) AS score FROM sc GROUP BY doc_id""".stripMargin,
      "ft_dfi" ->
        """WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
          | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
          | st AS (SELECT sum(tf) AS sum_ttf FROM tf),
          | qt AS (SELECT * FROM tf WHERE tok IN ('spark', 'query')),
          | ttfs AS (SELECT tok, sum(tf) AS ttf FROM qt GROUP BY tok),
          | sc AS (SELECT qt.doc_id,
          |   CASE WHEN qt.tf <= (ttfs.ttf + 1.0) * dl.dl / (st.sum_ttf + 1.0) THEN 0.0
          |   ELSE log2((qt.tf - (ttfs.ttf + 1.0) * dl.dl / (st.sum_ttf + 1.0))
          |     / sqrt((ttfs.ttf + 1.0) * dl.dl / (st.sum_ttf + 1.0)) + 1.0) END AS s
          |  FROM qt JOIN ttfs USING (tok) JOIN dl USING (doc_id) CROSS JOIN st)
          | SELECT doc_id, round(sum(s), 5) AS score FROM sc GROUP BY doc_id""".stripMargin,
      "ft_axiomatic" ->
        """WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
          | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
          | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
          |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
          | qt AS (SELECT * FROM tf WHERE tok IN ('spark', 'query')),
          | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
          | sc AS (SELECT qt.doc_id,
          |   qt.tf / (qt.tf + 0.25 + 0.25 * dl.dl / st.avgdl) * pow((st.n + 1.0) / dfs.df, 0.35) AS s
          |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st)
          | SELECT doc_id, round(sum(s), 5) AS score FROM sc GROUP BY doc_id""".stripMargin,
      "ft_export_sorted" ->
        s"""WITH m AS (SELECT DISTINCT doc_id FROM ($tok) WHERE tok = 'spark')
           | SELECT m.doc_id, d.lang FROM m JOIN documents d ON m.doc_id = d.doc_id""".stripMargin,
      "ft_suggest_context" ->
        s"""WITH tf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ($tok)
           |   WHERE lang = 'fr' AND tok LIKE 's%' GROUP BY tok)
           | SELECT tok AS term, df FROM tf ORDER BY df DESC, tok ASC LIMIT 10""".stripMargin,
      "ft_engine_fq" ->
        s"""SELECT m.doc_id FROM (SELECT DISTINCT doc_id FROM ($tok) WHERE tok = 'spark') m
           | JOIN documents d ON m.doc_id = d.doc_id WHERE d.source = 'src13'""".stripMargin,
      "ft_engine_suggest_ctx" ->
        s"""WITH m AS (SELECT DISTINCT tok, doc_id FROM ($tok) WHERE tok LIKE 's%'),
           | c AS (SELECT doc_id,
           |   CASE source WHEN 'src13' THEN 2.0 WHEN 'src7' THEN 1.0 END AS w
           |   FROM documents WHERE source IN ('src13','src7'))
           | SELECT m.tok AS term, round(sum(c.w), 5) AS score
           | FROM m JOIN c USING (doc_id) GROUP BY m.tok
           | ORDER BY score DESC, term ASC LIMIT 10""".stripMargin,
      "ft_phonetic" -> phoneticSql("joyn"),
      "ft_engine_suggest_infix" ->
        s"""WITH tf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ($tok) GROUP BY tok)
           | SELECT tok AS term, df FROM tf WHERE contains(tok, 'ar')
           | ORDER BY df DESC, tok ASC LIMIT 10""".stripMargin,
      "ft_spell_damerau" ->
        s"""WITH tf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ($tok) GROUP BY tok)
           | SELECT tok AS term, CAST(damerau_levenshtein(tok, 'sprak') AS INT) AS dist, df
           | FROM tf WHERE damerau_levenshtein(tok, 'sprak') <= 1 AND tok <> 'sprak'
           | ORDER BY dist ASC, df DESC, tok ASC LIMIT 10""".stripMargin,
      "ft_spell_collate" ->
        s"""WITH tf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ($tok) GROUP BY tok),
           | q AS (SELECT * FROM (VALUES (1, 'sprak'), (2, 'quary')) AS v(i, w)),
           | cand AS (SELECT i, w, tok AS term, levenshtein(w, tok) AS d, df
           |          FROM q, tf WHERE levenshtein(w, tok) <= 2),
           | best AS (SELECT i, term FROM (
           |   SELECT *, row_number() OVER (PARTITION BY i ORDER BY d ASC, df DESC, term ASC) AS rn
           |   FROM cand) WHERE rn = 1),
           | coll AS (SELECT array_to_string(list(term ORDER BY i), ' ') AS collated FROM best),
           | hits AS (SELECT count(*) AS n_hits FROM (
           |   SELECT doc_id FROM ($tok) WHERE tok IN (SELECT term FROM best)
           |   GROUP BY doc_id
           |   HAVING count(DISTINCT tok) = (SELECT count(DISTINCT term) FROM best)))
           | SELECT collated, n_hits FROM coll, hits""".stripMargin,
      "ft_engine_termvec" ->
        """WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents WHERE doc_id = 7)
          | SELECT tok AS term, count(*) AS tf,
          |  array_to_string(list(pos - 1 ORDER BY pos), ',') AS positions
          | FROM t GROUP BY tok""".stripMargin,
      "ft_facet_grouped" ->
        """SELECT event_type, count(DISTINCT user_id) AS group_count
          | FROM events GROUP BY event_type""".stripMargin,
      "ft_facet_range_other" ->
        """WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents),
          | b AS (SELECT 'range' AS kind, 0.0 + floor(v / 100.0) * 100.0 AS bucket_start,
          |        count(*) AS cnt
          |       FROM v WHERE v >= 0.0 AND v < 500.0 GROUP BY 2),
          | o AS (SELECT 'before' AS kind, CAST(NULL AS DOUBLE) AS bucket_start,
          |        count(*) FILTER (WHERE v < 0.0) AS cnt FROM v
          |   UNION ALL SELECT 'after', NULL,
          |        count(*) FILTER (WHERE v >= 500.0) FROM v
          |   UNION ALL SELECT 'between', NULL,
          |        count(*) FILTER (WHERE v >= 0.0 AND v < 500.0) FROM v)
          | SELECT * FROM b UNION ALL SELECT * FROM o""".stripMargin,
      "ft_engine_terms" ->
        s"""WITH tf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ($tok) GROUP BY tok)
           | SELECT tok AS term, df FROM tf WHERE regexp_matches(tok, '^[a-z]{4}$$')
           | ORDER BY tok ASC LIMIT 10""".stripMargin,
      "ft_facet_interval" ->
        """SELECT * FROM (
          | SELECT 'short' AS interval,
          |  (SELECT count(*) FROM documents WHERE n_chars >= 0 AND n_chars < 200) AS cnt
          | UNION ALL SELECT 'mid',
          |  (SELECT count(*) FROM documents WHERE n_chars >= 150 AND n_chars < 400)
          | UNION ALL SELECT 'long',
          |  (SELECT count(*) FROM documents WHERE n_chars >= 400))""".stripMargin,
      "ft_facet_taxonomy" ->
        """WITH t AS (SELECT lang || '/' || source AS path FROM documents),
          | p AS (SELECT string_split(path, '/') AS parts FROM t),
          | pref AS (SELECT CAST(i AS INT) AS level,
          |     array_to_string(parts[1:i], '/') AS path
          |   FROM p, unnest(generate_series(1, len(parts))) AS g(i))
          | SELECT path, level, count(*) AS cnt FROM pref GROUP BY 1, 2""".stripMargin,
      "ft_facet_drilldown" ->
        """SELECT source AS child, count(*) AS cnt FROM documents
          | WHERE lang = 'en' GROUP BY 1""".stripMargin,
      "q64_frange" ->
        """SELECT l_orderkey * 10 + l_linenumber AS line_id, 1.0 AS score
          | FROM lineitem
          | WHERE sqrt(l_quantity) + l_discount * 10 >= 5.0
          |   AND sqrt(l_quantity) + l_discount * 10 < 6.0""".stripMargin,
      "ft_facet_assoc" ->
        """WITH t AS (SELECT lang || '/' || source AS path,
          |           CAST(n_chars AS DOUBLE) AS v FROM documents),
          | p AS (SELECT string_split(path, '/') AS parts, v FROM t),
          | pref AS (SELECT CAST(i AS INT) AS level,
          |     array_to_string(parts[1:i], '/') AS path, v
          |   FROM p, unnest(generate_series(1, len(parts))) AS g(i))
          | SELECT path, level, round(sum(v), 4) AS sum_assoc, count(*) AS cnt
          | FROM pref GROUP BY 1, 2""".stripMargin,
      "ft_facet_sideways" ->
        """WITH base AS (SELECT lang, source FROM documents
          |   WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'data')),
          | l AS (SELECT 'lang' AS dim, CAST(lang AS VARCHAR) AS value, count(*) AS cnt
          |       FROM base WHERE source = 'src13' GROUP BY lang),
          | s AS (SELECT 'source' AS dim, CAST(source AS VARCHAR) AS value, count(*) AS cnt
          |       FROM base WHERE lang = 'en' GROUP BY source),
          | h AS (SELECT '__hits__' AS dim, '' AS value, count(*) AS cnt
          |       FROM base WHERE lang = 'en' AND source = 'src13' HAVING count(*) > 0)
          | SELECT * FROM l UNION ALL SELECT * FROM s UNION ALL SELECT * FROM h""".stripMargin,
      "geo_shapes" ->
        """WITH s AS (SELECT doc_id AS shape_id,
          |   CAST(doc_id * 7 % 140 AS DOUBLE) - 70 + 0.5 AS clat,
          |   CAST(doc_id * 13 % 340 AS DOUBLE) - 170 + 0.5 AS clon,
          |   0.26 + CAST(doc_id % 5 AS DOUBLE) * 0.2 AS r
          |  FROM documents),
          | rel AS (SELECT shape_id,
          |   greatest(-10 - clat, clat - 10, 0) + greatest(-20 - clon, clon - 20, 0) <= r AS inter,
          |   clat - r >= -10 AND clat + r <= 10 AND clon - r >= -20 AND clon + r <= 20 AS wthn,
          |   abs(0.4 - clat) + abs(0.4 - clon) <= r AND abs(0.4 - clat) + abs(0.6 - clon) <= r AND
          |   abs(0.6 - clat) + abs(0.4 - clon) <= r AND abs(0.6 - clat) + abs(0.6 - clon) <= r AS ctiny
          |  FROM s)
          | SELECT shape_id, CAST(inter AS INT) AS intersects, CAST(wthn AS INT) AS within,
          |  CAST(NOT inter AS INT) AS disjoint, CAST(ctiny AS INT) AS contains_tiny
          | FROM rel""".stripMargin,
      "geo_shapes_poly" ->
        """WITH s AS (SELECT doc_id AS shape_id,
          |   CAST(doc_id * 7 % 140 AS DOUBLE) - 70 + 0.5 AS clat,
          |   CAST(doc_id * 13 % 340 AS DOUBLE) - 170 + 0.5 AS clon,
          |   0.26 + CAST(doc_id % 5 AS DOUBLE) * 0.2 AS r
          |  FROM documents),
          | rel AS (SELECT shape_id,
          |   abs(clat) + abs(clon) <= 20.3 + r AS inter,
          |   abs(clat) + abs(clon) + r <= 20.3 AS wthn
          |  FROM s)
          | SELECT shape_id, CAST(inter AS INT) AS intersects,
          |  CAST(wthn AS INT) AS within, CAST(NOT inter AS INT) AS disjoint
          | FROM rel""".stripMargin,
      "geo_lines_poly" ->
        """WITH s AS (SELECT doc_id AS shape_id,
          |   CAST(doc_id * 7 % 140 AS DOUBLE) - 70 + 0.5 AS clat,
          |   CAST(doc_id * 13 % 340 AS DOUBLE) - 170 + 0.5 AS clon
          |  FROM documents),
          | rel AS (SELECT shape_id,
          |   abs(clon) + greatest(clat, -(clat + 1.0), 0) <= 20.3 AS inter,
          |   abs(clat) + abs(clon) <= 20.3 AND abs(clat + 1.0) + abs(clon) <= 20.3 AS wthn
          |  FROM s)
          | SELECT shape_id, CAST(inter AS INT) AS intersects,
          |  CAST(wthn AS INT) AS within, CAST(NOT inter AS INT) AS disjoint
          | FROM rel""".stripMargin,
      "ft_facet_domain" ->
        """SELECT CAST(l_returnflag AS VARCHAR) AS value, count(*) AS cnt
          | FROM lineitem
          | WHERE l_quantity >= 30
          |  AND l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
          | GROUP BY 1 ORDER BY cnt DESC, value""".stripMargin,
      "ft_facet_domain_parent" ->
        """SELECT CAST(o_orderstatus AS VARCHAR) AS value, count(*) AS cnt
          | FROM orders
          | WHERE o_totalprice > 50000
          |  AND o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45)
          | GROUP BY 1 ORDER BY cnt DESC, value""".stripMargin,
      "ft_geo_heatmap" ->
        """WITH ev AS (SELECT user_id % 17000 / 100.0 - 85.0 AS lat,
          |   user_id % 35900 / 100.0 - 179.5 AS lon FROM events)
          | SELECT CAST(floor((lat - (-85.0)) / 2.0) AS BIGINT) AS grid_lat,
          |  CAST(floor((lon - (-180.0)) / 2.0) AS BIGINT) AS grid_lon,
          |  count(*) AS cnt
          | FROM ev WHERE lat BETWEEN -85 AND -65 AND lon BETWEEN -180 AND -160
          | GROUP BY 1, 2""".stripMargin,
      "ft_ltr" ->
        """WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
          | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
          | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
          |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
          | qt AS (SELECT * FROM tf WHERE tok IN ('spark', 'query', 'join')),
          | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
          | sc AS (SELECT qt.doc_id,
          |   ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
          |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
          |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st),
          | main AS (SELECT doc_id, round(sum(s), 5) AS first_pass FROM sc GROUP BY doc_id),
          | win AS (SELECT doc_id, first_pass FROM main
          |         ORDER BY first_pass DESC, doc_id ASC LIMIT 40)
          | SELECT w.doc_id, round(w.first_pass, 5) AS first_pass,
          |  round(w.first_pass + 0.3 * ln(1 + d.n_chars)
          |        + 0.5 * (CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END), 5) AS ltr_score
          | FROM win w JOIN documents d USING (doc_id)""".stripMargin,
      "ft_highlight" ->
        """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
          | sel AS (SELECT doc_id, toks,
          |   least(coalesce(nullif(list_position(toks, 'spark'), 0), 2147483647),
          |         coalesce(nullif(list_position(toks, 'query'), 0), 2147483647)) AS first_pos FROM d)
          | SELECT doc_id, CAST(first_pos AS BIGINT) AS first_pos,
          |  array_to_string(list_transform(
          |    toks[greatest(first_pos - 3, 1):greatest(first_pos - 3, 1) + 6],
          |    x -> CASE WHEN x IN ('spark','query') THEN '<em>' || x || '</em>' ELSE x END), ' ') AS snippet
          | FROM sel WHERE first_pos < 2147483647""".stripMargin,
      "qp_fielded" ->
        s"""SELECT doc_id FROM (SELECT DISTINCT doc_id FROM ($tok) WHERE tok = 'spark')
           | WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')""".stripMargin,
      "qp_bool" ->
        s"""SELECT doc_id FROM (
           |  SELECT doc_id FROM ($tok) WHERE tok IN ('spark','query')
           |  GROUP BY doc_id HAVING count(DISTINCT tok) = 2)
           | WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM ($tok) WHERE tok = 'slow')""".stripMargin,
      // the dismax must-clause matches on ANY of its children; the
      // constant-score should never gates
      "qp_xml" ->
        s"""SELECT DISTINCT doc_id FROM ($tok) WHERE tok IN ('spark','query')
           | AND doc_id NOT IN (SELECT DISTINCT doc_id FROM ($tok) WHERE tok = 'slow')""".stripMargin,
      "sp_xml" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, count(*) AS n_spans FROM t a JOIN t b
          |  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos - a.pos - 1 <= 2
          | WHERE a.tok IN ('sort', 'hash') AND b.tok = 'merge'
          | GROUP BY a.doc_id""".stripMargin,
      "qp_simple" ->
        s"""SELECT doc_id FROM (
           |  SELECT doc_id FROM ($tok) WHERE tok IN ('data','group')
           |  GROUP BY doc_id HAVING count(DISTINCT tok) = 2
           |  UNION
           |  SELECT DISTINCT doc_id FROM ($tok) WHERE tok LIKE 'quer%')""".stripMargin,
      "qp_surround" ->
        s"""WITH t AS (SELECT doc_id,
           |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
           |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
           |  FROM documents),
           | sq AS (SELECT doc_id FROM t WHERE tok IN ('spark','query')
           |        GROUP BY doc_id HAVING count(DISTINCT tok) = 2),
           | dg AS (SELECT DISTINCT a.doc_id FROM t a
           |        JOIN t b ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
           |        WHERE a.tok = 'data' AND b.tok = 'group')
           | SELECT doc_id FROM sq UNION SELECT doc_id FROM dg""".stripMargin,
      "qp_mixed" ->
        s"""WITH t AS (SELECT doc_id,
           |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
           |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
           |  FROM documents)
           | SELECT DISTINCT doc_id FROM t WHERE tok = 'spark'
           | UNION
           | SELECT DISTINCT a.doc_id FROM t a JOIN t b
           |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           | WHERE a.tok = 'data' AND b.tok = 'group'""".stripMargin,
      "qp_multiterm" ->
        s"""SELECT doc_id FROM
           |  (SELECT DISTINCT doc_id FROM ($tok) WHERE tok LIKE 's_a%')
           | INTERSECT
           | SELECT doc_id FROM
           |  (SELECT DISTINCT doc_id FROM ($tok) WHERE tok >= 'ma' AND tok <= 'pz')""".stripMargin,
      "ft_reqopt" ->
        s"""WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
           | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
           | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
           | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
           |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
           | qt AS (SELECT * FROM tf WHERE tok IN ('spark','query','join')),
           | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
           | sc AS (SELECT qt.doc_id, qt.tok,
           |   ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
           |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
           |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st)
           | SELECT doc_id, round(sum(s), 5) AS score FROM sc GROUP BY doc_id
           | HAVING sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) = 1""".stripMargin,
      // req-opt shape with the commonTerms df split baked in: at sf0.01
      // df(dup)=25, df(the)=382, df(scan)=398 of N=500, cutoff 0.5
      "ft_commonterms" ->
        s"""WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
           | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
           | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
           | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
           |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
           | qt AS (SELECT * FROM tf WHERE tok IN ('dup','the','scan')),
           | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
           | sc AS (SELECT qt.doc_id, qt.tok,
           |   ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
           |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
           |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st)
           | SELECT doc_id, round(sum(s), 5) AS score FROM sc GROUP BY doc_id
           | HAVING sum(CASE WHEN tok = 'dup' THEN 1 ELSE 0 END) = 1""".stripMargin,
      "ft_bm25_or" -> bm25Sql(Seq("spark", "query", "join"), "or", Nil),
      "ft_engine_topk" -> engineTopKSql(Seq("spark", "query", "join"), 20),
      "ft_engine_wand" -> engineTopKSql(Seq("spark", "query", "join"), 20),
      "ft_bm25f" -> bm25fSql(Seq("spark", "query"), 20),
      "ph_scores" -> phrasesSql(Seq("spark", "query", "join", "data")),
      "qp_localparams" ->
        s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
           | SELECT DISTINCT doc_id FROM t WHERE tok = 'spark'
           |  AND doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
           |  AND doc_id NOT IN (SELECT doc_id FROM t WHERE tok = 'slow')""".stripMargin,
      "qp_localparams_switch" ->
        s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
           | SELECT DISTINCT doc_id FROM t WHERE tok LIKE 'quer%'""".stripMargin,
      "qp_json" ->
        s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
           | SELECT DISTINCT doc_id FROM t WHERE tok = 'spark'
           |  AND doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
           |  AND doc_id NOT IN (SELECT doc_id FROM t WHERE tok = 'slow')""".stripMargin,
      "fn_math" ->
        """SELECT event_id,
          | round((100/(2*value+5) + (0.5*value+1))
          |   + (CASE WHEN value >= 0 AND value <= 10 THEN 0 ELSE -1 END), 5) AS v
          | FROM events""".stripMargin,
      "fn_scale" ->
        """WITH st AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
          | SELECT event_id,
          |  round((value - st.lo) * (CASE WHEN st.hi = st.lo THEN 0
          |    ELSE 100.0/(st.hi - st.lo) END) + 0, 5) AS v
          | FROM events, st""".stripMargin,
      "fn_strdist" ->
        """SELECT doc_id,
          | round(1 - levenshtein(source,'src1') /
          |   CAST(greatest(length(source), 4) AS DOUBLE), 5) AS sim
          | FROM documents""".stripMargin,
      "fn_ms" ->
        """SELECT event_id,
          | epoch_ms(ts) - epoch_ms(TIMESTAMP '2024-01-01 00:00:00') AS ms_diff
          | FROM events""".stripMargin,
      "fn_ord" ->
        """WITH n AS (SELECT count(DISTINCT event_type) AS c FROM events)
          | SELECT event_id,
          |  CAST(dense_rank() OVER (ORDER BY event_type) - 1 AS BIGINT) AS ordv,
          |  CAST(n.c - dense_rank() OVER (ORDER BY event_type) AS BIGINT) AS rordv
          | FROM events, n""".stripMargin,
      "fn_cond" ->
        """SELECT event_id,
          | round(CASE WHEN value > 50 THEN 2*value ELSE -1 END, 5) AS v
          | FROM events""".stripMargin,
      "fn_geodist" ->
        """WITH ev AS (SELECT event_id,
          |  (event_id * 37 % 12000) / 100.0 - 60.0 AS lat,
          |  (event_id * 73 % 30000) / 100.0 - 150.0 AS lon FROM events),
          | dist AS (SELECT event_id,
          |  2 * 6371.0088 * asin(least(1.0, sqrt(
          |    pow(sin(radians(48.8566 - lat)/2), 2) +
          |    cos(radians(lat)) * cos(radians(48.8566)) *
          |    pow(sin(radians(2.3522 - lon)/2), 2)))) AS km FROM ev)
          | SELECT CAST(floor(km/100.0) AS BIGINT) AS bucket, count(*) AS n
          | FROM dist GROUP BY 1""".stripMargin,
      "fn_tfstats" ->
        """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | tf AS (SELECT d.doc_id,
          |   (SELECT count(*) FROM t WHERE t.doc_id = d.doc_id AND t.tok = 'spark') AS tfv
          |  FROM documents d),
          | st AS (SELECT (SELECT count(*) FROM documents) AS n,
          |   (SELECT count(DISTINCT doc_id) FROM t WHERE tok = 'spark') AS dfv)
          | SELECT tf.doc_id, tf.tfv AS tf_spark,
          |  round(sqrt(CAST(tf.tfv AS DOUBLE))
          |   + (ln(CAST(st.n + 1 AS DOUBLE) / (st.dfv + 1)) + 1)
          |   + st.dfv, 5) AS combo
          | FROM tf, st""".stripMargin,
      "fn_query_boost" -> {
        val inner = bm25Sql(Seq("spark", "query"), "or", Nil)
        s"""SELECT d.doc_id,
           | round(coalesce(b.score, 0.1) + 0.001 * d.n_chars, 5) AS v
           | FROM documents d LEFT JOIN ($inner) b ON d.doc_id = b.doc_id""".stripMargin
      },
      "fn_sort" ->
        """SELECT event_id,
          | round(1/(3.16e-11 * (epoch_ms(TIMESTAMP '2024-02-01 00:00:00') - epoch_ms(ts)) + 1), 7) AS v
          | FROM events
          | ORDER BY v DESC, event_id LIMIT 30""".stripMargin,
      "qp_func" ->
        """SELECT event_id, round(1000/(value+1000), 5) AS score
          | FROM events
          | ORDER BY 1000/(value+1000) DESC, event_id LIMIT 50""".stripMargin,
      "qp_frange" ->
        """SELECT event_id FROM events
          | WHERE 2*value >= 100 AND 2*value <= 200
          | ORDER BY event_id""".stripMargin,
      "ft_collation_sort" ->
        """SELECT doc_id, translate(source,'0123456789','àbçdéfghïj') AS name
          | FROM documents
          | ORDER BY translate(source,'0123456789','abcdefghij'), doc_id
          | LIMIT 100""".stripMargin,
      "qp_group_func" ->
        """WITH g AS (SELECT event_id, value,
          |   CAST(CASE WHEN value < 50 THEN 0 WHEN value < 200 THEN 1 ELSE 2 END AS INT) AS grp
          |  FROM events),
          | r AS (SELECT grp, event_id, value,
          |   row_number() OVER (PARTITION BY grp ORDER BY value DESC, event_id) AS rn
          |  FROM g)
          | SELECT grp, event_id, round(value, 5) AS value, CAST(rn AS INT) AS rn
          | FROM r WHERE rn <= 2""".stripMargin,
      "fn_facet_agg" ->
        """SELECT event_type,
          | round(min(100/(value+10)), 5) AS mn,
          | round(max(100/(value+10)), 5) AS mx,
          | count(*) AS n
          | FROM events GROUP BY event_type""".stripMargin,
      "ft_suggest_blended" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) - 1 AS pos
          |  FROM documents),
          | f AS (SELECT doc_id, tok, CAST(min(pos) AS BIGINT) AS first_pos
          |  FROM t WHERE tok = 'query' OR tok LIKE 'jo%' GROUP BY doc_id, tok),
          | a AS (SELECT doc_id, min(first_pos) AS position,
          |   count(CASE WHEN tok NOT LIKE 'jo%' THEN 1 END) AS n_nonpfx,
          |   count(CASE WHEN tok LIKE 'jo%' THEN 1 END) AS n_pfx
          |  FROM f GROUP BY doc_id)
          | SELECT doc_id, position, round(1 - 0.10 * position, 5) AS score
          | FROM a WHERE n_pfx >= 1 AND n_nonpfx >= 1
          | ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      "ft_facet_prefix" ->
        """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | m AS (SELECT DISTINCT doc_id FROM t WHERE tok = 'spark'),
          | v AS (SELECT d.source, count(*) AS count
          |  FROM m JOIN documents d USING (doc_id)
          |  WHERE d.source LIKE 'src1%' AND d.source <> 'src15'
          |  GROUP BY d.source HAVING count(*) >= 1)
          | SELECT source, count FROM v ORDER BY source OFFSET 1 LIMIT 5""".stripMargin,
      "rf_relations" ->
        """WITH r AS (SELECT event_id,
          |  value AS lo1, value + event_id % 50 AS hi1,
          |  CAST(event_id % 100 AS DOUBLE) AS lo2,
          |  CAST(event_id % 100 + 20 AS DOUBLE) AS hi2 FROM events),
          | f AS (SELECT event_id,
          |  CASE WHEN lo1 <= 150 AND hi1 >= 50 AND lo2 <= 80 AND hi2 >= 30 THEN 1 ELSE 0 END AS intersects,
          |  CASE WHEN lo1 >= 50 AND hi1 <= 150 AND lo2 >= 30 AND hi2 <= 80 THEN 1 ELSE 0 END AS within,
          |  CASE WHEN lo1 <= 50 AND hi1 >= 150 AND lo2 <= 30 AND hi2 >= 80 THEN 1 ELSE 0 END AS contains
          |  FROM r)
          | SELECT event_id, intersects, within, contains,
          |  CASE WHEN intersects = 1 AND within = 0 THEN 1 ELSE 0 END AS crosses
          | FROM f""".stripMargin,
      "ft_mlt_terms" ->
        """WITH q(term, tf) AS (SELECT * FROM (VALUES
          |   ('spark', 2), ('query', 1), ('join', 1), ('data', 1), ('handler7', 1))),
          | tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | dfs AS (SELECT tok AS term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          |  FROM tok WHERE tok IN ('spark','query','join','data','handler7') GROUP BY tok),
          | n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM documents)
          | SELECT q.term, q.tf, dfs.df,
          |  round(q.tf * ln(1 + (n.c - dfs.df + 0.5) / (dfs.df + 0.5)), 5) AS weight
          | FROM q JOIN dfs USING (term), n""".stripMargin,
      "fn_payload" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents),
          | p AS (SELECT doc_id, avg(CAST((pos - 1) % 7 AS DOUBLE)) AS v
          |  FROM t WHERE tok = 'spark' GROUP BY doc_id)
          | SELECT d.doc_id, round(coalesce(p.v, 0.5), 5) AS v
          | FROM documents d LEFT JOIN p USING (doc_id)""".stripMargin,
      "qp_payload_check" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, count(*) AS n_matches
          | FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          | WHERE a.tok = 'spark' AND b.tok = 'query' AND (b.pos - 1) % 7 = 2
          | GROUP BY a.doc_id""".stripMargin,
      "ft_preanalyzed" ->
        """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
          | SELECT DISTINCT doc_id FROM t WHERE tok = 'spark'""".stripMargin,
      "ft_dv_terms" ->
        """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
          | SELECT DISTINCT doc_id FROM t
          | WHERE tok = 'spark'
          |   AND doc_id IN (SELECT doc_id FROM documents WHERE lang IN ('en','de'))""".stripMargin,
      "ft_func_norm" -> {
        val values = graft.operators.TextOps.normQuantBuckets
          .map { case (lo, hi, q) => s"($lo,$hi,$q)" }.mkString(",")
        s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
           | dl AS (SELECT d.doc_id, count(t.tok) AS dl FROM documents d
           |         LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id),
           | nb AS (SELECT * FROM (VALUES $values) AS v(lo, hi, qdl))
           | SELECT dl.doc_id, CAST(nb.qdl AS BIGINT) AS norm_dl
           | FROM dl JOIN nb ON dl.dl BETWEEN nb.lo AND nb.hi""".stripMargin
      },
      "urp_chain" ->
        """SELECT doc_id,
          | trim(substring(regexp_replace(text, 'dup', 'marked', 'g'), 1, 30)) AS text,
          | lang || '; ' || source AS tags,
          | 2 AS n_tags,
          | CAST(length(source) AS INT) AS source,
          | 'none' AS origin
          | FROM documents""".stripMargin,
      "urp_versioned" ->
        """SELECT doc_id,
          | CASE WHEN doc_id % 3 = 0 THEN source || '_v2' ELSE source END AS source,
          | CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version
          | FROM documents""".stripMargin,
      "ft_automaton_syn" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, CAST(count(*) AS INT) AS freq
          | FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          | WHERE a.tok = 'data' AND b.tok IN ('group','hash')
          | GROUP BY a.doc_id""".stripMargin,
      "ft_bm25_and" -> bm25Sql(Seq("spark", "data"), "and", Nil),
      "ft_bm25_not" -> bm25Sql(Seq("spark", "query"), "or", Seq("slow")),
      "ft_phrase" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, count(*) AS n_occurrences
          | FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          | WHERE a.tok = 'data' AND b.tok = 'group' GROUP BY a.doc_id""".stripMargin,
      "q20_dismax" ->
        s"""WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM ($tok)
           |  WHERE tok IN ('spark','query','data') GROUP BY doc_id, tok)
           | SELECT doc_id, round(max(tf) + 0.1 * (sum(tf) - max(tf)), 5) AS dmax_score
           | FROM tf GROUP BY doc_id""".stripMargin,
      "q21_msm" ->
        s"""WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM ($tok)
           |  WHERE tok IN ('spark','query','join') GROUP BY doc_id, tok)
           | SELECT doc_id, count(*) AS n_matched, CAST(sum(tf) AS BIGINT) AS sum_tf
           | FROM tf GROUP BY doc_id HAVING count(*) >= 2""".stripMargin,
      "q16_sig_terms" ->
        s"""WITH tokt AS ($tok),
           | fg AS (SELECT tok, count(*) AS fg_count FROM tokt WHERE lang = 'en' GROUP BY tok),
           | bg AS (SELECT tok, count(*) AS bg_count FROM tokt GROUP BY tok),
           | ft AS (SELECT count(*) AS fn FROM tokt WHERE lang = 'en'),
           | bt AS (SELECT count(*) AS bn FROM tokt)
           | SELECT fg.tok AS term, fg_count, bg_count,
           |  round((fg_count / CAST(fn AS DOUBLE)) / (bg_count / CAST(bn AS DOUBLE)), 5) AS score
           | FROM fg JOIN bg ON fg.tok = bg.tok, ft, bt WHERE bg_count >= 5""".stripMargin,
      "ft_engine_tf" ->
        s"""SELECT doc_id, CAST(count(*) AS INT) AS tf FROM ($tok)
           | WHERE tok = 'spark' GROUP BY doc_id""".stripMargin,
      // char offsets reconstructed from the token list: the synthetic
      // documents text IS single-space-joined lowercase tokens (asserted
      // against all docs at sf0.01), so start(tok k) = len(join(ts[0..k))) + 1
      "ft_highlight_passages" ->
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(ts) AS tok,
           |    unnest(range(len(ts))) AS pos,
           |    unnest(list_transform(range(1, len(ts)+1), i ->
           |      CASE WHEN i = 1 THEN 0
           |           ELSE length(array_to_string(list_slice(ts, 1, i-1), ' ')) + 1 END)) AS cstart
           |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents)),
           | m AS (SELECT doc_id, CAST(pos // 16 AS INT) AS passage,
           |   CAST(cstart AS INT) AS s, CAST(cstart + length(tok) AS INT) AS e
           |  FROM toks WHERE tok IN ('spark','query')),
           | g AS (SELECT doc_id, passage, CAST(count(*) AS INT) AS n_matches,
           |   min(s) AS char_start, max(e) AS char_end FROM m GROUP BY doc_id, passage),
           | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
           |   ORDER BY n_matches DESC, passage ASC) AS rk FROM g)
           | SELECT doc_id, passage, n_matches, char_start, char_end FROM r WHERE rk <= 2""".stripMargin,
      "ta_tagger" ->
        """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos FROM documents),
          | u AS (
          |  SELECT doc_id, pos-1 AS s, pos-1 AS e, 'TBL' AS tag FROM t WHERE tok='table'
          |  UNION ALL SELECT a.doc_id, a.pos-1, b.pos-1, 'JOIN_OP' FROM t a
          |   JOIN t b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
          |   WHERE a.tok='hash' AND b.tok='join'
          |  UNION ALL SELECT a.doc_id, a.pos-1, b.pos-1, 'SCAN_OP' FROM t a
          |   JOIN t b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
          |   WHERE a.tok='fast' AND b.tok='scan')
          | SELECT doc_id, CAST(s AS INT) AS start_tok, CAST(e AS INT) AS end_tok, tag FROM u""".stripMargin,
      "ft_sorted_early" ->
        """SELECT doc_id, n_chars FROM documents WHERE lang = 'en'
          | ORDER BY n_chars, doc_id LIMIT 10""".stripMargin,
      "ft_intervals" ->
        """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos FROM documents),
          | a AS (SELECT doc_id, pos FROM t WHERE tok='fast'),
          | b AS (SELECT doc_id, pos FROM t WHERE tok='scan'),
          | pairs AS (SELECT a.doc_id, a.pos AS pa, min(b.pos) AS pb
          |   FROM a JOIN b ON b.doc_id=a.doc_id AND b.pos > a.pos GROUP BY 1, 2),
          | minimal AS (SELECT p.doc_id, pa, pb FROM pairs p
          |   WHERE NOT EXISTS (SELECT 1 FROM a a2
          |     WHERE a2.doc_id = p.doc_id AND a2.pos > p.pa AND a2.pos < p.pb))
          | SELECT doc_id, CAST(count(*) AS INT) AS n_intervals FROM minimal
          | WHERE pb - pa - 1 <= 2 GROUP BY doc_id""".stripMargin,
      "ft_freetext" ->
        s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
           |   generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos FROM documents),
           | cand3 AS (SELECT c.tok AS word, count(*) AS cnt FROM t a
           |   JOIN t b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
           |   JOIN t c ON a.doc_id=c.doc_id AND c.pos=a.pos+2
           |   WHERE a.tok='value' AND b.tok='fast' AND c.tok LIKE 's%' GROUP BY 1),
           | den3 AS (SELECT count(*) AS d FROM t a JOIN t b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
           |   WHERE a.tok='value' AND b.tok='fast'),
           | cand2 AS (SELECT b.tok AS word, count(*) AS cnt FROM t a
           |   JOIN t b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
           |   WHERE a.tok='fast' AND b.tok LIKE 's%' GROUP BY 1),
           | den2 AS (SELECT count(*) AS d FROM t WHERE tok='fast'),
           | cand1 AS (SELECT tok AS word, count(*) AS cnt FROM t WHERE tok LIKE 's%' GROUP BY 1),
           | den1 AS (SELECT count(*) AS d FROM t),
           | u AS (
           |  SELECT 3 AS ord, word, CAST(1.0 AS DOUBLE)*(CAST(cnt AS DOUBLE)/CAST(d AS DOUBLE)) AS score FROM cand3, den3
           |  UNION ALL SELECT 2, word, CAST(0.4 AS DOUBLE)*(CAST(cnt AS DOUBLE)/CAST(d AS DOUBLE)) FROM cand2, den2
           |  UNION ALL SELECT 1, word, (CAST(0.4 AS DOUBLE)*CAST(0.4 AS DOUBLE))*(CAST(cnt AS DOUBLE)/CAST(d AS DOUBLE)) FROM cand1, den1),
           | dd AS (SELECT *, row_number() OVER (PARTITION BY word ORDER BY ord DESC) AS rn FROM u)
           | SELECT word, CAST(ord AS INT) AS ord, score FROM dd WHERE rn=1
           | ORDER BY score DESC, word LIMIT 10""".stripMargin,
      "ft_stemmed_tf" ->
        s"""WITH toks AS (SELECT doc_id, $stemmedTokensSql AS ts FROM documents)
           | SELECT doc_id, CAST(len(list_filter(ts, t -> t = 'tabl')) AS INT) AS tf
           | FROM toks WHERE len(list_filter(ts, t -> t = 'tabl')) > 0""".stripMargin,
      "ft_stemmed_dl" ->
        s"""SELECT doc_id, CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
           |   t -> t NOT IN ($stopInList))) AS INT) AS dl FROM documents""".stripMargin,
      "ft_engine_and" ->
        s"""WITH tf AS (SELECT doc_id, tok FROM ($tok) WHERE tok IN ('spark','query') GROUP BY doc_id, tok)
           | SELECT doc_id FROM tf GROUP BY doc_id HAVING count(*) = 2""".stripMargin,
      "ft_engine_prefix" ->
        s"""SELECT DISTINCT doc_id FROM ($tok) WHERE tok LIKE 's%'""",
      "ft_engine_grouped" ->
        s"""WITH tf AS (SELECT doc_id, CAST(count(*) AS INT) AS tf FROM ($tok)
           |  WHERE tok = 'spark' GROUP BY doc_id),
           | j AS (SELECT d.lang, tf.doc_id, tf.tf,
           |   row_number() OVER (PARTITION BY d.lang ORDER BY tf.tf DESC, tf.doc_id ASC) AS rn
           |  FROM tf JOIN documents d ON tf.doc_id = d.doc_id)
           | SELECT lang, doc_id, tf, CAST(rn AS INT) AS rn FROM j WHERE rn <= 2""".stripMargin,
      "ft_engine_phrase" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT DISTINCT a.doc_id FROM t a JOIN t b
          |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          | WHERE a.tok = 'data' AND b.tok = 'group'""".stripMargin,
      "q31_topvalues" ->
        """WITH c AS (SELECT event_type AS value, count(*) AS cnt FROM events GROUP BY 1),
          | t AS (SELECT count(*) AS n FROM events)
          | SELECT value, cnt, round(cnt / CAST(n AS DOUBLE), 5) AS pct FROM c, t
          | ORDER BY cnt DESC, value ASC LIMIT 10""".stripMargin,
      "q32_synonym" ->
        s"""SELECT doc_id, CAST(count(*) AS BIGINT) AS syn_tf FROM ($tok)
           | WHERE tok IN ('spark','query') GROUP BY doc_id""".stripMargin,
      "q34_synonym_bm25" ->
        s"""WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
           | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
           | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
           | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
           |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
           | qt AS (SELECT * FROM tf WHERE tok IN ('spark','query')),
           | dfm AS (SELECT max(df) AS df FROM
           |   (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok)),
           | agg AS (SELECT doc_id, sum(tf) AS syn_tf FROM qt GROUP BY doc_id)
           | SELECT agg.doc_id,
           |  round(ln(1 + (st.n - dfm.df + 0.5) / (dfm.df + 0.5)) * agg.syn_tf /
           |   (agg.syn_tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)), 5) AS score
           | FROM agg JOIN dl ON agg.doc_id = dl.doc_id, st, dfm""".stripMargin,
      "q35_dismax_bm25" ->
        s"""WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
           | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
           | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
           | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
           |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
           | qt AS (SELECT * FROM tf WHERE tok IN ('spark','query','data')),
           | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
           | sc AS (SELECT qt.doc_id,
           |   ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
           |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
           |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st)
           | SELECT doc_id, round(max(s) + 0.1 * (sum(s) - max(s)), 5) AS score
           | FROM sc GROUP BY doc_id""".stripMargin,
      "qp_maxscore" ->
        s"""WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
           | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
           | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
           | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
           |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
           | qt AS (SELECT * FROM tf WHERE tok IN ('spark','query','data')),
           | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
           | sc AS (SELECT qt.doc_id, qt.tok,
           |   ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
           |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
           |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st)
           | SELECT doc_id, round(
           |   coalesce(sum(CASE WHEN tok = 'spark' THEN s END), 0) +
           |   coalesce(max(CASE WHEN tok IN ('query','data') THEN s END)
           |     + 0.3 * (sum(CASE WHEN tok IN ('query','data') THEN s END)
           |            - max(CASE WHEN tok IN ('query','data') THEN s END)), 0), 5) AS score
           | FROM sc GROUP BY doc_id
           | HAVING sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) = 1""".stripMargin,
      "ft_graphterms" ->
        """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | dfs AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t
          |          WHERE tok IN ('dup','spark','query') GROUP BY tok)
          | SELECT DISTINCT doc_id FROM t
          | WHERE tok IN (SELECT tok FROM dfs
          |               WHERE df <= (SELECT count(*) // 2 FROM documents))""".stripMargin,
      "q36_multiphrase" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, count(*) AS n_occurrences
          | FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          | WHERE a.tok IN ('spark','data') AND b.tok = 'group' GROUP BY a.doc_id""".stripMargin,
      "q43_sloppy_repeat" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, CAST(min(abs(a.pos - (b.pos - 1))) AS INT) AS min_slop
          | FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.pos <> b.pos
          | WHERE a.tok = 'data' AND b.tok = 'data'
          | GROUP BY a.doc_id HAVING min(abs(a.pos - (b.pos - 1))) <= 4""".stripMargin,
      "ft_engine_synonym" ->
        s"""SELECT doc_id, CAST(count(*) AS BIGINT) AS syn_tf FROM ($tok)
           | WHERE tok IN ('spark','query') GROUP BY doc_id""".stripMargin,
      "ft_engine_multiphrase" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT DISTINCT a.doc_id FROM t a JOIN t b
          |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          | WHERE a.tok IN ('spark','data') AND b.tok = 'group'""".stripMargin,
      "ft_engine_cphrase" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT DISTINCT a.doc_id FROM t a JOIN t b
          |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          | WHERE a.tok IN ('spark','hash') AND b.tok LIKE 'jo%'""".stripMargin,

      "q33_window_phrase" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, count(*) AS n_pairs FROM t a JOIN t b
          |  ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
          | WHERE a.tok = 'data' AND b.tok = 'group' GROUP BY a.doc_id""".stripMargin,
      "q42_sloppy" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, CAST(min(abs((b.pos - 1) - a.pos)) AS INT) AS min_slop
          | FROM t a JOIN t b ON a.doc_id = b.doc_id
          | WHERE a.tok = 'group' AND b.tok = 'data'
          | GROUP BY a.doc_id HAVING min(abs((b.pos - 1) - a.pos)) <= 3""".stripMargin,
      // span family: 1-based DuckDB positions cancel in differences; the
      // Spark span (start, end) maps to an (a.pos, b.pos) pair uniquely
      // (one token per position), so count(*) = distinct-span count
      "sp_near_ordered" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, count(*) AS n_spans FROM t a JOIN t b
          |  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos - a.pos - 1 <= 2
          | WHERE a.tok = 'sort' AND b.tok = 'merge' GROUP BY a.doc_id""".stripMargin,
      "sp_near_unordered" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, count(*) AS n_spans FROM t a JOIN t b
          |  ON a.doc_id = b.doc_id AND abs(b.pos - a.pos) - 1 <= 3
          | WHERE a.tok = 'query' AND b.tok = 'window' GROUP BY a.doc_id""".stripMargin,
      "sp_first" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT doc_id, count(*) AS n_spans FROM t
          | WHERE tok = 'spark' AND pos <= 10 GROUP BY doc_id""".stripMargin,
      "sp_or_near" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, count(*) AS n_spans FROM t a JOIN t b
          |  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos - a.pos - 1 <= 1
          | WHERE a.tok IN ('sort', 'hash') AND b.tok = 'merge'
          | GROUP BY a.doc_id""".stripMargin,
      "sp_not" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, count(*) AS n_spans FROM t a JOIN t b
          |  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos - a.pos - 1 <= 3
          | WHERE a.tok = 'group' AND b.tok = 'data'
          |  AND NOT EXISTS (SELECT 1 FROM t c WHERE c.doc_id = a.doc_id
          |    AND c.tok = 'slow' AND c.pos BETWEEN a.pos AND b.pos)
          | GROUP BY a.doc_id""".stripMargin,
      // enclosure in 1-based positions: big (a.pos .. b.pos) encloses the
      // little token at c.pos iff a.pos <= c.pos <= b.pos (offsets cancel)
      "sp_containing" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.doc_id, count(*) AS n_spans FROM t a JOIN t b
          |  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos - a.pos - 1 <= 3
          | WHERE a.tok = 'join' AND b.tok = 'table'
          |  AND EXISTS (SELECT 1 FROM t c WHERE c.doc_id = a.doc_id
          |    AND c.tok = 'the' AND c.pos BETWEEN a.pos AND b.pos)
          | GROUP BY a.doc_id""".stripMargin,
      "sp_within" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT c.doc_id, count(DISTINCT c.pos) AS n_spans FROM t c
          | WHERE c.tok = 'the' AND EXISTS (
          |   SELECT 1 FROM t a JOIN t b ON a.doc_id = b.doc_id
          |     AND b.pos > a.pos AND b.pos - a.pos - 1 <= 4
          |   WHERE a.doc_id = c.doc_id AND a.tok = 'sort' AND b.tok = 'merge'
          |     AND a.pos <= c.pos AND c.pos <= b.pos)
          | GROUP BY c.doc_id""".stripMargin,
      "q37_mlt" ->
        s"""WITH toks AS (SELECT DISTINCT doc_id, tok FROM ($tok)),
           | q AS (SELECT tok FROM toks WHERE doc_id = 0)
           | SELECT toks.doc_id, count(*) AS shared FROM toks JOIN q ON toks.tok = q.tok
           | WHERE toks.doc_id <> 0 GROUP BY toks.doc_id HAVING count(*) >= 20""".stripMargin,
      "q38_gapfill" ->
        """WITH ev AS (SELECT date_trunc('hour', ts) AS bucket FROM events),
          | r AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM ev),
          | buckets AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM r),
          | c AS (SELECT bucket, count(*) AS cnt FROM ev GROUP BY bucket)
          | SELECT CAST(buckets.bucket AS VARCHAR) AS bucket, COALESCE(c.cnt, 0) AS cnt
          | FROM buckets LEFT JOIN c ON buckets.bucket = c.bucket""".stripMargin,
      "ft_time_ids" ->
        """SELECT event_id FROM events
          | WHERE ts >= '2024-01-08' AND ts < '2024-01-22'
          |  AND list_contains(regexp_extract_all(lower(event_type || ' ' || props), '[a-z0-9]+'), 'error')""".stripMargin,
      "q46_geo" -> geoBoxSql,
      "ft_geo_polygon" -> geoPolygonSql,
      "geo_path" -> geoPathSql,
      "ta_quality" ->
        """SELECT doc_id, length(text) AS n_chars,
          | len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
          | len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS n_distinct,
          | round(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
          |   t -> t IN ('the','a','of','and'))) /
          |   CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS DOUBLE), 5)
          |   AS stopword_ratio,
          | round(CAST(list_sum(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
          |   t -> length(t))) AS DOUBLE) /
          |   greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 5) AS mean_token_len,
          | round(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) /
          |   CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS DOUBLE), 5)
          |   AS distinct_ratio
          | FROM documents""".stripMargin,
      "tp_clean_pipeline" ->
        s"""WITH toks AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
           | q AS (SELECT doc_id, text, len(ts) AS n_tokens,
           |   round(len(list_filter(ts, t -> t IN ($stopInList))) /
           |     CAST(greatest(len(ts), 1) AS DOUBLE), 5) AS stopword_ratio FROM toks),
           | l AS ($langIdSql),
           | s AS (SELECT q.doc_id, q.text, l.lang_pred, CAST(q.n_tokens AS INT) AS n_tokens, q.stopword_ratio
           |   FROM q JOIN l ON q.doc_id = l.doc_id
           |   WHERE l.lang_pred IN ('en') AND q.n_tokens >= 30 AND q.stopword_ratio <= 0.15),
           | d AS (SELECT *, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn FROM s)
           | SELECT doc_id, lang_pred, n_tokens, stopword_ratio FROM d WHERE rn = 1""".stripMargin,
      "ta_worddelim" ->
        """SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
          |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct
          | FROM (SELECT doc_id, regexp_extract_all(
          |   lower(text || ' Doc' || doc_id || 'V2'), '[a-z]+|[0-9]+') AS ts
          |  FROM documents)""".stripMargin,
      "ta_shingles" ->
        """WITH t AS (SELECT doc_id,
          |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
          |  FROM documents)
          | SELECT a.tok || ' ' || b.tok AS shingle, count(*) AS cnt
          | FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          | GROUP BY 1 HAVING count(*) >= 30""".stripMargin,
      "ta_tokens" ->
        """SELECT doc_id,
          | len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
          | len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_alnum,
          | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpeish,
          | length(text) AS n_chars
          | FROM documents""".stripMargin,
      "ta_langid" -> langIdSql,
      "ta_snowball" -> snowballSql,
      "ta_lightstem" -> lightstemSql,
      "ta_lightstem2" -> lightstem2Sql,
      "ta_phonetic" -> phoneticSql,
      "ta_misc_filters" -> miscFiltersSql,
      "ta_analyzers" -> analyzersSql,
      "ta_kstem" -> kstemSql,
      "ta_hunspell" -> hunspellSql,
      "ta_cjk" -> cjkSql,
      "ta_ja_morph" -> jaMorphSql,
      "ta_ko_morph" -> koMorphSql,
      "ta_zh_morph" -> zhMorphSql,
      "ta_fold" -> foldSql,
      "ta_fingerprint" ->
        """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
          | regexp_extract_all(lower(text), '[a-z0-9]+'))), ' ')) AS fp FROM documents""".stripMargin,
      "tp_decontam" ->
        """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
          | frags AS (SELECT DISTINCT array_to_string(list_slice(t, 1, 2), ' ') AS frag
          |           FROM toks WHERE doc_id % 97 = 3 AND len(t) >= 2),
          | docn AS (SELECT doc_id, ' ' || array_to_string(t, ' ') || ' ' AS s
          |          FROM toks WHERE doc_id % 97 <> 3 AND len(t) >= 2)
          | SELECT doc_id, count(DISTINCT frag) AS n_hits
          | FROM docn JOIN frags ON contains(s, ' ' || frag || ' ')
          | GROUP BY doc_id""".stripMargin,
      "tp_pack" ->
        """WITH t AS (SELECT doc_id,
          |   CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
          |  FROM documents)
          | SELECT doc_id, n_tokens,
          |  CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS seq_id
          | FROM t""".stripMargin,
      "tp_sample" ->
        """SELECT doc_id, lang FROM documents
          | WHERE (doc_id * 2654435761) % 1009 <
          |   (CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.25 ELSE 0.1 END) * 1009""".stripMargin,
      "tp_full_prep" ->
        s"""WITH toks AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
           | q AS (SELECT doc_id, text, len(ts) AS n_tokens,
           |   round(len(list_filter(ts, t -> t IN ($stopInList))) /
           |     CAST(greatest(len(ts), 1) AS DOUBLE), 5) AS stopword_ratio FROM toks),
           | l AS ($langIdSql),
           | s AS (SELECT q.doc_id, q.text, q.n_tokens
           |   FROM q JOIN l ON q.doc_id = l.doc_id
           |   WHERE l.lang_pred IN ('en') AND q.n_tokens >= 30 AND q.stopword_ratio <= 0.15),
           | dd AS (SELECT *, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn FROM s),
           | clean AS (SELECT doc_id, n_tokens FROM dd WHERE rn = 1),
           | frags AS (SELECT DISTINCT array_to_string(list_slice(ts, 1, 2), ' ') AS frag
           |           FROM toks WHERE doc_id % 97 = 3 AND len(ts) >= 2),
           | docn AS (SELECT doc_id, ' ' || array_to_string(ts, ' ') || ' ' AS str
           |          FROM toks WHERE doc_id % 97 <> 3 AND len(ts) >= 2),
           | cont AS (SELECT DISTINCT doc_id FROM docn JOIN frags ON contains(str, ' ' || frag || ' ')),
           | kept AS (SELECT c.doc_id, c.n_tokens FROM clean c
           |   WHERE c.doc_id % 97 <> 3
           |     AND c.doc_id NOT IN (SELECT doc_id FROM cont)
           |     AND (c.doc_id * 2654435761) % 1009 < 0.5 * 1009)
           | SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS seq_id
           | FROM kept""".stripMargin,
      "tp_dup_spans" ->
        """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
          | w AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
          |     i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
          |   FROM t WHERE len(ts) >= 3),
          | dfq AS (SELECT sh, count(DISTINCT doc_id) AS ddf FROM w GROUP BY sh),
          | j AS (SELECT w.doc_id, CASE WHEN dfq.ddf >= 2 THEN 1 ELSE 0 END AS dup
          |   FROM w JOIN dfq ON w.sh = dfq.sh)
          | SELECT doc_id, count(*) AS n_windows, CAST(sum(dup) AS BIGINT) AS n_dup,
          |  round(sum(dup) / CAST(count(*) AS DOUBLE), 5) AS dup_fraction
          | FROM j GROUP BY doc_id""".stripMargin,
      "tp_repetition" ->
        """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
          | s AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
          |    list_transform(range(1, len(toks) - 1),
          |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))
          |   ELSE [] END AS sh FROM t)
          | SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
          |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
          |  round(CASE WHEN len(sh) > 0
          |    THEN (len(sh) - len(list_distinct(sh))) / CAST(len(sh) AS DOUBLE)
          |    ELSE 0.0 END, 5) AS rep_ratio
          | FROM s""".stripMargin,
      "tp_pii" ->
        """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
          |   text || ' contact u' || doc_id || '@mail.example.com from 10.0.' ||
          |     (doc_id % 256) || '.7 acct 9001234567',
          |   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
          |   '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
          |   '[0-9]{7,}', '<NUM>', 'g') AS text
          | FROM documents""".stripMargin,
      "dd_exact" ->
        """SELECT doc_id, content_hash, group_size, is_kept FROM (
          | SELECT doc_id, md5(lower(text)) AS content_hash,
          |  count(*) OVER (PARTITION BY md5(lower(text))) AS group_size,
          |  row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) = 1 AS is_kept
          | FROM documents)""".stripMargin,
      "dd_jaccard_pairs" ->
        """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
          | sh AS (SELECT doc_id, list_sort(list_distinct(list_transform(
          |   range(1, greatest(length(t) - 2, 0) + 1), i -> substr(t, i, 3)))) AS s FROM d)
          | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 1.0
          |   ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          |        len(list_distinct(list_concat(a.s, b.s))) END, 5) AS jac
          | FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,
      "dd_embedding" ->
        """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, CAST(1.0 AS DOUBLE) AS cos
          | FROM embeddings""".stripMargin,
      // every doc pairs with its planted identical copy (empty docs share
      // the all-sentinel minhash signature, so they pair too)
      "dd_minhash_planted" ->
        "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents",
      // only a doc with doc 0's exact shingle set survives all 64
      // single-hash bands of its own fingerprint — the corpus has no
      // exact text copies, so the match set is doc 0 alone
      "qp_minhash_planted" ->
        """SELECT doc_id FROM documents
          | WHERE text = (SELECT text FROM documents WHERE doc_id = 0)""".stripMargin,
      // simhash emits no row for token-less docs (no tf rows to sign-sum)
      "dd_simhash_planted" ->
        """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents
          | WHERE regexp_matches(lower(text), '[a-z0-9]')""".stripMargin,
      "dd_components" ->
        """WITH RECURSIVE
          | d AS (SELECT doc_id, lower(text) AS t FROM documents),
          | sh AS (SELECT doc_id, list_sort(list_distinct(list_transform(
          |   range(1, greatest(length(t) - 2, 0) + 1), i -> substr(t, i, 3)))) AS s FROM d),
          | e AS (SELECT a.doc_id AS a, b.doc_id AS b FROM sh a JOIN sh b
          |   ON b.doc_id = a.doc_id + 1
          |  WHERE (CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 1.0
          |   ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          |        len(list_distinct(list_concat(a.s, b.s))) END) >= 0.35),
          | eb AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
          | nodes AS (SELECT DISTINCT a AS id FROM eb),
          | reach(id, r) AS (
          |   SELECT id, id FROM nodes
          |   UNION
          |   SELECT eb.b, reach.r FROM reach JOIN eb ON eb.a = reach.id)
          | SELECT id, min(r) AS component FROM reach GROUP BY id""".stripMargin,
      "sim_cosine" ->
        """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
          | SELECT vec_id, round(CASE WHEN
          |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
          |   sqrt(list_dot_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[]))) = 0 THEN 0.0
          |  ELSE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qe AS DOUBLE[])) /
          |   (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
          |    sqrt(list_dot_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[])))) END, 5) AS cos
          | FROM embeddings, q""".stripMargin,
      // the planted copies of the query vector plus the query doc itself,
      // every cosine exactly 1.0 after round(.,5)
      "sim_ann_planted" ->
        """SELECT CAST(7 AS BIGINT) AS vec_id, CAST(1.0 AS DOUBLE) AS cos
          | UNION ALL
          | SELECT vec_id + 2000000, CAST(1.0 AS DOUBLE) FROM embeddings
          | WHERE vec_id < 10""".stripMargin,
      "sim_ivf_planted" ->
        """SELECT CAST(3 AS BIGINT) AS vec_id, CAST(1.0 AS DOUBLE) AS cos
          | UNION ALL
          | SELECT vec_id + 2000000, CAST(1.0 AS DOUBLE) FROM embeddings
          | WHERE vec_id < 10""".stripMargin,
      "mm_decode" ->
        """SELECT doc_id AS asset_id,
          | 'application/x-fake-' || substr(md5(text), 1, 4) AS mime,
          | CAST(octet_length(encode(text)) AS INT) AS n_bytes,
          | CAST(16 + octet_length(encode(text)) % 1024 AS INT) AS width,
          | CAST(16 + (octet_length(encode(text)) // 7) % 1024 AS INT) AS height,
          | CAST(1 + octet_length(encode(text)) // 1000 AS INT) AS n_frames,
          | round((1 + octet_length(encode(text)) // 1000) / 30.0, 5) AS duration_s
          | FROM documents""".stripMargin,
      "mm_frames" ->
        """SELECT doc_id AS asset_id, CAST(1 + octet_length(encode(text)) // 1000 AS INT) AS n_frames,
          | CAST(unnest(range(0, 1 + octet_length(encode(text)) // 1000, 2)) AS INT) AS frame_idx
          | FROM documents""".stripMargin,
      "mm_decode_png" ->
        """SELECT doc_id AS asset_id, 'image/png' AS mime,
          | CAST(16 + doc_id % 32 AS INT) AS width,
          | CAST(16 + doc_id % 16 AS INT) AS height,
          | CAST(1 AS INT) AS n_frames, CAST(0.0 AS DOUBLE) AS duration_s
          | FROM documents""".stripMargin,
      "mm_decode_wav" ->
        """SELECT doc_id AS asset_id, CAST(8000 AS INT) AS sample_rate,
          | CAST(1 AS INT) AS channels,
          | CAST(400 + (doc_id % 256) * 4 AS INT) AS n_frames,
          | round((400 + (doc_id % 256) * 4) / 8000.0, 5) AS duration_s
          | FROM documents""".stripMargin,
      "mm_resize_png" ->
        """SELECT doc_id AS asset_id,
          | CAST((16 + doc_id % 32) // 2 AS INT) AS width,
          | CAST((16 + doc_id % 16) // 2 AS INT) AS height
          | FROM documents WHERE doc_id < 200""".stripMargin,
      // mp4 duration ticks = frames * timescale // fps (exact: 1000/25),
      // then /timescale seconds — the same arithmetic the box walker reads
      "mm_decode_mp4" ->
        """SELECT doc_id AS asset_id, 'video/mp4' AS mime,
          | CAST(160 + 8 * (doc_id % 20) AS INT) AS width,
          | CAST(120 + 8 * (doc_id % 10) AS INT) AS height,
          | CAST(10 + doc_id % 50 AS INT) AS n_frames,
          | round(((10 + doc_id % 50) * 1000 // 25) / 1000.0, 5) AS duration_s
          | FROM documents""".stripMargin,
      // mkv duration_s = Duration(ms ticks, float8) x TimestampScale(1e6 ns) / 1e9
      "mm_decode_mkv" ->
        """SELECT doc_id AS asset_id, 'video/webm' AS mime,
          | CAST(320 + 2 * (doc_id % 33) AS INT) AS width,
          | CAST(180 + 2 * (doc_id % 21) AS INT) AS height,
          | CAST(5 + doc_id % 40 AS INT) AS n_frames,
          | round(((5 + doc_id % 40) * 40.0) * 1000000 / 1e9, 5) AS duration_s
          | FROM documents""".stripMargin,

      // reverse search: the four registered monitor queries, each as its
      // own set-select (term / AND / OR / adjacent-position phrase)
      "mon_percolate" ->
        """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos FROM documents),
          | d AS (SELECT DISTINCT doc_id, tok FROM t)
          | SELECT doc_id, 'mq_spark' AS query_id FROM d WHERE tok = 'spark'
          | UNION ALL
          | SELECT doc_id, 'mq_and' AS query_id FROM d WHERE tok IN ('group','stream')
          |  GROUP BY doc_id HAVING count(*) = 2
          | UNION ALL
          | SELECT DISTINCT doc_id, 'mq_or' AS query_id FROM d WHERE tok IN ('slow','vector')
          | UNION ALL
          | SELECT DISTINCT a.doc_id, 'mq_phrase' AS query_id FROM t a
          |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          | WHERE a.tok = 'data' AND b.tok = 'group'
          | UNION ALL
          | SELECT DISTINCT doc_id, 'mq_wild' AS query_id FROM d WHERE tok LIKE 'str%'
          | UNION ALL
          | SELECT doc_id, 'mq_not' AS query_id FROM d WHERE tok = 'data'
          |  AND doc_id NOT IN (SELECT doc_id FROM d WHERE tok = 'slow')""".stripMargin,

      // atomic updates: the command batch is deterministic in doc_id, so
      // the folded end-state is closed-form per residue class
      "su_atomic" ->
        """SELECT doc_id,
          | CASE WHEN doc_id % 9 = 0 THEN NULL
          |      WHEN doc_id % 3 = 0 THEN 'xx' ELSE lang END AS lang,
          | n_chars + CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 0 END AS n_chars,
          | CASE WHEN doc_id % 10 = 0 THEN concat(lang, ',fresh')
          |      WHEN doc_id % 2 = 0 THEN concat(lang, ',extra,fresh')
          |      ELSE concat(source, ',', lang) END AS tags
          |FROM documents""".stripMargin,

      // dedup signatures: md5 of name+value concat; the text profile is
      // reproduced with unnest + group by + ordered string_agg
      "su_signature" ->
        """WITH toks AS (
          |  SELECT doc_id, t AS tok FROM (
          |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
          |    FROM documents) WHERE length(t) > 2),
          |counts AS (
          |  SELECT doc_id, tok, count(*)::INT AS cnt FROM toks GROUP BY doc_id, tok),
          |q AS (
          |  SELECT doc_id,
          |    CASE WHEN round(max(cnt) * 0.01) < 2
          |         THEN (CASE WHEN max(cnt) > 1 THEN 2 ELSE 1 END)
          |         ELSE round(max(cnt) * 0.01)::INT END AS quant
          |  FROM counts GROUP BY doc_id),
          |prof AS (
          |  SELECT c.doc_id,
          |    string_agg(c.tok || ' ' || ((c.cnt // q.quant) * q.quant),
          |      chr(10) ORDER BY (c.cnt // q.quant) * q.quant DESC, c.tok ASC) AS profile
          |  FROM counts c JOIN q USING (doc_id)
          |  WHERE (c.cnt // q.quant) * q.quant >= q.quant
          |  GROUP BY c.doc_id)
          |SELECT d.doc_id,
          |  md5('lang' || d.lang || 'source' || d.source) AS sig_md5,
          |  md5('text 1' || coalesce(p.profile, '')) AS sig_profile
          |FROM documents d LEFT JOIN prof p USING (doc_id)""".stripMargin,

      "su_dedup_overwrite" ->
        """SELECT md5('lang' || lang || 'source' || source) AS signature,
          | max(doc_id) AS doc_id, lang, source
          |FROM documents GROUP BY lang, source""".stripMargin,

      // Naive Bayes: reference arithmetic (class-df likelihood, add-one
      // smoothing, avg-unique-terms denominator, tf-weighted, prior added),
      // argmax after 6-decimal rounding with class-desc tie-break
      "cls_nb" ->
        """WITH lab AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
          | unl AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
          | ldt AS (SELECT DISTINCT doc_id, tok FROM
          |   (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM lab)),
          | ldtc AS (SELECT d.doc_id, d.tok, l.lang AS cls FROM ldt d JOIN lab l USING (doc_id)),
          | cstats AS (SELECT lang AS cls, CAST(count(*) AS DOUBLE) AS class_docs FROM lab GROUP BY 1),
          | g AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM lab) AS n,
          |              (SELECT CAST(count(*) AS DOUBLE) FROM ldtc) / (SELECT count(*) FROM lab) AS avg_unique),
          | cdf AS (SELECT cls, tok, CAST(count(*) AS DOUBLE) AS dfc FROM ldtc GROUP BY 1, 2),
          | ut AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM
          |   (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM unl)
          |  GROUP BY 1, 2),
          | xc AS (SELECT ut.doc_id, ut.tok, ut.tf, cs.cls, cs.class_docs, g.n, g.avg_unique
          |   FROM ut CROSS JOIN cstats cs CROSS JOIN g),
          | sc AS (SELECT xc.doc_id, xc.cls,
          |     sum(xc.tf * ln((coalesce(cdf.dfc, 0) + 1) / (xc.avg_unique * xc.class_docs + xc.n))) AS llh,
          |     any_value(xc.class_docs) AS cd, any_value(xc.n) AS n
          |   FROM xc LEFT JOIN cdf ON cdf.cls = xc.cls AND cdf.tok = xc.tok
          |   GROUP BY 1, 2)
          | SELECT doc_id, cls AS predicted
          | FROM (SELECT doc_id, cls, round(llh + ln(cd / n), 6) AS score FROM sc)
          | QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls DESC) = 1""".stripMargin,

      // BM25 Naive Bayes: P(w|c) = class-term BM25 constant + best BM25
      // score of w over class docs; llh tf-weighted, prior = ln(class const)
      "cls_bm25nb" ->
        """WITH lab AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
          | unl AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
          | ltf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM
          |   (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM lab)
          |  GROUP BY 1, 2),
          | dl AS (SELECT doc_id, sum(tf) AS dl FROM ltf GROUP BY 1),
          | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM lab) AS n,
          |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM lab) AS avgdl),
          | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM ltf GROUP BY 1),
          | cc AS (SELECT lang AS cls,
          |     ln(1 + (st.n - CAST(count(*) AS DOUBLE) + 0.5) / (CAST(count(*) AS DOUBLE) + 0.5)) / (1 + 1.2) AS sc
          |   FROM lab CROSS JOIN st GROUP BY lang, st.n),
          | wb AS (SELECT l2.lang AS cls, ltf.tok,
          |     max(ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
          |       ltf.tf / (ltf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS sw
          |   FROM ltf JOIN lab l2 USING (doc_id) JOIN dl USING (doc_id)
          |   JOIN dfs ON dfs.tok = ltf.tok CROSS JOIN st
          |   GROUP BY 1, 2),
          | ut AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM
          |   (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM unl)
          |  GROUP BY 1, 2),
          | sc AS (SELECT ut.doc_id, cc.cls,
          |     sum(ut.tf * ln(cc.sc + coalesce(wb.sw, 0))) AS llh,
          |     any_value(cc.sc) AS c0
          |   FROM ut CROSS JOIN cc LEFT JOIN wb ON wb.cls = cc.cls AND wb.tok = ut.tok
          |   GROUP BY 1, 2)
          | SELECT doc_id, cls AS predicted
          | FROM (SELECT doc_id, cls, round(llh + ln(c0), 6) AS score FROM sc)
          | QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls DESC) = 1""".stripMargin,

      // kNN: per-test-doc BM25-weighted shared-token neighbor ranking,
      // top-5, majority vote (count, then summed sim, then class desc)
      "cls_knn" ->
        """WITH lab AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
          | unl AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
          | ltf AS (SELECT doc_id AS train_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM
          |   (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM lab)
          |  GROUP BY 1, 2),
          | dl AS (SELECT train_id, sum(tf) AS dl FROM ltf GROUP BY 1),
          | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM lab) AS n,
          |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM lab) AS avgdl),
          | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM ltf GROUP BY 1),
          | q AS (SELECT DISTINCT doc_id AS test_id, tok FROM
          |   (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM unl)),
          | pairs AS (SELECT q.test_id, l.train_id,
          |     round(sum(ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
          |       l.tf / (l.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS sim
          |   FROM q JOIN dfs ON q.tok = dfs.tok JOIN ltf l ON l.tok = q.tok
          |   JOIN dl ON dl.train_id = l.train_id CROSS JOIN st
          |   WHERE dfs.df <= st.n * 0.9
          |   GROUP BY 1, 2),
          | top AS (SELECT * FROM pairs
          |   QUALIFY row_number() OVER (PARTITION BY test_id ORDER BY sim DESC, train_id) <= 5),
          | votes AS (SELECT t.test_id, l.lang AS cls, count(*) AS votes, round(sum(t.sim), 6) AS score
          |   FROM top t JOIN lab l ON l.doc_id = t.train_id GROUP BY 1, 2)
          | SELECT test_id AS doc_id, cls AS predicted FROM votes
          | QUALIFY row_number() OVER (PARTITION BY test_id ORDER BY votes DESC, score DESC, cls DESC) = 1""".stripMargin,

      "q61_diversified" ->
        """WITH li AS (SELECT l_orderkey * 10 + l_linenumber AS line_id, l_suppkey,
          |   CAST(l_quantity AS DOUBLE) AS qscore FROM lineitem),
          | capped AS (SELECT * FROM li QUALIFY
          |   row_number() OVER (PARTITION BY l_suppkey ORDER BY qscore DESC, line_id ASC) <= 3)
          | SELECT line_id, l_suppkey, qscore FROM capped
          | ORDER BY qscore DESC, line_id ASC LIMIT 100""".stripMargin,

      "ft_blended" ->
        """WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
          | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
          | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
          |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
          | qt AS (SELECT * FROM tf WHERE tok IN ('spark','dup')),
          | dfb AS (SELECT max(df) AS df FROM
          |         (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok)),
          | sc AS (SELECT qt.doc_id,
          |   (CASE WHEN qt.tok = 'spark' THEN 1.0 ELSE 1.5 END) *
          |   ln(1 + (st.n - dfb.df + 0.5) / (dfb.df + 0.5)) * qt.tf /
          |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
          |  FROM qt JOIN dl ON qt.doc_id = dl.doc_id, dfb, st)
          | SELECT doc_id, round(max(s) + 0.1 * (sum(s) - max(s)), 5) AS score
          | FROM sc GROUP BY doc_id""".stripMargin,
      "ft_feature_sat" ->
        s"""WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
           | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
           | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
           | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
           |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
           | qt AS (SELECT * FROM tf WHERE tok = 'spark'),
           | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
           | agg AS (SELECT qt.doc_id,
           |   sum(ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
           |       (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS raw
           |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st
           |  GROUP BY qt.doc_id)
           | SELECT a.doc_id,
           |   round(a.raw + 1.5 * (1 - 4.0 / (d.n_chars / 100.0 + 4.0)), 5) AS score
           | FROM agg a JOIN documents d ON a.doc_id = d.doc_id""".stripMargin,

      "q63_edismax" ->
        """WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
          | toki AS (SELECT doc_id, unnest(regexp_extract_all(lower(source || ' ' || lang), '[a-z0-9]+')) AS tok FROM documents),
          | tft AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
          | tfi AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM toki GROUP BY doc_id, tok),
          | dlt AS (SELECT doc_id, sum(tf) AS dl FROM tft GROUP BY doc_id),
          | dli AS (SELECT doc_id, sum(tf) AS dl FROM tfi GROUP BY doc_id),
          | stt AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
          |                (SELECT sum(dl) FROM dlt) / (SELECT count(*) FROM documents) AS avgdl),
          | sti AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
          |                (SELECT sum(dl) FROM dli) / (SELECT count(*) FROM documents) AS avgdl),
          | qtt AS (SELECT * FROM tft WHERE tok IN ('data','group','src13')),
          | qti AS (SELECT * FROM tfi WHERE tok IN ('data','group','src13')),
          | dft AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qtt GROUP BY tok),
          | dfi AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qti GROUP BY tok),
          | sct AS (SELECT q.doc_id, q.tok,
          |   1.0 * ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * q.tf /
          |   (q.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS bs
          |  FROM qtt q JOIN dft d USING (tok) JOIN dlt l USING (doc_id), stt s),
          | sci AS (SELECT q.doc_id, q.tok,
          |   2.0 * ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * q.tf /
          |   (q.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS bs
          |  FROM qti q JOIN dfi d USING (tok) JOIN dli l USING (doc_id), sti s),
          | allsc AS (SELECT * FROM sct UNION ALL SELECT * FROM sci),
          | cl AS (SELECT doc_id, tok, max(bs) + 0.1 * (sum(bs) - max(bs)) AS cs
          |        FROM allsc GROUP BY doc_id, tok),
          | mainq AS (SELECT doc_id, sum(cs) AS ms FROM cl GROUP BY doc_id
          |           HAVING count(*) >= 2),
          | idft AS (SELECT t.tok,
          |   ln(1 + (s.n - coalesce(d.df, 0) + 0.5) / (coalesce(d.df, 0) + 0.5)) AS idf
          |  FROM (VALUES ('data'),('group'),('src13')) AS t(tok)
          |  LEFT JOIN dft d ON d.tok = t.tok, stt s),
          | pt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |        generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos FROM documents),
          | ptf0 AS (SELECT a.doc_id, CAST(count(*) AS DOUBLE) AS ptf FROM pt a
          |          JOIN pt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          |          WHERE a.tok = 'data' AND b.tok = 'group' GROUP BY a.doc_id),
          | ptf1 AS (SELECT a.doc_id, CAST(count(*) AS DOUBLE) AS ptf FROM pt a
          |          JOIN pt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          |          WHERE a.tok = 'group' AND b.tok = 'src13' GROUP BY a.doc_id),
          | pb0 AS (SELECT p.doc_id,
          |   1.5 * ((SELECT idf FROM idft WHERE tok = 'data') + (SELECT idf FROM idft WHERE tok = 'group')) *
          |   p.ptf / (p.ptf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS ps
          |  FROM ptf0 p JOIN dlt l USING (doc_id), stt s),
          | pb1 AS (SELECT p.doc_id,
          |   1.5 * ((SELECT idf FROM idft WHERE tok = 'group') + (SELECT idf FROM idft WHERE tok = 'src13')) *
          |   p.ptf / (p.ptf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS ps
          |  FROM ptf1 p JOIN dlt l USING (doc_id), stt s),
          | pball AS (SELECT * FROM pb0 UNION ALL SELECT * FROM pb1),
          | pbagg AS (SELECT doc_id, sum(ps) AS pb FROM pball GROUP BY doc_id)
          | SELECT m.doc_id, round(m.ms + coalesce(p.pb, 0), 5) AS score
          | FROM mainq m LEFT JOIN pbagg p USING (doc_id)""".stripMargin,

      "ft_payload_score" ->
        """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
          |              FROM documents),
          | occ AS (SELECT doc_id, t[i] AS term, CAST((i-1) % 7 AS DOUBLE) AS payload
          |         FROM toks, unnest(generate_series(1, len(t))) AS g(i))
          | SELECT doc_id, round(avg(payload), 5) AS payload_score,
          |   count(*) AS n_payloads
          | FROM occ WHERE term = 'spark' GROUP BY doc_id""".stripMargin,

      "ft_facet_sampled" ->
        """WITH nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          | r AS (SELECT least(1.0, 150.0 / n) AS rate FROM nn),
          | s AS (SELECT d.lang FROM documents d, r
          |       WHERE (d.doc_id * 2654435761) % 1009 < r.rate * 1009)
          | SELECT s.lang, count(*) AS sampled,
          |   round(count(*) / r.rate, 5) AS amortized
          | FROM s, r GROUP BY s.lang, r.rate""".stripMargin,

      "q62_scorenodes" ->
        """WITH g AS (SELECT l_partkey AS node, count(*) AS gathered
          |           FROM lineitem WHERE l_quantity > 45 GROUP BY 1),
          | dfs AS (SELECT l_partkey AS node, count(*) AS docFreq FROM lineitem GROUP BY 1),
          | nn AS (SELECT count(*) AS numDocs FROM lineitem)
          | SELECT g.node, g.gathered, dfs.docFreq AS "docFreq",
          |   round((ln(g.gathered) + 1.0) *
          |         (ln(CAST(nn.numDocs + 1 AS DOUBLE) / (dfs.docFreq + 1)) + 1.0), 6)
          |     AS node_score
          | FROM g JOIN dfs USING (node), nn""".stripMargin,

      "q63_random" ->
        """SELECT doc_id, lang, n_chars FROM documents
          | ORDER BY (doc_id * 2654435761 + 42) % 1000003 ASC, doc_id ASC
          | LIMIT 50""".stripMargin,

      "cls_features" ->
        """WITH lab AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS y, text FROM documents),
          | tot AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(y) AS DOUBLE) AS npos FROM lab),
          | dt AS (SELECT DISTINCT doc_id, y, term FROM
          |   (SELECT doc_id, y, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM lab)),
          | pt AS (SELECT term, CAST(count(*) AS DOUBLE) AS df, CAST(sum(y) AS DOUBLE) AS xc FROM dt GROUP BY 1),
          | sc AS (SELECT term, df,
          |   (CASE WHEN npos/n <= 0 OR npos/n >= 1 THEN 0
          |     ELSE -(npos/n)*ln(npos/n) - (1-npos/n)*ln(1-npos/n) END)
          |   - ((df/n) * (CASE WHEN xc/df <= 0 OR xc/df >= 1 THEN 0
          |       ELSE -(xc/df)*ln(xc/df) - (1-xc/df)*ln(1-xc/df) END)
          |     + (1 - df/n) * (CASE WHEN (npos-xc)/(n-df+1) <= 0 OR (npos-xc)/(n-df+1) >= 1 THEN 0
          |       ELSE -((npos-xc)/(n-df+1))*ln((npos-xc)/(n-df+1))
          |            - (1-(npos-xc)/(n-df+1))*ln(1-(npos-xc)/(n-df+1)) END)) AS raw_score,
          |   ln(n/(df+1)) AS raw_idf
          |   FROM pt, tot)
          | SELECT term, round(raw_score, 6) AS score, CAST(df AS BIGINT) AS doc_freq,
          |   round(raw_idf, 6) AS idf
          | FROM sc ORDER BY raw_score DESC, term ASC LIMIT 25""".stripMargin,

      "cl_base" ->
        """WITH win AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
          |            FROM documents WHERE doc_id < 100),
          | uni AS (SELECT DISTINCT doc_id, unnest(t) AS phrase FROM win),
          | bi AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS phrase
          |        FROM win, unnest(generate_series(1, len(t)-1)) AS g(i) WHERE len(t) >= 2),
          | grams AS (SELECT * FROM uni UNION SELECT * FROM bi),
          | nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM win),
          | stop AS (SELECT phrase FROM (SELECT phrase, count(*) AS c FROM uni GROUP BY 1), nn
          |          WHERE c >= nn.n * 0.8),
          | keep AS (SELECT g.* FROM grams g WHERE NOT EXISTS
          |     (SELECT 1 FROM stop s WHERE list_contains(string_split(g.phrase, ' '), s.phrase))),
          | scored AS (SELECT phrase, count(*) AS df,
          |     CAST(CAST(count(*) AS DOUBLE) *
          |       (CASE WHEN contains(phrase, ' ') THEN 1.0 ELSE 0.5 END) AS DOUBLE) AS score
          |   FROM keep GROUP BY 1),
          | top AS (SELECT s.phrase, s.df, s.score FROM scored s, nn
          |   WHERE s.df >= 3 AND s.df < nn.n * 0.8
          |   ORDER BY s.score DESC, s.phrase ASC LIMIT 20)
          | SELECT t.phrase, t.df, t.score, k.doc_id
          | FROM top t JOIN keep k USING (phrase)""".stripMargin,

      "expr_score" ->
        """SELECT doc_id, round(least(sqrt(n_chars), 50)
          |   + (CASE WHEN n_chars > 500 THEN 10 ELSE 0 END)
          |   + ln(n_chars + 1) * 2, 5) AS expr_score
          | FROM documents""".stripMargin,

      "expr_rescore" ->
        """WITH hits AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS fp FROM documents
          |   ORDER BY fp DESC, doc_id ASC LIMIT 100)
          | SELECT h.doc_id,
          |   round(h.fp * 0.001 + log10(d.n_chars + 1) * 3, 5) AS score,
          |   round(h.fp, 5) AS first_pass
          | FROM hits h JOIN documents d USING (doc_id)""".stripMargin
    )
    // ---- MathEval (solrj io/eval) oracles: each mirrors the Spark-side
    // arithmetic term for term; float outputs rounded on both sides ----
    val me = Map(
      "me_moving" ->
        """WITH s AS (SELECT event_type, value AS v,
          |   row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn FROM events),
          | w AS (SELECT event_type, rn,
          |   avg(v) OVER (PARTITION BY event_type ORDER BY rn ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma,
          |   median(v) OVER (PARTITION BY event_type ORDER BY rn ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mm
          |  FROM s)
          | SELECT event_type, CAST(rn - 7 AS INT) AS idx, round(ma, 5) AS ma, round(mm, 5) AS mm
          | FROM w WHERE rn >= 7""".stripMargin,
      "me_movingmad" ->
        """WITH s AS (SELECT event_type, value AS v,
          |   row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn FROM events),
          | m AS (SELECT event_type, rn,
          |   avg(v) OVER (PARTITION BY event_type ORDER BY rn ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mean
          |  FROM s),
          | j AS (SELECT e.event_type, e.rn AS endrn, abs(x.v - e.mean) AS ad
          |   FROM m e JOIN s x ON x.event_type = e.event_type
          |     AND x.rn BETWEEN e.rn - 6 AND e.rn
          |  WHERE e.rn >= 7)
          | SELECT event_type, CAST(endrn - 7 AS INT) AS idx, round(sum(ad) / 7, 5) AS mad
          | FROM j GROUP BY event_type, endrn""".stripMargin,
      "me_finddelay" ->
        """WITH s AS (SELECT event_type, value AS v,
          |   row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS i FROM events),
          | b AS (SELECT event_type, i - 10 AS j, v FROM s WHERE i BETWEEN 10 AND 41),
          | lb AS (SELECT event_type, count(*) AS lb FROM b GROUP BY 1),
          | c AS (SELECT s.event_type, s.i + (lb.lb - 1 - b.j) AS k, sum(s.v * b.v) AS cv
          |   FROM s JOIN b ON s.event_type = b.event_type
          |     JOIN lb ON lb.event_type = s.event_type
          |  GROUP BY s.event_type, s.i + (lb.lb - 1 - b.j)),
          | r AS (SELECT c.event_type, c.k,
          |   row_number() OVER (PARTITION BY c.event_type ORDER BY abs(cv) DESC, c.k) AS rn FROM c)
          | SELECT r.event_type, CAST(r.k + 1 - lb.lb AS DOUBLE) AS delay
          | FROM r JOIN lb ON lb.event_type = r.event_type WHERE rn = 1""".stripMargin,
      "me_emd" ->
        """WITH e AS (SELECT vec_id, embedding FROM embeddings),
          | p AS (SELECT a.vec_id, a.embedding AS va, b.embedding AS vb
          |   FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
          | u AS (SELECT vec_id, r.range AS pos,
          |   CAST(va[CAST(r.range AS INT)] AS DOUBLE) - CAST(vb[CAST(r.range AS INT)] AS DOUBLE) AS d
          |  FROM p, range(1, 65) r),
          | f AS (SELECT vec_id, sum(d) OVER (PARTITION BY vec_id ORDER BY pos) AS flow FROM u)
          | SELECT vec_id, round(sum(abs(flow)), 5) AS emd FROM f GROUP BY vec_id""".stripMargin,
      "me_freqtable" ->
        """WITH c AS (SELECT lang AS value, count(*) AS cnt FROM documents GROUP BY 1),
          | t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c)
          | SELECT value, cnt, round(cnt / t.total, 6) AS pct FROM c, t""".stripMargin,
      "me_mode" ->
        """SELECT CAST(n_chars AS DOUBLE) AS mode FROM documents
          | GROUP BY n_chars ORDER BY count(*) DESC, CAST(n_chars AS DOUBLE) LIMIT 1""".stripMargin,
      "me_histogram" ->
        """WITH mm AS (SELECT CAST(min(n_chars) AS DOUBLE) AS lo,
          |   CAST(max(n_chars) AS DOUBLE) AS hi FROM documents)
          | SELECT CAST(least(floor((n_chars - mm.lo) / ((mm.hi - mm.lo) / 10)), 9) AS INT) AS bin,
          |  count(*) AS cnt FROM documents, mm GROUP BY 1""".stripMargin,
      "me_outliers" ->
        """WITH o AS (SELECT event_id,
          |   least(1.0, greatest(0.0, (value - 0.0) / 100.0)) AS cdf FROM events)
          | SELECT event_id, round(cdf, 6) AS cdf FROM o
          | WHERE cdf < 0.05 OR cdf > 0.95""".stripMargin,
      "me_timediff" ->
        """WITH s AS (SELECT event_type, value AS v,
          |   row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn FROM events),
          | d AS (SELECT event_type, rn,
          |   v - lag(v, 3) OVER (PARTITION BY event_type ORDER BY rn) AS dif FROM s)
          | SELECT event_type, CAST(rn - 4 AS INT) AS idx, round(dif, 5) AS dif
          | FROM d WHERE rn >= 4""".stripMargin,
      "me_convolve" ->
        """WITH a AS (SELECT lang, row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1 AS i,
          |   CAST(n_chars % 10 AS DOUBLE) AS v FROM documents WHERE doc_id < 64),
          | b AS (SELECT * FROM (VALUES (0, 1.0), (1, 0.5), (2, 0.25)) AS t(j, w))
          | SELECT lang, CAST(a.i + b.j AS INT) AS k, round(sum(a.v * b.w), 5) AS c
          | FROM a, b GROUP BY lang, a.i + b.j""".stripMargin,
      "me_fft" ->
        """WITH s AS (SELECT event_type, value AS v,
          |   row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS j FROM events),
          | f AS (SELECT * FROM s WHERE j < 16),
          | k AS (SELECT CAST(r.range AS INT) AS k FROM range(0, 16) r)
          | SELECT f.event_type, k.k,
          |  round(sqrt(pow(sum(f.v * cos(2 * pi() * f.j * k.k / 16)), 2) +
          |             pow(sum(f.v * sin(2 * pi() * f.j * k.k / 16)), 2)), 5) AS mag
          | FROM f, k GROUP BY f.event_type, k.k""".stripMargin,
      "me_dist" ->
        """WITH ks AS (SELECT DISTINCT doc_id % 16 AS k FROM documents),
          | pc AS (SELECT ks.k, sum(exp(-4.0) * pow(4.0, i.range) /
          |          CAST(factorial(CAST(i.range AS INT)) AS DOUBLE)) AS pcdf
          |        FROM ks, range(0, 16) i WHERE i.range <= ks.k GROUP BY ks.k),
          | h AS (SELECT sum(pow(CAST(r.range AS DOUBLE), -1.1)) AS hh FROM range(1, 17) r)
          | SELECT ks.k,
          |  round(exp(-4.0) * pow(4.0, ks.k) / CAST(factorial(CAST(ks.k AS INT)) AS DOUBLE), 6) AS pois,
          |  round(pc.pcdf, 6) AS pois_cdf,
          |  round(CAST(factorial(16) AS DOUBLE) / (CAST(factorial(CAST(ks.k AS INT)) AS DOUBLE) *
          |    CAST(factorial(CAST(16 - ks.k AS INT)) AS DOUBLE)) * pow(0.3, ks.k) * pow(1 - 0.3, 16 - ks.k), 6) AS binom,
          |  round(least(1.0, greatest(0.0, (ks.k - 2.0) / 10.0)), 6) AS unif,
          |  round(CASE WHEN ks.k <= 0 THEN 0.0 ELSE 1.0 - exp(-ks.k / 5.0) END, 6) AS expo,
          |  round(CASE WHEN ks.k <= 0 THEN 0.0 ELSE 1.0 - exp(-pow(ks.k / 5.0, 1.5)) END, 6) AS weib,
          |  round(CASE WHEN ks.k <= 0 THEN 0.0 WHEN ks.k <= 6 THEN pow(ks.k - 0.0, 2.0) / (16.0 * 6.0)
          |    WHEN ks.k < 16 THEN 1.0 - pow(16.0 - ks.k, 2.0) / (16.0 * 10.0) ELSE 1.0 END, 6) AS tri,
          |  round(pow(CAST(ks.k + 1 AS DOUBLE), -1.1) / h.hh, 6) AS zipf,
          |  round(pow(1 - 0.25, ks.k) * 0.25, 6) AS geom,
          |  round(1.0 - pow(1 - 0.25, ks.k + 1), 6) AS geom_cdf,
          |  round(least(1.0, greatest(0.0, (floor(CAST(ks.k AS DOUBLE)) - 2 + 1) / 12.0)), 6) AS uint
          | FROM ks JOIN pc ON ks.k = pc.k, h""".stripMargin,
      "me_ecdf" ->
        "SELECT doc_id, round(cume_dist() OVER (ORDER BY n_chars), 6) AS ecdf FROM documents",
      "me_ttest" ->
        """WITH g AS (SELECT event_type, avg(value) AS m, var_samp(value) AS v,
          |   CAST(count(*) AS DOUBLE) AS n FROM events
          |  WHERE event_type IN ('click','view') GROUP BY event_type),
          | a AS (SELECT m, v, n FROM g WHERE event_type = 'click'),
          | b AS (SELECT m, v, n FROM g WHERE event_type = 'view')
          | SELECT round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 5) AS t_stat,
          |  round(pow(a.v / a.n + b.v / b.n, 2) /
          |    (pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1)), 3) AS t_df
          | FROM a, b""".stripMargin,
      "me_ttest_paired" ->
        """WITH s AS (SELECT avg(l_quantity - l_discount * 100) AS md,
          |   var_samp(l_quantity - l_discount * 100) AS vd,
          |   CAST(count(*) AS DOUBLE) AS n FROM lineitem)
          | SELECT round(md / sqrt(vd / n), 5) AS t_stat, round(n - 1, 2) AS t_df FROM s""".stripMargin,
      "me_ks" ->
        """WITH cc AS (SELECT value AS v, count(*) AS ct FROM events GROUP BY 1),
          | c2 AS (SELECT v, ct, sum(ct) OVER (ORDER BY v) AS cum FROM cc),
          | n AS (SELECT CAST(sum(ct) AS DOUBLE) AS nn FROM cc)
          | SELECT round(max(greatest(
          |   abs(cum / n.nn - least(1.0, greatest(0.0, (v - 0.0) / 100.0))),
          |   abs((cum - ct) / n.nn - least(1.0, greatest(0.0, (v - 0.0) / 100.0))))), 6) AS d_stat
          | FROM c2, n""".stripMargin,
      "me_anova" ->
        """WITH g AS (SELECT event_type, sum(value) AS s, sum(value * value) AS ss,
          |   CAST(count(*) AS DOUBLE) AS n FROM events GROUP BY event_type),
          | t AS (SELECT sum(s) AS ts, sum(ss) AS tss, sum(n) AS tn,
          |   sum(s * s / n) AS sgm, CAST(count(*) AS DOUBLE) AS k FROM g)
          | SELECT round(((sgm - ts * ts / tn) / (k - 1)) / ((tss - sgm) / (tn - k)), 4) AS f_ratio
          | FROM t""".stripMargin,
      "me_mannwhitney" ->
        """WITH two AS (SELECT event_type AS g, value AS v FROM events
          |   WHERE event_type IN ('click','view')),
          | rk AS (SELECT g, v, rank() OVER (ORDER BY v) AS r,
          |   count(*) OVER (PARTITION BY v) AS ct FROM two),
          | ag AS (SELECT g, sum(r + (ct - 1) / 2.0) AS rs, CAST(count(*) AS DOUBLE) AS n
          |   FROM rk GROUP BY g),
          | a AS (SELECT rs, n FROM ag WHERE g = 'click'),
          | b AS (SELECT n FROM ag WHERE g = 'view')
          | SELECT round(a.rs - a.n * (a.n + 1) / 2, 2) AS u1,
          |  round(a.n * b.n - (a.rs - a.n * (a.n + 1) / 2), 2) AS u2 FROM a, b""".stripMargin,
      "me_chisq" ->
        """WITH c1 AS (SELECT event_type AS cat, CAST(count(*) AS DOUBLE) AS o1 FROM events
          |   WHERE event_id % 2 = 0 GROUP BY 1),
          | c2 AS (SELECT event_type AS cat, CAST(count(*) AS DOUBLE) AS o2 FROM events
          |   WHERE event_id % 2 = 1 GROUP BY 1),
          | j AS (SELECT coalesce(c1.cat, c2.cat) AS cat, coalesce(o1, 0) AS o1,
          |   coalesce(o2, 0) AS o2 FROM c1 FULL OUTER JOIN c2 ON c1.cat = c2.cat),
          | t AS (SELECT sum(o1) AS t1, sum(o2) AS t2 FROM j)
          | SELECT round(sum(pow(sqrt(t.t2 / t.t1) * o1 - sqrt(t.t1 / t.t2) * o2, 2) / (o1 + o2)), 5) AS chi2
          | FROM j, t WHERE o1 + o2 > 0""".stripMargin,
      "me_temporal" ->
        """SELECT event_id, CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS mo,
          | CAST(day(ts) AS INT) AS dom, CAST(dayofyear(ts) AS INT) AS doy,
          | CAST(hour(ts) AS INT) AS h, CAST(minute(ts) AS INT) AS mi,
          | CAST(second(ts) AS INT) AS sec, CAST(weekofyear(ts) AS INT) AS wk,
          | CAST(quarter(ts) AS INT) AS q, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
          | FROM events""".stripMargin,
      "me_gtest" ->
        """WITH c1 AS (SELECT event_type AS cat, CAST(count(*) AS DOUBLE) AS o1 FROM events
          |   WHERE event_id % 2 = 0 GROUP BY 1),
          | c2 AS (SELECT event_type AS cat, CAST(count(*) AS DOUBLE) AS o2 FROM events
          |   WHERE event_id % 2 = 1 GROUP BY 1),
          | j AS (SELECT coalesce(c1.cat, c2.cat) AS cat, coalesce(o1, 0) AS o1,
          |   coalesce(o2, 0) AS o2 FROM c1 FULL OUTER JOIN c2 ON c1.cat = c2.cat),
          | t AS (SELECT sum(o1) AS t1, sum(o2) AS t2 FROM j)
          | SELECT round(2 * sum(
          |   (CASE WHEN o1 > 0 THEN o1 * ln(o1 / ((o1 + o2) * (t.t1 / (t.t1 + t.t2)))) ELSE 0 END) +
          |   (CASE WHEN o2 > 0 THEN o2 * ln(o2 / ((o1 + o2) * (t.t2 / (t.t1 + t.t2)))) ELSE 0 END)), 5) AS g_stat
          | FROM j, t WHERE o1 + o2 > 0""".stripMargin,
      "me_dbscan" ->
        """SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY doc_id % 4) AS cluster
          | FROM documents WHERE doc_id < 800""".stripMargin,
      "me_matmul" ->
        """WITH a AS (SELECT doc_id % 7 AS i, doc_id % 5 AS j, CAST(count(*) AS DOUBLE) AS v
          |   FROM documents GROUP BY 1, 2),
          | b AS (SELECT doc_id % 5 AS i, doc_id % 3 AS j, CAST(sum(doc_id % 4 + 1) AS DOUBLE) AS v
          |   FROM documents GROUP BY 1, 2)
          | SELECT a.i, b.j, round(sum(a.v * b.v), 2) AS v
          | FROM a JOIN b ON a.j = b.i GROUP BY a.i, b.j""".stripMargin,
      "me_convexhull" ->
        "SELECT * FROM (VALUES (0.0, 0.0), (24.0, 0.0), (24.0, 19.0), (0.0, 19.0)) AS t(x, y)",
      "me_enclosingdisk" ->
        """SELECT 12.0 AS center_x, 9.5 AS center_y,
          | round(sqrt(12.0 * 12.0 + 9.5 * 9.5), 6) AS radius""".stripMargin,
      "me_corr" ->
        """WITH s AS (SELECT corr(l_quantity, l_quantity) AS qq,
          |   corr(l_quantity, l_extendedprice) AS qe, corr(l_quantity, l_discount) AS qd,
          |   corr(l_extendedprice, l_extendedprice) AS ee, corr(l_extendedprice, l_discount) AS ed,
          |   corr(l_discount, l_discount) AS dd FROM lineitem)
          | SELECT 'l_quantity' AS c1, 'l_quantity' AS c2, round(qq, 6) AS r FROM s
          | UNION ALL SELECT 'l_quantity', 'l_extendedprice', round(qe, 6) FROM s
          | UNION ALL SELECT 'l_quantity', 'l_discount', round(qd, 6) FROM s
          | UNION ALL SELECT 'l_extendedprice', 'l_quantity', round(qe, 6) FROM s
          | UNION ALL SELECT 'l_extendedprice', 'l_extendedprice', round(ee, 6) FROM s
          | UNION ALL SELECT 'l_extendedprice', 'l_discount', round(ed, 6) FROM s
          | UNION ALL SELECT 'l_discount', 'l_quantity', round(qd, 6) FROM s
          | UNION ALL SELECT 'l_discount', 'l_extendedprice', round(ed, 6) FROM s
          | UNION ALL SELECT 'l_discount', 'l_discount', round(dd, 6) FROM s""".stripMargin,
      "me_ols" ->
        """SELECT 0 AS term, round(regr_intercept(l_extendedprice, l_quantity), 4) AS coef FROM lineitem
          | UNION ALL
          | SELECT 1 AS term, round(regr_slope(l_extendedprice, l_quantity), 4) AS coef FROM lineitem""".stripMargin,
      "me_knn" ->
        """WITH q AS (SELECT unnest([5.0, 17.0, 29.0, 41.0]) AS q),
          | r AS (SELECT q.q, l_extendedprice AS y,
          |   row_number() OVER (PARTITION BY q.q
          |     ORDER BY abs(l_quantity - q.q), l_orderkey, l_linenumber) AS rn
          |  FROM lineitem, q)
          | SELECT q, round(avg(y), 4) AS pred FROM r WHERE rn <= 10 GROUP BY q""".stripMargin,
      "me_kmeans" ->
        "SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY doc_id % 3) AS rep FROM documents",
      "me_fuzzykmeans" ->
        "SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY doc_id % 3) AS rep FROM documents",
      "me_gaussfit" ->
        """SELECT CAST(doc_id AS INT) AS i,
          | round(4.0 * exp(-pow(doc_id - 16.0, 2) / 50.0), 5) AS fit
          | FROM documents WHERE doc_id < 32""".stripMargin,
      "me_harmonicfit" ->
        """SELECT CAST(doc_id AS INT) AS i,
          | round(2.5 * sin(0.7 * doc_id + 0.3), 5) AS fit
          | FROM documents WHERE doc_id < 64""".stripMargin,
      "me_distances" ->
        """WITH e AS (SELECT vec_id, embedding FROM embeddings),
          | p AS (SELECT a.vec_id, a.embedding AS va, b.embedding AS vb
          |   FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
          | u AS (SELECT vec_id, CAST(unnest(va) AS DOUBLE) AS x,
          |   CAST(unnest(vb) AS DOUBLE) AS y FROM p),
          | g AS (SELECT vec_id, sum(abs(x - y)) AS man,
          |   sqrt(sum((x - y) * (x - y))) AS euc, max(abs(x - y)) AS cheb,
          |   sum(CASE WHEN abs(x) + abs(y) = 0 THEN 0.0
          |       ELSE abs(x - y) / (abs(x) + abs(y)) END) AS canb,
          |   sum(abs(x)) AS l1, max(abs(x)) AS linf
          |  FROM u GROUP BY vec_id)
          | SELECT vec_id, round(man, 5) AS man, round(euc, 5) AS euc,
          |  round(cheb, 5) AS cheb, round(canb, 5) AS canb,
          |  round(l1, 5) AS l1, round(linf, 5) AS linf FROM g""".stripMargin)

    // ---- Solr analytics contrib oracles: each mirrors the Spark-side
    // reference semantics term for term (index rules, boundary lists) ----
    val an = Map(
      "an_orderstats" ->
        """WITH r AS (SELECT l_returnflag, l_quantity AS v,
          |   row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
          |   count(*) OVER (PARTITION BY l_returnflag) AS n
          |  FROM lineitem WHERE l_quantity IS NOT NULL)
          | SELECT l_returnflag,
          |  round(max(CASE WHEN rn = CAST(floor(0.25 * n) AS BIGINT) + 1 THEN v END), 4) AS p25,
          |  round(max(CASE WHEN rn = CAST(floor(0.95 * n) AS BIGINT) + 1 THEN v END), 4) AS p95,
          |  round((max(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT) THEN v END)
          |       + max(CASE WHEN rn = CAST(floor(n / 2) AS BIGINT) + 1 THEN v END)) / 2.0, 4) AS med,
          |  round(max(CASE WHEN rn = 3 THEN v END), 4) AS o3,
          |  round(max(CASE WHEN rn = n - 1 THEN v END), 4) AS otop2
          | FROM r GROUP BY l_returnflag""".stripMargin,
      "an_rangefacet" ->
        """WITH b AS (SELECT CASE
          |    WHEN o_totalprice IS NULL THEN NULL
          |    WHEN o_totalprice < 1000 THEN -1
          |    WHEN o_totalprice >= 171000 THEN -2
          |    WHEN o_totalprice < 21000 THEN 0
          |    WHEN o_totalprice < 71000 THEN 1
          |    WHEN o_totalprice < 121000 THEN 2
          |    ELSE 3 END AS bucket, o_totalprice AS v FROM orders),
          | agg AS (SELECT bucket, count(*) AS n, round(sum(v), 2) AS tp
          |   FROM b WHERE bucket IS NOT NULL GROUP BY bucket),
          | u AS (SELECT * FROM agg UNION ALL
          |   SELECT -3, CAST(sum(n) AS BIGINT), round(sum(tp), 5) FROM agg WHERE bucket >= 0)
          | SELECT CAST(bucket AS INT) AS bucket,
          |  CASE bucket WHEN 0 THEN 1000.0 WHEN 1 THEN 21000.0
          |    WHEN 2 THEN 71000.0 WHEN 3 THEN 121000.0 END AS lo,
          |  CASE bucket WHEN 0 THEN 21000.0 WHEN 1 THEN 71000.0
          |    WHEN 2 THEN 121000.0 WHEN 3 THEN 171000.0 END AS hi,
          |  n, tp FROM u""".stripMargin,
      "an_valuefacet" ->
        """WITH a AS (SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS rp
          |   FROM part GROUP BY p_brand),
          | r AS (SELECT *, row_number() OVER (ORDER BY n DESC, p_brand) AS rn FROM a)
          | SELECT p_brand, n, rp FROM r WHERE rn > 2 AND rn <= 7""".stripMargin,
      "an_pivotfacet" ->
        """WITH l1 AS (SELECT o_orderpriority, count(*) AS n,
          |    round(sum(o_totalprice), 2) AS tp FROM orders GROUP BY 1),
          | k1 AS (SELECT * FROM (SELECT *, row_number() OVER
          |    (ORDER BY n DESC, o_orderpriority) AS rn FROM l1) WHERE rn <= 3),
          | l2 AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n,
          |    round(sum(o_totalprice), 2) AS tp FROM orders
          |   WHERE o_orderpriority IN (SELECT o_orderpriority FROM k1) GROUP BY 1, 2),
          | k2 AS (SELECT * FROM (SELECT *, row_number() OVER
          |    (PARTITION BY o_orderpriority ORDER BY n DESC, o_orderstatus) AS rn FROM l2)
          |   WHERE rn <= 2)
          | SELECT o_orderpriority, CAST(NULL AS VARCHAR) AS o_orderstatus,
          |   1 AS level, n, tp FROM k1
          | UNION ALL SELECT o_orderpriority, o_orderstatus, 2 AS level, n, tp FROM k2""".stripMargin,
      "an_queryfacet" ->
        """SELECT 'low' AS facet, count(CASE WHEN l_quantity <= 10 THEN 1 END) AS n,
          |  round(sum(CASE WHEN l_quantity <= 10 THEN l_extendedprice END), 2) AS rev
          | FROM lineitem
          | UNION ALL
          | SELECT 'high', count(CASE WHEN l_quantity > 40 THEN 1 END),
          |  round(sum(CASE WHEN l_quantity > 40 THEN l_extendedprice END), 2)
          | FROM lineitem""".stripMargin,
      "an_request" ->
        """WITH l AS (SELECT l_linestatus, l_quantity, l_returnflag,
          |   CASE WHEN l_quantity > 5 THEN l_extendedprice * (1 - l_discount) END AS dp
          |  FROM lineitem),
          | s AS (SELECT l_linestatus, count(dp) AS n, count(dp) AS docs,
          |   count(CASE WHEN dp IS NULL THEN 1 END) AS miss,
          |   count(DISTINCT l_returnflag) AS uniq, round(avg(dp), 4) AS mean
          |  FROM l GROUP BY 1),
          | r AS (SELECT l_linestatus, l_quantity AS v,
          |   row_number() OVER (PARTITION BY l_linestatus ORDER BY l_quantity) AS rn,
          |   count(*) OVER (PARTITION BY l_linestatus) AS nn
          |  FROM l WHERE l_quantity IS NOT NULL),
          | m AS (SELECT l_linestatus,
          |   round((max(CASE WHEN rn = CAST(floor((nn + 1) / 2) AS BIGINT) THEN v END)
          |        + max(CASE WHEN rn = CAST(floor(nn / 2) AS BIGINT) + 1 THEN v END)) / 2.0, 4) AS medq
          |  FROM r GROUP BY 1)
          | SELECT s.l_linestatus, n, docs, miss, uniq, mean, medq
          | FROM s JOIN m USING (l_linestatus)""".stripMargin,
      // RelatednessAgg: same double arithmetic ORDER as the Spark side so
      // the IEEE results are bit-identical; rounding is spelled as
      // floor(x*1e5+0.5)/1e5 (Java Math.round semantics — DuckDB's round()
      // is half-away-from-zero and would differ on negative .5 boundaries)
      "an_relatedness" ->
        """WITH c AS (SELECT source,
          |   count(CASE WHEN text LIKE '%data%' THEN 1 END) AS fg_count,
          |   count(*) AS bg_count
          |  FROM documents GROUP BY source),
          | t AS (SELECT sum(fg_count)::DOUBLE AS fgs, sum(bg_count)::DOUBLE AS bgs FROM c),
          | z AS (SELECT source, fg_count, bg_count, fgs, bgs,
          |   (fg_count::DOUBLE - fgs * (bg_count::DOUBLE / bgs)) /
          |   (CASE WHEN sqrt(fgs * (bg_count::DOUBLE / bgs) * (1.0 - bg_count::DOUBLE / bgs)) = 0
          |         THEN 1e-10
          |         ELSE sqrt(fgs * (bg_count::DOUBLE / bgs) * (1.0 - bg_count::DOUBLE / bgs)) END) AS zv
          |  FROM c, t)
          | SELECT source, fg_count, bg_count,
          |   floor((0.2::DOUBLE * ((zv + -80.0) / (50.0 + abs(zv + -80.0)))
          |        + 0.2::DOUBLE * ((zv + -30.0) / (30.0 + abs(zv + -30.0)))
          |        + 0.2::DOUBLE * ((zv + 0.0) / (30.0 + abs(zv + 0.0)))
          |        + 0.2::DOUBLE * ((zv + 30.0) / (30.0 + abs(zv + 30.0)))
          |        + 0.2::DOUBLE * ((zv + 80.0) / (50.0 + abs(zv + 80.0)))) * 1e5 + 0.5) / 1e5
          |     AS relatedness,
          |   floor((fg_count::DOUBLE / bgs) * 1e5 + 0.5) / 1e5 AS foreground_popularity,
          |   floor((bg_count::DOUBLE / bgs) * 1e5 + 0.5) / 1e5 AS background_popularity
          | FROM z""".stripMargin)

    // q66 = q63's tree with the bf/boost wrapper applied to its rounded
    // output — derive the SQL from q63's so the two can never drift
    val q63 = base("q63_edismax")
    val q63Final = """ SELECT m.doc_id, round(m.ms + coalesce(p.pb, 0), 5) AS score
                      | FROM mainq m LEFT JOIN pbagg p USING (doc_id)""".stripMargin
    require(q63.contains(q63Final), "q63 oracle changed; update q66 derivation")
    (base ++ me ++ an) + ("q66_edismax_bf" -> q63.replace(q63Final,
      """, base AS (SELECT m.doc_id, round(m.ms + coalesce(p.pb, 0), 5) AS s
        |          FROM mainq m LEFT JOIN pbagg p USING (doc_id))
        | SELECT b.doc_id,
        |   round((b.s + d.n_chars / 1000.0) * (1 + b.doc_id % 2), 5) AS score
        | FROM base b JOIN documents d ON b.doc_id = d.doc_id""".stripMargin)) +
      // real-time get = the committed view + pending update log, id-gated:
      // the same fold as su_atomic restricted to the requested ids
      ("su_rtg" -> s"SELECT * FROM (${base("su_atomic")}) WHERE doc_id IN (0,4,6,7,9)") +
      // DIH delta: changed (every 7th) minus deletedPkQuery (every 21st)
      ("su_dataimport" ->
        "SELECT doc_id FROM documents WHERE doc_id % 7 = 0 AND doc_id % 21 <> 0")
  }

  /** Geo bounding-box oracle: the box bounds are computed HERE with the
    * same driver-side double arithmetic Geo.boundingBox folds into the
    * plan, then embedded verbatim (Double round-trips through toString). */
  /** Reference polyline for the geo_path corridor oracle. */
  private val GeoPathRef: Seq[(Double, Double)] =
    Seq((-40.0, -120.0), (0.0, 0.0), (40.0, 120.0))

  /** geo_path oracle: the SAME spherical-vector arithmetic as
    * Geo.pathDistanceMeters with the SAME plan-time segment constants
    * (Double.toString round-trips exactly), re-emitted as SQL. */
  private def geoPathSql: String = {
    def v(la: Double, lo: Double): (Double, Double, Double) = {
      val (a, o) = (math.toRadians(la), math.toRadians(lo))
      (math.cos(a) * math.cos(o), math.cos(a) * math.sin(o), math.sin(a))
    }
    val segs = GeoPathRef.sliding(2).map { case Seq(a, b) =>
      val (ax, ay, az) = v(a._1, a._2)
      val (bx, by, bz) = v(b._1, b._2)
      val (cx, cy, cz) = (ay * bz - az * by, az * bx - ax * bz, ax * by - ay * bx)
      val nl = math.sqrt(cx * cx + cy * cy + cz * cz)
      val (nx, ny, nz) = (cx / nl, cy / nl, cz / nl)
      val dot = s"(px*($nx) + py*($ny) + pz*($nz))"
      val fx = s"(px - $dot*($nx))"
      val fy = s"(py - $dot*($ny))"
      val fz = s"(pz - $dot*($nz))"
      val pastA = s"((($ay)*$fz - ($az)*$fy)*($nx) + (($az)*$fx - ($ax)*$fz)*($ny) + (($ax)*$fy - ($ay)*$fx)*($nz)) >= 0"
      val beforeB = s"(($fy*($bz) - $fz*($by))*($nx) + ($fz*($bx) - $fx*($bz))*($ny) + ($fx*($by) - $fy*($bx))*($nz)) >= 0"
      val cross = s"asin(greatest(-1.0, least(1.0, abs($dot))))"
      val toA = s"acos(greatest(-1.0, least(1.0, px*($ax)+py*($ay)+pz*($az))))"
      val toB = s"acos(greatest(-1.0, least(1.0, px*($bx)+py*($by)+pz*($bz))))"
      s"(CASE WHEN $pastA AND $beforeB THEN $cross ELSE least($toA, $toB) END)"
    }.toSeq
    s"""WITH ev AS (SELECT event_id,
       |  (event_id * 37 % 12000) / 100.0 - 60.0 AS lat,
       |  (event_id * 73 % 30000) / 100.0 - 150.0 AS lon FROM events),
       | p AS (SELECT event_id,
       |  cos(radians(lat))*cos(radians(lon)) AS px,
       |  cos(radians(lat))*sin(radians(lon)) AS py,
       |  sin(radians(lat)) AS pz FROM ev),
       | s AS (SELECT event_id,
       |  least(${segs.mkString(", ")}) * ${graft.operators.Geo.EarthRadiusMeters} AS m
       |  FROM p)
       | SELECT CAST(floor(m / 200000.0) AS BIGINT) AS bucket, count(*) AS n
       | FROM s GROUP BY 1""".stripMargin
  }

  private def geoBoxSql: String = {
    val (lat, lon, r) = (-84.0, -179.0, 60000.0)
    // the SAME bounds Geo.boundingBox folds into the plan (Double round-trips
    // through toString) — incl. the asin lon width and antimeridian split
    val (latLo, latHi, lonRanges) = graft.operators.Geo.boxBounds(lat, lon, r)
    val lonPred =
      if (lonRanges.isEmpty) "TRUE"
      else lonRanges.map { case (lo, hi) => s"lon BETWEEN $lo AND $hi" }
        .mkString("(", " OR ", ")")
    s"""WITH ev AS (SELECT event_id, event_type,
       | (user_id % 17000) / 100.0 - 85.0 AS lat,
       | (user_id % 35900) / 100.0 - 179.5 AS lon FROM events)
       | SELECT event_type, count(*) AS n FROM ev
       | WHERE lat BETWEEN $latLo AND $latHi
       |  AND $lonPred
       | GROUP BY event_type""".stripMargin
  }

  /** Concave test polygon (a chevron — the notch vertex exercises the
    * even-odd rule). Placed to straddle the events-derived coordinate line
    * lon = lat − 94.5 (lat and lon both derive from user_id), so the query
    * is non-vacuous at every scale factor (40 user_ids fall inside). */
  private val GeoPolygon: Seq[(Double, Double)] =
    Seq((-84.8, -179.2), (-84.0, -178.8), (-84.8, -178.4), (-84.5, -178.8))

  /** Polygon oracle: one crossing-toggle CASE per edge, generated from the
    * SAME vertex list the plan folds in (identical double arithmetic). */
  private def geoPolygonSql: String = {
    val lats = GeoPolygon.map(_._1)
    val lons = GeoPolygon.map(_._2)
    val crossings = graft.operators.Geo.polygonEdges(GeoPolygon)
      .map { case ((y1, x1), (y2, x2)) =>
        s"CASE WHEN (($y1 > lat) <> ($y2 > lat)) AND lon < ($x2 - $x1) * (lat - $y1) / ($y2 - $y1) + $x1 THEN 1 ELSE 0 END"
      }.mkString(" + ")
    s"""WITH ev AS (SELECT event_id, event_type,
       | (user_id % 17000) / 100.0 - 85.0 AS lat,
       | (user_id % 35900) / 100.0 - 179.5 AS lon FROM events)
       | SELECT event_type, count(*) AS n FROM ev
       | WHERE lat BETWEEN ${lats.min} AND ${lats.max}
       |  AND lon BETWEEN ${lons.min} AND ${lons.max}
       |  AND ($crossings) % 2 = 1
       | GROUP BY event_type""".stripMargin
  }

  /** The documents table's FIXED generator vocabulary (31 words — verified
    * against all scale factors). The stemmed-index oracle maps each surface
    * form to its Porter stem with a CASE generated by the SAME stemmer the
    * index build uses, making the chain's effect DuckDB-expressible. */
  private val DocVocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private def stopInList: String = Stopwords.map(w => s"'$w'").mkString(",")

  /** DuckDB expression: stop-filtered then vocab-stemmed token list. */
  private def stemmedTokensSql: String = {
    val cases = DocVocab.filter(w => graft.analysis.Porter.stem(w) != w)
      .map(w => s"WHEN '$w' THEN '${graft.analysis.Porter.stem(w)}'").mkString(" ")
    s"""list_transform(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |   t -> t NOT IN ($stopInList)), t -> CASE t $cases ELSE t END)""".stripMargin
  }

  /** Shared BM25 oracle template (double arithmetic, round 5). */
  /** Accented (ligature-free) words for the ta_fold chain query. */
  private val FoldWords = Seq("café", "naïve", "résumé", "jalapeño",
    "über", "crème brûlée", "señor día", "zürich tokyo", "élève motivé",
    "piñata función", "à la côte", "smörgåsbord")

  /** CJK inputs for the ta_cjk chain query (width variants, Japanese
    * han/kana mixes, Korean spaced words) paired with the HAND-WRITTEN
    * expected output of the width→bigram chain, so the oracle is fully
    * independent of the Scala implementation. */
  private val CjkWords = Seq(
    "多くの学生",     "中国人民共和国",   "ｶﾀｶﾅ",          "ﾊﾟﾅｿﾆｯｸ",
    "東京タワー",     "한국어 처리",      "Ｔｅｓｔ １２３４", "日本語テキスト",
    "データ分析と機械学習", "ヴィッツ",   "検索エンジンの性能", "中 test 国")
  private val CjkExpected = Seq(
    "多く くの の学 学生",
    "中国 国人 人民 民共 共和 和国",
    "カタ タカ カナ",
    "パナ ナソ ソニ ニッ ック",
    "東京 京タ タワ ワー",
    "한국 국어 처리",
    "test 1234",
    "日本 本語 語テ テキ キス スト",
    "デー ータ タ分 分析 析と と機 機械 械学 学習",
    "ヴィ ィッ ッツ",
    "検索 索エ エン ンジ ジン ンの の性 性能",
    "中 test 国")

  /** Fixed per-language word lists for the ta_snowball chain query —
    * chosen to exercise umlaut/accent handling, R1/R2/RV gating, verb
    * suffixes, and derivational endings. */
  private val SnowballWordsDe = Seq("häuser", "laufen", "ergebnisse",
    "aufeinander", "schönheit", "freundlichkeit", "bücher", "wanderung",
    "möglichkeiten", "wissenschaft", "universität", "entwicklung",
    "gesprochen", "kinder", "arbeitet", "größe")
  private val SnowballWordsEs = Seq("corriendo", "casas", "rápidamente",
    "universidades", "cantaría", "lógica", "niños", "comiéndoselo",
    "grandes", "felicidad", "trabajando", "españoles", "pequeñas",
    "volver", "hablaban", "canciones")
  private val SnowballWordsFr = Seq("continuerait", "majestueux",
    "nationale", "chevaux", "abaissant", "premièrement", "mangeaient",
    "curiosité", "logiquement", "châteaux", "heureuse", "volontiers",
    "possibilités", "tranquillement", "différence", "appelleront")
  private val SnowballWordsIt = Seq("abbandonata", "pronunciare",
    "felicità", "nazionale", "cantavano", "possibilità", "bellissimo",
    "organizzazione", "rapidamente", "giocatori", "tradizionali",
    "sviluppo", "raggiungere", "particolarmente", "centinaia", "vicinanza")
  private val SnowballWordsPt = Seq("comunicação", "felicidade",
    "trabalhando", "nacional", "cantavam", "possibilidades", "rapidamente",
    "jogadores", "tradicionais", "desenvolvimento", "alcançar",
    "particularmente", "centenas", "organização", "pequeninos", "falaria")
  private val SnowballWordsDa = Seq("huset", "bøgerne", "løbende",
    "kærlighed", "arbejderne", "vigtigste", "spørgsmålet", "hurtigt")
  private val SnowballWordsNo = Seq("bøkene", "arbeiderne", "viktigste",
    "kjærlighet", "løpende", "spørsmålet", "hurtigst", "husene")
  private val SnowballWordsSv = Seq("huset", "böckerna", "löpande",
    "kärleken", "arbetarna", "viktigaste", "frågorna", "snabbaste")
  private val SnowballWordsNl = Seq("huizen", "lopende", "belangrijkste",
    "vriendelijkheid", "werkende", "gebouwen", "mogelijkheden", "snelheid")
  private val SnowballWordsRu = Seq("книгами", "работающий", "быстрее",
    "возможности", "прекрасная", "понимание", "государственный", "читатели")
  private val SnowballWordsRo = Seq("abilitatea", "lucrătorii", "naţională",
    "posibilităţi", "cititorilor", "frumuseţe", "dezvoltarea", "muncitoare")
  private val SnowballWordsFi = Seq("taloissa", "kirjoittaminen", "nopeasti",
    "mahdollisuuksien", "työntekijät", "kauneimmat", "järjestykseen", "puhelimella")
  private val SnowballWordsHu = Seq("házakban", "lehetõségei", "munkásokkal",
    "legszebb", "barátaim", "fejlesztése", "városából", "gyerekeknek")
  private val SnowballWordsTr = Seq("kitaplarımdan", "evlerinde", "çocukları",
    "arkadaşlarımla", "geliyorum", "okullardan", "öğretmenlerimiz", "şehirlerde")
  private val SnowballWordsAr = Seq("ءامنوا", "أطفالهم", "بالكتاب",
    "يستعملون", "مدرستنا", "والمعلمين", "سيذهبون", "مكتبات")
  private val SnowballWordsDe2 = Seq("haeuser", "schoenheit", "uebung",
    "quelle", "groesse", "moeglichkeiten", "fuehren", "baeume")
  private val SnowballWordsLov = Seq("nationally", "proceedings", "sitting",
    "magnesium", "believable", "induction", "angularity", "happiness")
  private val SnowballWordsKp = Seq("huizen", "lopende", "gebouwen",
    "mogelijkheden", "snelheid", "werkende", "belangrijkste", "vriendelijkheid")
  private val SnowballWordsEn = Seq("generously", "crying", "agreements",
    "conflated", "national", "ties", "happiness", "running")

  /** The ta_fold oracle — INDEPENDENT of the Scala folding: DuckDB's own
    * strip_accents does the unaccenting and a list_filter replicates the
    * LengthFilter(2,255) drop of sub-2-char folded tokens. */
  private def foldSql: String = {
    val arms = FoldWords.zipWithIndex
      .map { case (w, i) => s"WHEN $i THEN '$w'" }.mkString(" ")
    s"""SELECT doc_id,
       | array_to_string(list_filter(
       |   string_split(strip_accents(CASE CAST(doc_id % ${FoldWords.size} AS INT) $arms END), ' '),
       |   t -> length(t) >= 2), ' ') AS folded
       | FROM documents""".stripMargin
  }

  /** The ta_cjk oracle: doc_id -> hand-written expected bigram string
    * (CjkExpected literals — independent of the Scala chain). */
  private def cjkSql: String = {
    val arms = CjkExpected.zipWithIndex
      .map { case (w, i) => s"WHEN $i THEN '$w'" }.mkString(" ")
    s"""SELECT doc_id,
       | CASE CAST(doc_id % ${CjkExpected.size} AS INT) $arms END AS cjk_terms
       | FROM documents""".stripMargin
  }

  /** Fixed sentences for ta_ja_morph (compound, particles, unknown
    * katakana, mixed script) and their expected 'ja'-preset outputs. */
  private val JaMorphSentences = Seq(
    "東京都に行きます", "私は水を飲む", "ソフトウェアを検索する",
    "会社員は電車で会社に行きます", "日本語の本を読む", "犬が魚を食べる",
    "データ分析と機械学習", "新しい本を買う", "spark処理を分散する")
  private val JaMorphExpected = Seq(
    "東京都 行き", "私 水 飲む", "ソフトウェア 検索",
    "会社員 電車 会社 行き", "日本語 本 読む", "犬 魚 食べる",
    "データ 分析 機械 学習", "新しい 本 買う", "spark 処理 分散")

  private def jaMorphSql: String = {
    val arms = JaMorphExpected.zipWithIndex
      .map { case (w, i) => s"WHEN $i THEN '$w'" }.mkString(" ")
    s"""SELECT doc_id,
       | CASE CAST(doc_id % ${JaMorphExpected.size} AS INT) $arms END AS ja_terms
       | FROM documents""".stripMargin
  }

  /** Fixed sentences for ta_ko_morph (compound decompounding, particle and
    * hada-suffix POS-stop, mixed native/loanword nouns) and their expected
    * 'ko'-preset outputs. */
  private val KoMorphSentences = Seq(
    "삼성전자는 한국의 회사이다", "데이터를 분석한다", "한국어 형태소 분석기",
    "서울대학교에서 공부한다", "나는 학교에 간다", "기계학습과 데이터마이닝",
    "인공지능 기술이 발전했다", "스파크로 빅데이터를 처리한다")
  private val KoMorphExpected = Seq(
    "삼성 전자 한국 회사", "데이터 분석", "한국어 형태소 분석기",
    "서울 대학교 공부", "나 학교 간다", "기계 학습 데이터 마이닝",
    "인공 지능 기술 발전", "스파크 빅 데이터 처리")

  private def koMorphSql: String = {
    val arms = KoMorphExpected.zipWithIndex
      .map { case (w, i) => s"WHEN $i THEN '$w'" }.mkString(" ")
    s"""SELECT doc_id,
       | CASE CAST(doc_id % ${KoMorphExpected.size} AS INT) $arms END AS ko_terms
       | FROM documents""".stripMargin
  }

  /** Fixed sentences for ta_zh_morph (unspaced Han text: longest-match vs
    * single-char resolution, function-word stopping) and their expected
    * 'zh'-preset outputs. */
  private val ZhMorphSentences = Seq(
    "我爱北京天安门", "机器学习和数据分析", "中文分词系统", "北京大学的学生",
    "他在图书馆看书", "自然语言处理技术", "上海浦东开发区", "今天天气很好")
  private val ZhMorphExpected = Seq(
    "我 爱 北京 天安门", "机器 学习 数据 分析", "中文 分词 系统", "北京 大学 学生",
    "他 图书馆 看书", "自然 语言 处理 技术", "上海 浦东 开发区", "今天 天气 很 好")

  private def zhMorphSql: String = {
    val arms = ZhMorphExpected.zipWithIndex
      .map { case (w, i) => s"WHEN $i THEN '$w'" }.mkString(" ")
    s"""SELECT doc_id,
       | CASE CAST(doc_id % ${ZhMorphExpected.size} AS INT) $arms END AS zh_terms
       | FROM documents""".stripMargin
  }

  /** Languages and fixed word lists for the ta_lightstem chain query —
    * words drawn from each stemmer's golden vocabulary (all pairs of which
    * LightStemVocabSpec checks exactly), chosen to actually stem. */
  private val LightStemLangs = graft.analysis.LightStemFilter.languages

  private val LightStemWords: Seq[Seq[String]] = {
    val de = Seq("abgetreten", "angeboten", "ausgesetzte", "beschwerlichkeiten",
      "einkehren", "fortzuscheuchen", "gichtschmerzen", "herumzukreuzen")
    val deMin = Seq("abgetötet", "anfechten", "ausgedientes", "besamende",
      "einflösse", "fischeimer", "gesteckten", "helmzier")
    val fr = Seq("accident", "apparitions", "cantinière", "couverts",
      "encourager", "impressions", "opposant", "prophéties")
    val frMin = Seq("achèterons", "attribuer", "confrère", "échappées",
      "indienne", "possibilités", "témoigne")
    val es = Seq("ajustándolo", "audiencia", "cheyenne", "culposos",
      "empatado", "gallegos", "infraestructura", "acámbaro")
    val it = Seq("abbruciacchiavano", "affermò", "approvviggionamento",
      "beffardi", "commisione", "danneggia", "eseguirlo", "generatori")
    val pt = Seq("academia", "almirante", "atrairá", "castanhos",
      "cotecchino", "eleição", "favorecendo", "hostilidade")
    val ptMin = Seq("adornadas", "bananeiras", "decifrados", "florianópolis",
      "plásticos")
    val ptRslp = Seq("absorção", "aguentamos", "arrebentar", "buchecha",
      "conectassem", "descansar", "encaixem", "estimulando")
    val gl = Seq("aconsellou", "avemaría", "declaracións", "expertos",
      "preliminar")
    val ru = Seq("алая", "бегах", "блюдечке", "величайшему",
      "вперегонку", "гневаться", "длилась", "дьячка")
    val sv = Seq("afundsjuka", "barnbarnen", "brottets", "flegmatiska",
      "förvånat", "inkommit", "längtande", "nästföljande")
    val fi = Seq("aamulehdeltä", "ahjoharju", "ainoista", "akvarelleissa",
      "aloitteentekijä", "ankkurien", "arvokasta", "asiakkaasta")
    val hu = Seq("adaptáló", "agresszívabb", "alkönyvtárai", "bankoknál",
      "betáplálva", "bántson", "kamatoztathatja", "kenyerével")
    val nb = Seq("bilens", "sekretærene", "bibliotekarer", "bibliotekarene",
      "veskene", "husets", "flagga", "flaggenes")
    val nn = Seq("gutens", "søknadar", "søknadanes", "kjolas",
      "prospektas", "hemmelegheit", "vanskelegheit", "hevelse")
    val nnMin = Seq("gutens", "søknadar", "søknadanes", "jentas",
      "prospektas", "søner", "dotter", "klørne")
    val ckb = Seq("ئاراسته‌ی", "ئاماژه‌یان", "ئۆجەلان", "بریتییه‌",
      "بڕیاروایه‌", "تایبه‌تى", "خاكی", "ده‌رباره‌ی‌")
    Seq(de, deMin, fr, frMin, es, it, pt, ptMin, ptRslp, gl, gl, ru, sv, fi,
      hu, nb, nb, nn, nnMin, ckb)
  }

  private val PhoneticEncoders = Seq("soundex", "metaphone", "dmetaphone",
    "rsoundex", "caverphone", "cologne", "nysiis", "dmsoundex")

  /** Surnames with divergent codes across encoders (alternate-triggering
    * Slavic/Germanic names included for dmetaphone/dmsoundex branching). */
  private val PhoneticWords = Seq("robert", "rupert", "ashcraft", "tymczak",
    "pfister", "kuczewski", "muellerluedenscheidt", "peters", "auerbach",
    "jackson", "thompson", "gauss", "knuth")

  /** The ta_phonetic oracle: CASE arms computed with the SAME chains
    * (encoders are the commons-codec implementations the reference
    * delegates to, spec-tested against its inline vectors). */
  private def phoneticSql: String = {
    val cols = PhoneticEncoders.map { e =>
      val chain = graft.analysis.AnalyzerChain(
        Seq(graft.analysis.PhoneticFilter(inject = false, encoder = e)))
      val arms = PhoneticWords.zipWithIndex.map { case (w, i) =>
        s"WHEN $i THEN '${chain.terms(w).mkString(" ")}'"
      }.mkString(" ")
      s"CASE CAST(doc_id % ${PhoneticWords.size} AS INT) $arms END AS ph_$e"
    }
    s"SELECT doc_id,\n ${cols.mkString(",\n ")}\n FROM documents"
  }

  /** (name, chain, fixed inputs) for the ta_misc_filters query. */
  private lazy val MiscFilterChains: Seq[(String, graft.analysis.AnalyzerChain, Seq[String])] = {
    import graft.analysis._
    Seq(
      ("elision", AnalyzerChain(Seq(ElisionFilter())),
        Seq("l'avion decolle", "d'histoire naturelle", "jusqu'au bout",
          "c'est l'heure", "quoiqu'il arrive", "n'importe quoi")),
      ("cgrams", AnalyzerChain(Seq(CommonGramsFilter(Set("the", "of", "a")))),
        Seq("the quick fox", "house of cards", "a plan of record",
          "quick brown fox", "top of the heap", "the end")),
      ("compound", AnalyzerChain(Seq(DictionaryCompoundFilter(
        Set("donau", "dampf", "schiff", "fahrt", "haus", "boot", "meister")))),
        Seq("donaudampfschifffahrt", "hausboot fahrt", "dampfschiff ahoi",
          "bootsmeister haus", "schifffahrtsmeister", "hausmeister dampf")),
      ("html", AnalyzerChain(Nil, None, Seq(HtmlStripCharFilter)),
        Seq("<div>alpha beta</div>", "x<script>var y=2;</script>gamma",
          "a&amp;b &lt;tag&gt;", "<p>one</p><p>two</p>", "plain text here",
          "<a href=\"#x\">link</a>ed")),
      ("mapping", AnalyzerChain(Nil, None,
        Seq(MappingCharFilter(Map("ph" -> "f", "qu" -> "kw", "ss" -> "s")))),
        Seq("phase quit", "grossquartz", "philosophie", "quiet pass",
          "phquss", "nothing")))
  }

  /** The ta_misc_filters oracle: CASE arms from the SAME chains (each
    * filter spec-tested against reference golden behavior). */
  private def miscFiltersSql: String = {
    val cols = MiscFilterChains.map { case (name, chain, inputs) =>
      val arms = inputs.zipWithIndex.map { case (w, i) =>
        s"WHEN $i THEN '${chain.terms(w).mkString(" ")}'"
      }.mkString(" ")
      s"CASE CAST(doc_id % ${inputs.size} AS INT) $arms END AS mf_$name"
    }
    s"SELECT doc_id,\n ${cols.mkString(",\n ")}\n FROM documents"
  }

  private val AnalyzerPresetLangs = Seq("fr", "en", "de", "es", "ru", "it",
    "pt", "hi", "ar", "cjk", "th")

  private val AnalyzerSentences: Seq[Seq[String]] = Seq(
    Seq("l'avion et les châteaux", "c'est une belle journée",
      "les possibilités nationales", "jusqu'au bout de la nuit"),
    Seq("the dog's bones are running", "a quick brown fox jumps",
      "national agreements were signed", "the happiness of crying children"),
    Seq("die Häuser und Bücher", "eine schöne Übung mit Größe",
      "der Wissenschaft und Entwicklung", "die Möglichkeiten der Universität"),
    Seq("las casas y los niños", "una universidad de canciones",
      "la felicidad de trabajar", "los españoles corriendo rápidamente"),
    Seq("книга и перо лежали", "работающий человек читает книги",
      "возможности великого государства", "прекрасная история понимания"),
    Seq("l'abbandonata città e i giocatori", "una organizzazione nazionale",
      "la felicità di cantare", "le possibilità tradizionali"),
    Seq("a comunicação e a felicidade", "os jogadores tradicionais",
      "o desenvolvimento nacional", "as possibilidades de trabalhar"),
    Seq("लडका और लडकों की किताबें", "दोस्तों के साथ खाता",
      "बच्चे स्कूल जाते हैं", "यह एक अच्छी किताब है"),
    Seq("الحسن والاولاد في المدرسة", "يستعملون الكتاب كل يوم",
      "بالحسن وللاخر ساهدان", "مكتبات المدرسة كبيرة"),
    Seq("多くの学生が勉強する", "ﾃﾞｰﾀベース検索", "中国語の文章",
      "한국어 텍스트 분석"),
    Seq("การที่ได้ต้องแสดงว่างานดี", "บริษัทชื่อใหญ่",
      "ภาษาไทยสวยงาม", "เด็กอ่านหนังสือ"))

  /** The ta_analyzers oracle: derived CASE arms from the SAME presets
    * (every constituent filter golden- or vocabulary-validated). */
  private def analyzersSql: String = {
    val cols = AnalyzerPresetLangs.zip(AnalyzerSentences).map { case (lang, ws) =>
      val chain = graft.analysis.Analyzers.forLanguage(lang)
      val arms = ws.zipWithIndex.map { case (w, i) =>
        s"WHEN $i THEN '${chain.terms(w).mkString(" ")}'"
      }.mkString(" ")
      s"CASE CAST(doc_id % ${ws.size} AS INT) $arms END AS an_$lang"
    }
    s"SELECT doc_id,\n ${cols.mkString(",\n ")}\n FROM documents"
  }

  private val KStemWords = Seq(
    "the memorials of crying children", "appearances can be deceiving",
    "flying pigs amazed onlookers", "indices of abilities and capacities",
    "she is running happily", "discoveries in immunity research",
    "classification of amplification", "determinative adjudications")

  private val HunspellWords = Seq(
    "searching reworked indexes and merged caches",
    "the parser queries shards while scoring ranked tokens",
    "rebuild filters then reparse cached results",
    "reworking rescored searches with rebuilt shards",
    "stemming merges worked as reranked scores",
    "she queried merging stems and parsed workers",
    "tokens indexed queries and scored builds",
    "the unknown zebra jumped over indexes quickly")

  private def hunspellSql: String = {
    val chain = graft.analysis.AnalyzerChain(Seq(
      graft.analysis.HunspellStemFilter(
        graft.analysis.Hunspell.sampleEnglishAff,
        graft.analysis.Hunspell.sampleEnglishDic)))
    val arms = HunspellWords.zipWithIndex.map { case (w, i) =>
      s"WHEN $i THEN '${chain.terms(w).mkString(" ")}'"
    }.mkString(" ")
    s"""SELECT doc_id,
       | CASE CAST(doc_id % ${HunspellWords.size} AS INT) $arms END AS hunspell_terms
       | FROM documents""".stripMargin
  }

  private def kstemSql: String = {
    val chain = graft.analysis.AnalyzerChain(Seq(graft.analysis.KStemFilter))
    val arms = KStemWords.zipWithIndex.map { case (w, i) =>
      s"WHEN $i THEN '${chain.terms(w).mkString(" ")}'"
    }.mkString(" ")
    s"""SELECT doc_id,
       | CASE CAST(doc_id % ${KStemWords.size} AS INT) $arms END AS kstem_terms
       | FROM documents""".stripMargin
  }

  private val LightStemLangs2 = graft.analysis.LightStemFilter.languages2

  private val LightStemWords2: Seq[Seq[String]] = {
    val lv = Seq("tēvs", "tēva", "tēviem", "tēvā", "tēvi", "lāča",
      "lāčiem", "lācī")
    val cz = Seq("páni", "pána", "pánům", "pánech", "hrade", "hradech",
      "muži", "mužů")
    val bg = Seq("града", "градове", "народът", "народе", "пътища",
      "градецът", "дядовците", "къщите")
    val id = Seq("bukukah", "bukupun", "bukunya", "menduga", "merusak",
      "penduga", "tersapu", "belajar")
    val hi = Seq("लडका", "लडकों", "दोस्तों", "किताबें",
      "आध्यापीकाएं", "खाता", "लडके", "किताबों")
    val bn = Seq("করেছিলাম", "খাইতাম", "করছিলে", "যাবে",
      "মেয়েরা", "একটি", "বিড়ালটা", "বাড়ীতে")
    val ar = Seq("الحسن", "بالحسن", "للاخر", "ساهدان", "ساهدين",
      "ساهده", "وساهدون", "الاولاد")
    val fa = Seq("های", "کشاندن", "زادہ", "کتاب",
      "میخواهیم", "ایرانی")
    val el = Seq("άνθρωπος", "άνθρωπο", "ανθρώπων", "πελάτης",
      "πελατών", "ελέφαντες", "μπαμπά", "μπακάλης")
    val br = Seq("bobagens", "chilenas", "quimioterápicos", "cantarão",
      "felicidade", "importantíssimo", "interessantes", "lindíssima")
    Seq(lv, cz, bg, id, hi, bn, ar, fa, el, br)
  }

  /** The ta_lightstem2 oracle: same derivation as ta_lightstem over the
    * golden-validated second wave. */
  private def lightstem2Sql: String = {
    val cols = LightStemLangs2.zip(LightStemWords2).map { case (lang, ws) =>
      val chain = graft.analysis.AnalyzerChain(
        Seq(graft.analysis.LightStemFilter(lang)))
      val arms = ws.zipWithIndex.map { case (w, i) =>
        s"WHEN $i THEN '${chain.terms(w).mkString(" ")}'"
      }.mkString(" ")
      s"CASE CAST(doc_id % ${ws.size} AS INT) $arms END AS ls_$lang"
    }
    s"SELECT doc_id,\n ${cols.mkString(",\n ")}\n FROM documents"
  }

  /** The ta_lightstem oracle: doc_id -> word -> chain output, CASE arms
    * computed with the SAME chains (stemmers vocabulary-validated). */
  private def lightstemSql: String = {
    val cols = LightStemLangs.zip(LightStemWords).map { case (lang, ws) =>
      val chain = graft.analysis.AnalyzerChain(
        Seq(graft.analysis.LightStemFilter(lang)))
      val arms = ws.zipWithIndex.map { case (w, i) =>
        s"WHEN $i THEN '${chain.terms(w).mkString(" ")}'"
      }.mkString(" ")
      s"CASE CAST(doc_id % ${ws.size} AS INT) $arms END AS ls_$lang"
    }
    s"SELECT doc_id,\n ${cols.mkString(",\n ")}\n FROM documents"
  }

  /** The ta_snowball oracle: the same doc_id -> word -> stem mapping, as
    * CASE arms with stems computed by the SAME Snowball stemmers. */
  private def snowballSql: String = {
    def arm(ws: Seq[String], stem: String => String): String =
      ws.zipWithIndex.map { case (w, i) => s"WHEN $i THEN '${stem(w)}'" }
        .mkString(" ")
    val de = arm(SnowballWordsDe, graft.analysis.Snowball.German.stem)
    val es = arm(SnowballWordsEs, graft.analysis.Snowball.Spanish.stem)
    val fr = arm(SnowballWordsFr, graft.analysis.Snowball.French.stem)
    val it = arm(SnowballWordsIt, graft.analysis.Snowball.Italian.stem)
    val pt = arm(SnowballWordsPt, graft.analysis.Snowball.Portuguese.stem)
    val da = arm(SnowballWordsDa, graft.analysis.Snowball.Danish.stem)
    val no = arm(SnowballWordsNo, graft.analysis.Snowball.Norwegian.stem)
    val sv = arm(SnowballWordsSv, graft.analysis.Snowball.Swedish.stem)
    val nl = arm(SnowballWordsNl, graft.analysis.Snowball.Dutch.stem)
    val ru = arm(SnowballWordsRu, graft.analysis.Snowball.Russian.stem)
    val ro = arm(SnowballWordsRo, graft.analysis.Snowball.Romanian.stem)
    val fi = arm(SnowballWordsFi, graft.analysis.Snowball.Finnish.stem)
    val hu = arm(SnowballWordsHu, graft.analysis.Snowball.Hungarian.stem)
    val tr = arm(SnowballWordsTr, graft.analysis.Snowball.Turkish.stem)
    val ar = arm(SnowballWordsAr, graft.analysis.Snowball.Arabic.stem)
    val de2 = arm(SnowballWordsDe2, graft.analysis.Snowball.German2.stem)
    val lov = arm(SnowballWordsLov, graft.analysis.Snowball.Lovins.stem)
    val kp = arm(SnowballWordsKp, graft.analysis.Snowball.KraaijPohlmann.stem)
    val en = arm(SnowballWordsEn, graft.analysis.Snowball.English.stem)
    s"""SELECT doc_id,
       | CASE CAST(doc_id % ${SnowballWordsDe.size} AS INT) $de END AS stem_de,
       | CASE CAST(doc_id % ${SnowballWordsEs.size} AS INT) $es END AS stem_es,
       | CASE CAST(doc_id % ${SnowballWordsFr.size} AS INT) $fr END AS stem_fr,
       | CASE CAST(doc_id % ${SnowballWordsIt.size} AS INT) $it END AS stem_it,
       | CASE CAST(doc_id % ${SnowballWordsPt.size} AS INT) $pt END AS stem_pt,
       | CASE CAST(doc_id % ${SnowballWordsDa.size} AS INT) $da END AS stem_da,
       | CASE CAST(doc_id % ${SnowballWordsNo.size} AS INT) $no END AS stem_no,
       | CASE CAST(doc_id % ${SnowballWordsSv.size} AS INT) $sv END AS stem_sv,
       | CASE CAST(doc_id % ${SnowballWordsNl.size} AS INT) $nl END AS stem_nl,
       | CASE CAST(doc_id % ${SnowballWordsRu.size} AS INT) $ru END AS stem_ru,
       | CASE CAST(doc_id % ${SnowballWordsRo.size} AS INT) $ro END AS stem_ro,
       | CASE CAST(doc_id % ${SnowballWordsFi.size} AS INT) $fi END AS stem_fi,
       | CASE CAST(doc_id % ${SnowballWordsHu.size} AS INT) $hu END AS stem_hu,
       | CASE CAST(doc_id % ${SnowballWordsTr.size} AS INT) $tr END AS stem_tr,
       | CASE CAST(doc_id % ${SnowballWordsAr.size} AS INT) $ar END AS stem_ar,
       | CASE CAST(doc_id % ${SnowballWordsDe2.size} AS INT) $de2 END AS stem_de2,
       | CASE CAST(doc_id % ${SnowballWordsLov.size} AS INT) $lov END AS stem_lov,
       | CASE CAST(doc_id % ${SnowballWordsKp.size} AS INT) $kp END AS stem_kp,
       | CASE CAST(doc_id % ${SnowballWordsEn.size} AS INT) $en END AS stem_en
       | FROM documents""".stripMargin
  }

  /** Derived oracle for the engine's flagship BM25 top-k paths
    * (ft_engine_topk / ft_engine_wand): the same quantized-norm double
    * arithmetic as [[TextOps.bm25QuantizedNorms]], with the SmallFloat
    * norm buckets embedded as a VALUES table generated from the SAME
    * [[graft.codec.SmallFloat]] the codec writes — engine, twin, and
    * oracle share one derivation and cannot drift (the q66 pattern). */
  private def engineTopKSql(terms: Seq[String], k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(",")
    val values = graft.operators.TextOps.normQuantBuckets
      .map { case (lo, hi, q) => s"($lo,$hi,$q)" }.mkString(",")
    s"""WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
       | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
       | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
       | nb AS (SELECT * FROM (VALUES $values) AS t(lo, hi, qdl)),
       | qd AS (SELECT dl.doc_id, CAST(nb.qdl AS DOUBLE) AS qdl FROM dl JOIN nb ON dl.dl BETWEEN nb.lo AND nb.hi),
       | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
       |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
       | qt AS (SELECT * FROM tf WHERE tok IN ($inList)),
       | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
       | sc AS (SELECT qt.doc_id,
       |   ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
       |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * qd.qdl / st.avgdl)) AS s
       |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN qd ON qt.doc_id = qd.doc_id, st)
       | SELECT doc_id, round(sum(s), 5) AS score FROM sc GROUP BY doc_id
       | ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Derived oracle for [[graft.operators.Phrases]] / ph_scores: the
    * component's bayesian scoring formula written independently in SQL for
    * a fixed distinct-token query at maxIndexed=2 / maxQuery=3 — term ttf,
    * bigram ttf, and conjunction doc counts as scalar subqueries, the
    * score arithmetic mirrored expression-for-expression
    * (PhrasesIdentificationComponent.computeFieldScore). */
  private def phrasesSql(toks: Seq[String]): String = {
    require(toks.distinct.size == toks.size, "oracle assumes distinct tokens")
    def ttf(t: String) =
      s"(SELECT CAST(count(*) AS DOUBLE) FROM tok WHERE tok = '$t')"
    def bttf(a: String, b: String) =
      s"""(SELECT CAST(count(*) AS DOUBLE) FROM tok x JOIN tok y
         |   ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
         |   AND x.tok = '$a' AND y.tok = '$b')""".stripMargin
    def conj(ts: Seq[String]) = {
      val in = ts.map(t => s"'$t'").mkString(",")
      s"""(SELECT CAST(count(*) AS DOUBLE) FROM (
         |   SELECT doc_id FROM tok WHERE tok IN ($in)
         |   GROUP BY doc_id HAVING count(DISTINCT tok) = ${ts.size}))""".stripMargin
    }
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    // len-1 windows: 0 when the term occurs, -1 when it doesn't
    toks.indices.foreach { i =>
      rows += s"""SELECT $i AS position_start, ${i + 1} AS position_end,
                 | '${toks(i)}' AS phrase,
                 | CASE WHEN ${conj(Seq(toks(i)))} <= 0 THEN -1.0 ELSE 0.0 END AS score""".stripMargin
    }
    // len-2 windows: words = itself, no wrappers at maxIndexed=2 ->
    // score = (bttf/min_ttf) * 1 - (bttf/max_ttf) * 0, scaled by 1/2
    (0 until toks.size - 1).foreach { i =>
      val (a, b) = (toks(i), toks(i + 1))
      val c2 = conj(Seq(a, b))
      rows += s"""SELECT $i, ${i + 2}, '$a $b',
                 | CASE WHEN $c2 <= 0 THEN -1.0 ELSE round(
                 |  ((${bttf(a, b)} / least(${ttf(a)}, ${ttf(b)})) * ($c2 / $c2)
                 |   - (${bttf(a, b)} / greatest(${ttf(a)}, ${ttf(b)})) * (1 - ($c2 / $c2)))
                 |  * (1.0 / 2) * ($c2 / $c2), 5) END""".stripMargin
    }
    // len-3 windows: words = the two bigrams; wrappers of a bigram at
    // maxIndexed=2 don't exist; p_w = conj3/conj_w
    (0 until toks.size - 2).foreach { i =>
      val (a, b, c) = (toks(i), toks(i + 1), toks(i + 2))
      val c3 = conj(Seq(a, b, c))
      def wordScore(x: String, y: String) = {
        val cw = conj(Seq(x, y))
        s"""((${bttf(x, y)} / least(${ttf(x)}, ${ttf(y)})) * ($c3 / $cw)
           | - (${bttf(x, y)} / greatest(${ttf(x)}, ${ttf(y)})) * (1 - ($c3 / $cw)))""".stripMargin
      }
      rows += s"""SELECT $i, ${i + 3}, '$a $b $c',
                 | CASE WHEN $c3 <= 0 THEN -1.0 ELSE round(
                 |  (${wordScore(a, b)} + ${wordScore(b, c)})
                 |  * (1.0 / 2)
                 |  * ($c3 / greatest($c3, ${conj(Seq(a, b))}, ${conj(Seq(b, c))})), 5) END""".stripMargin
    }
    s"""WITH tok AS (SELECT doc_id,
       |   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
       |   generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
       |  FROM documents)
       | ${rows.mkString("\n UNION ALL\n")}""".stripMargin
  }

  /** Derived oracle for [[graft.query.Bm25F]] / ft_bm25f: mirrors
    * [[TextOps.bm25fQuantized]] term-for-term — title = first 5 tokens
    * (weight 2), body = text (weight 1); SmallFloat buckets applied at
    * BOTH norm levels (per-field and re-encoded combined). */
  private def bm25fSql(terms: Seq[String], k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(",")
    val values = graft.operators.TextOps.normQuantBuckets
      .map { case (lo, hi, q) => s"($lo,$hi,$q)" }.mkString(",")
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tl FROM documents),
       | tokb AS (SELECT doc_id, unnest(tl) AS tok FROM toks),
       | tokt AS (SELECT doc_id, unnest(tl[1:5]) AS tok FROM toks),
       | tfb AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokb GROUP BY doc_id, tok),
       | tft AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
       | dlb AS (SELECT doc_id, sum(tf) AS dl FROM tfb GROUP BY doc_id),
       | dlt AS (SELECT doc_id, sum(tf) AS dl FROM tft GROUP BY doc_id),
       | nb AS (SELECT * FROM (VALUES $values) AS t(lo, hi, qdl)),
       | ndl AS (SELECT doc_id, round(sum(wqdl)) AS ndl FROM (
       |    SELECT dlt.doc_id, 2.0 * nb.qdl AS wqdl FROM dlt JOIN nb ON dlt.dl BETWEEN nb.lo AND nb.hi
       |    UNION ALL
       |    SELECT dlb.doc_id, 1.0 * nb.qdl FROM dlb JOIN nb ON dlb.dl BETWEEN nb.lo AND nb.hi)
       |  GROUP BY doc_id),
       | cq AS (SELECT doc_id, CAST(nb.qdl AS DOUBLE) AS cqdl FROM ndl JOIN nb ON ndl.ndl BETWEEN nb.lo AND nb.hi),
       | fr AS (SELECT doc_id, sum(wtf) AS freq FROM (
       |    SELECT doc_id, 2.0 * tf AS wtf FROM tft WHERE tok IN ($inList)
       |    UNION ALL SELECT doc_id, 1.0 * tf FROM tfb WHERE tok IN ($inList))
       |  GROUP BY doc_id),
       | dfx AS (SELECT CAST(max(df) AS DOUBLE) AS df FROM (
       |    SELECT count(*) AS df FROM tft WHERE tok IN ($inList) GROUP BY tok
       |    UNION ALL SELECT count(*) FROM tfb WHERE tok IN ($inList) GROUP BY tok)),
       | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
       |        ((SELECT 2.0 * sum(dl) FROM dlt) + (SELECT 1.0 * sum(dl) FROM dlb)) /
       |          (SELECT count(*) FROM documents) AS avgdl)
       | SELECT fr.doc_id AS doc_id, round(
       |   ln(1 + (st.n - dfx.df + 0.5) / (dfx.df + 0.5)) * fr.freq /
       |   (fr.freq + 1.2 * (1 - 0.75 + 0.75 * cq.cqdl / st.avgdl)), 5) AS score
       | FROM fr JOIN cq ON fr.doc_id = cq.doc_id, st, dfx
       | ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  private def bm25Sql(terms: Seq[String], mode: String, mustNot: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(",")
    val havingClause = if (mode == "and") s"HAVING count(*) = ${terms.distinct.size}" else ""
    val notClause = if (mustNot.isEmpty) "" else {
      val nl = mustNot.map(t => s"'$t'").mkString(",")
      s"""AND doc_id NOT IN (SELECT DISTINCT doc_id FROM tokt WHERE tok IN ($nl))"""
    }
    s"""WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
       | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
       | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
       | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
       |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
       | qt AS (SELECT * FROM tf WHERE tok IN ($inList)),
       | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
       | sc AS (SELECT qt.doc_id,
       |   ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
       |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
       |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st)
       | SELECT doc_id, round(sum(s), 5) AS score FROM sc
       | WHERE 1=1 $notClause GROUP BY doc_id $havingClause""".stripMargin
  }

  /** Deterministic DAG over the doc-id space for the graph queries:
    * src -> src+3 and src -> src*2, keeping only edges whose target exists
    * (semi-join) — SF-independent semantics, acyclic (both ops increase). */
  private def graphEdges(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"))
    ids.select(col("doc_id").as("src"), (col("doc_id") + 3).as("dst"))
      .unionByName(ids.select(col("doc_id").as("src"), (col("doc_id") * 2).as("dst")))
      .join(ids.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_semi")
  }

  /** Shared oracle CTE prefix for the graph queries: the same (+3, x2) DAG. */
  private val GraphEdgesSql =
    """ids AS (SELECT doc_id FROM documents),
      | e AS (SELECT doc_id AS src, doc_id + 3 AS dst FROM ids
      |        WHERE doc_id + 3 IN (SELECT doc_id FROM ids)
      |       UNION ALL
      |       SELECT doc_id, doc_id * 2 FROM ids
      |        WHERE doc_id * 2 IN (SELECT doc_id FROM ids))""".stripMargin

  /** ReRank oracle: per-(doc, term) BM25 frame shared by both passes (same
    * arithmetic as bm25Sql but keeping `tok`), the main-query top-n window
    * ordered (first_pass DESC, doc_id ASC), combined score = first_pass +
    * weight * rescore (0 when the window doc misses the rescore query). */
  private def reRankSql(mainTerms: Seq[String], reTerms: Seq[String],
                        n: Int, weight: Double): String = {
    val all = (mainTerms ++ reTerms).distinct.map(t => s"'$t'").mkString(",")
    val ml = mainTerms.map(t => s"'$t'").mkString(",")
    val rl = reTerms.map(t => s"'$t'").mkString(",")
    s"""WITH tokt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
       | tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tokt GROUP BY doc_id, tok),
       | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
       | st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
       |               (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
       | qt AS (SELECT * FROM tf WHERE tok IN ($all)),
       | dfs AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY tok),
       | sc AS (SELECT qt.doc_id, qt.tok,
       |   ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * qt.tf /
       |   (qt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
       |  FROM qt JOIN dfs ON qt.tok = dfs.tok JOIN dl ON qt.doc_id = dl.doc_id, st),
       | main AS (SELECT doc_id, round(sum(s), 5) AS first_pass FROM sc WHERE tok IN ($ml) GROUP BY doc_id),
       | re AS (SELECT doc_id, round(sum(s), 5) AS re_s FROM sc WHERE tok IN ($rl) GROUP BY doc_id),
       | win AS (SELECT doc_id, first_pass FROM main ORDER BY first_pass DESC, doc_id ASC LIMIT $n)
       | SELECT w.doc_id, round(w.first_pass + $weight * coalesce(r.re_s, 0), 5) AS score, w.first_pass
       |  FROM win w LEFT JOIN re r USING (doc_id)""".stripMargin
  }

  /** Soundex oracle mirroring [[graft.analysis.Soundex.encodeCol]] step
    * for step: h/w/digit strip -> consonant-class map (vowels '0') ->
    * first-letter-code prepend -> adjacent-equal collapse (list_filter
    * with 1-based index — DuckDB's RE2 has no backreferences) -> strip
    * sentinel + zeros -> pad to letter+3. */
  private def phoneticSql(word: String): String = {
    val code = graft.analysis.Soundex.encode(word)
    s"""WITH tokd AS (SELECT DISTINCT doc_id, tok FROM (
       |   SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)),
       | m AS (SELECT doc_id, tok,
       |   translate(substr(tok, 1, 1), 'abcdefghijklmnopqrstuvwxyz', '01230120022455012623010202') ||
       |   translate(regexp_replace(substr(tok, 2), '[hw0-9]', '', 'g'),
       |     'bfpvcgjkqsxzdtlmnraeiouy', '111122222222334556000000') AS mapped
       |  FROM tokd WHERE regexp_matches(tok, '^[a-z]')),
       | c AS (SELECT doc_id, tok, regexp_extract_all(mapped, '.') AS cs FROM m),
       | e AS (SELECT doc_id, tok,
       |   upper(substr(tok, 1, 1)) || rpad(substr(replace(substr(
       |     array_to_string(list_filter(cs, (x, i) -> i = 1 OR x <> cs[i-1]), ''),
       |     2), '0', ''), 1, 3), 3, '0') AS code
       |  FROM c)
       | SELECT DISTINCT doc_id FROM e WHERE code = '$code'""".stripMargin
  }

  /** Language-ID oracle mirroring TextOps.languageId's argmax + tie rule. */
  private def langIdSql: String = {
    val hitCols = LangMarkers.map { case (lang, words) =>
      val wl = words.map(w => s"'$w'").mkString(",")
      s"len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), t -> t IN ($wl))) AS hits_$lang"
    }.mkString(",\n  ")
    val cases = LangMarkers.map { case (lang, _) =>
      val geAll = LangMarkers.map(m => s"hits_$lang >= hits_${m._1}").mkString(" AND ")
      s"WHEN hits_$lang > 0 AND $geAll THEN '$lang'"
    }.mkString("\n  ")
    s"""SELECT doc_id, CASE
       |  $cases
       |  ELSE 'und' END AS lang_pred
       | FROM (SELECT doc_id,
       |  $hitCols
       | FROM documents)""".stripMargin
  }
}

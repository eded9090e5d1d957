package graft.index

import graft.SparkSpec
import graft.corpus.CorpusGen
import graft.operators.TextOps
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Physical-plan audits: the scale-critical plan properties are asserted,
 * not eyeballed — a regression that silently drops a pushdown or flips a
 * broadcast to a sort-merge join fails CI here.
 */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  lazy val (dir, idx) = {
    val d = Files.createTempDirectory("graft-plan").toString
    val withIds = DocIds.assign(CorpusGen.corpus(spark, 200, 4).toDF(),
      Seq("repo", "path", "commit"), 4)
    IndexStore.build(spark, withIds, d, numSegments = 1, shufflePartitions = 4,
      withPositions = true, docValueCols = Seq("lang"), withOffsets = true)
    (d, IndexStore.OpenIndex(spark, d))
  }

  test("term query: the term filter is PUSHED into the postings parquet scan") {
    val plan = planOf(idx.blocks.filter($"term" === "public").toDF())
    assert(plan.contains("PushedFilters"), plan.take(800))
    // the pushed filter must mention the term column (IsNotNull + EqualTo)
    assert(plan.contains("EqualTo(term,public)") || plan.contains("term"), plan.take(800))
  }

  test("topK plan: bounded TakeOrderedAndProject, no global sort") {
    val plan = planOf(idx.topK(Seq("public", "import"), 10))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    // a global Sort operator (full orderBy) must NOT appear — the top-k is
    // per-partition bounded heaps + driver merge
    assert(!plan.contains("Sort ["), plan.take(1200))
  }

  test("topK hot-path shapes: per-doc shuffle count of each query class") {
    import graft.query.QueryEngine.And
    def exchanges(df: DataFrame): Int = "Exchange hashpartitioning".r.findAllIn(planOf(df)).size
    val two = Seq("public", "import")
    // single term: each posting IS the doc's score, no per-doc grouping
    assert(exchanges(idx.topK(Seq("public"), 10)) == 0, planOf(idx.topK(Seq("public"), 10)))
    // multi-term: the kernel's doc-range bucket shuffle is the only one
    assert(exchanges(idx.topK(two, 10)) == 1, planOf(idx.topK(two, 10)))
    assert(exchanges(idx.topK(two, 10, And)) == 1, planOf(idx.topK(two, 10, And)))
    // parsed `+a b -c`: the should clause's per-doc combine is the one
    // shuffle; the must ⋈ should and mustNot joins broadcast
    val parsed = idx.search("+public import -handler3", 10)
    assert(exchanges(parsed) == 1, planOf(parsed))
  }

  test("topK's ignored prune flag: same plan and job count as the plain Or query") {
    // the benchmark's or_prune, or_wand and and_wand classes call topK with
    // prune = true or wand = true on a warmed index; each must run exactly
    // the plain Or (And) query
    val warmed = IndexStore.OpenIndex(spark, dir).warm(2)
    val terms = Seq("public", "static", "void")
    warmed.topK(terms, 10).collect(): Unit // cache the postings, fill the df memo
    def shape(df: => DataFrame): (String, Int) = {
      var plan = ""
      val jobs = countJobs { val d = df; plan = planOf(d); d.collect(): Unit }
      (plan.replaceAll("#\\d+|plan_id=\\d+|@[0-9a-f]+", ""), jobs)
    }
    val (orPlan, orJobs) = shape(warmed.topK(terms, 10))
    val (prunePlan, pruneJobs) = shape(warmed.topK(terms, 10, prune = true))
    assert(prunePlan === orPlan)
    assert(pruneJobs === orJobs)
    assert("Exchange hashpartitioning".r.findAllIn(prunePlan).size == 1, prunePlan)
    assert(shape(warmed.topK(terms, 10, wand = true)) === (orPlan, orJobs))
    val andShape = shape(warmed.topK(terms, 10, graft.query.QueryEngine.And))
    assert(shape(warmed.topK(terms, 10, graft.query.QueryEngine.And, wand = true)) === andShape)
    warmed.blocks.unpersist()
  }

  test("docvalues scan reads ONLY the narrow columns (column pruning)") {
    val plan = planOf(idx.docvalues.select("docId", "lang"))
    val readSchema = "ReadSchema: struct<docId:bigint,lang:string"
    assert(plan.contains(readSchema), plan.take(1200))
  }

  test("termstats lookup scans only (term, df) and pushes the prefix filter") {
    val plan = planOf(idx.termstats.filter($"term".startsWith("pub")).select("term", "df"))
    assert(plan.contains("PushedFilters") && plan.contains("StringStartsWith"), plan.take(1000))
    assert(plan.contains("ReadSchema: struct<term:string,df:bigint"), plan.take(1000))
  }

  test("declarative BM25: small stats frames are BROADCAST, not shuffled") {
    val docs = (0 until 100).map(i => (i.toLong, s"spark query doc $i words")).toDF("doc_id", "text")
    val plan = planOf(TextOps.bm25All(docs, "doc_id", "text", Seq("spark", "query")))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
  }

  test("fetch/hashJoin dimension enrichment broadcasts the small side") {
    val big = spark.range(10000).select($"id", ($"id" % 10).as("k"))
    val dim = spark.range(10).select($"id".as("k"), concat(lit("v"), $"id").as("v"))
    val plan = planOf(graft.operators.Relational.hashJoin(big, dim, Seq("k")))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("index build source scan prunes segment slices by docId (parquet min/max pushdown)") {
    // write a docId-clustered corpus like the bench does, read a slice
    val tmp = Files.createTempDirectory("graft-plan-corpus").toString + "/c"
    CorpusGen.corpusWithIds(spark, 2000, 8).write.parquet(tmp)
    val slice = spark.read.parquet(tmp).filter($"docId" >= 500 && $"docId" < 1000)
    val plan = planOf(slice)
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThanOrEqual(docId,500)") || plan.contains("docId")), plan.take(1000))
  }

  test("phraseFreqs: ONE exchange regardless of phrase length") {
    val plan = graft.query.QueryEngine.phraseFreqs(idx.positions,
        Seq(Seq("public"), Seq("static"), Seq("void")))
      .queryExecution.executedPlan.toString
    // one grouping shuffle; the (term, slot) lookup must be broadcast
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 data exchange for a 3-slot phrase, got $exchanges:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan.take(1500))
  }

  test("fuzzy candidates: a keyed probe of the gram sidecar, not a postings/vocab scan") {
    val df = idx.fuzzyCandidates("mergepolicy", 1)
    val plan = df.queryExecution.executedPlan.toString
    // reads the persisted sidecar (in-memory scan), filtered by the
    // query's grams — NOT a levenshtein over the full termstats
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
    assert(!plan.toLowerCase.contains("levenshtein"), plan.take(1200))
    val vocab = idx.termstats.count()
    assert(df.count() < vocab / 10, "candidate set not pruned")
  }

  test("passage highlighting reads only the query terms' offset rows") {
    val plan = idx.highlightPassages(Seq("public"), 16, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(1200))
    assert(plan.contains("term"), plan.take(1200))
  }

  test("whole-stage codegen spans the relational hot path; custom Bm25Score stays codegen'd") {
    // `*(n)` prefixes mark whole-stage-codegen stages; under AQE they only
    // appear in the FINAL plan, so execute first
    val agg = spark.range(1000).select($"id", ($"id" % 7).as("k"))
      .filter($"k" > 2).groupBy("k").agg(sum("id"))
    agg.collect()
    assert(planOf(agg).contains("*("), planOf(agg).take(1200))
    // the custom scoring expression does NOT break codegen (full assertion
    // with generated-code inspection lives in Bm25ScoreSpec)
    val cache = graft.query.BM25.normCache(1.2f, 0.75f, 25f)
    val scored = spark.range(500).select($"id",
      graft.functions.Bm25Score(($"id" % 13).cast("int"), ($"id" % 11).cast("byte"), 1.5f, cache).as("s"))
      .filter($"s" > 0f)
    assert(planOf(scored).contains("*("), planOf(scored).take(1200))
  }

  test("collapse: ONE partial-aggregated shuffle, no window sort") {
    val df = (0 until 1000).map(i => (i.toLong, s"g${i % 7}", (i % 13).toDouble))
      .toDF("id", "grp", "score")
    val plan = planOf(graft.operators.Relational.collapseOn(df, "grp", "score", "id"))
    // head selection is max_by aggregation: exactly one grouping exchange,
    // partial+final (map-side combine), and NO Window/global Sort operator
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${plan.take(1500)}")
    assert(!plan.contains("Window"), plan.take(1500))
    assert(plan.contains("partial_max_by") || plan.contains("max_by"), plan.take(1500))
  }

  test("facetPivot: level-1 winners join back as a BROADCAST, one data pass") {
    val df = (0 until 1000).map(i => (s"l${i % 5}", s"s${i % 11}")).toDF("lang", "src")
    val pivot = graft.operators.Relational.facetPivot(df, "lang", "src", 3, 2)
    pivot.collect() // AQE: final plan materializes after execution
    // audit the FINAL adaptive plan only (the trailing "Initial Plan"
    // section is the pre-reuse shape)
    val plan = planOf(pivot).split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(2000))
    // the raw table is scanned once: the level-1 branch REUSES the (A, B)
    // grouping exchange instead of re-scanning the input
    val scans = "LocalTableScan".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 input scan, got $scans:\n${plan.take(2000)}")
    assert(plan.contains("ReusedExchange"), plan.take(2000))
  }

  test("reRank: window selection is TakeOrderedAndProject; corpus tokenized once") {
    val docs = (0 until 300).map(i => (i.toLong, s"spark query join data doc$i"))
      .toDF("doc_id", "text")
    val rr = graft.operators.TextOps.reRank(docs, "doc_id", "text",
      Seq("spark", "query"), Seq("join", "data"), 20, 2.0)
    val plan = planOf(rr)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("Sort ["), plan.take(2000))
  }

  private lazy val pipeDocs = (0 until 300).map(i =>
    (i.toLong, s"alpha beta gamma doc$i token", s"l${i % 5}"))
    .toDF("doc_id", "text", "lang")

  test("decontaminate: fragment set is the BROADCAST side; doc text never shuffles") {
    val frags = graft.operators.Pipeline.benchmarkFragments(
      pipeDocs, "doc_id", "text", 97, 3, 2)
    val plan = planOf(graft.operators.Pipeline.decontaminate(
      pipeDocs, frags, "doc_id", "text", 2))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // the post-join exchanges carry only (doc_id, frag) aggregate keys —
    // the text column must not appear in any Exchange's output
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(!_.contains("text#")), plan.take(2000))
  }

  test("stratifiedSample: broadcast rate join + codegen filter, ZERO exchanges") {
    val plan = planOf(graft.operators.Pipeline.stratifiedSample(
      pipeDocs, "doc_id", "lang", Map("l0" -> 0.5, "l1" -> 0.25), 0.1))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("Ltr.rescore: the top-N window is the BROADCAST build side of the feature join") {
    val first = pipeDocs.select($"doc_id", ($"doc_id" % 13).cast("double").as("score"))
    val plan = planOf(graft.operators.Ltr.rescore(first, "doc_id", "score",
      pipeDocs.withColumn("n_chars", length($"text")),
      Seq(("loglen", log(lit(1.0) + $"n_chars"))),
      graft.operators.Ltr.LinearModel(Seq(("first_pass", 1.0), ("loglen", 0.3))), 40))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("Monitor.matches: ZERO exchanges — one narrow pass over the doc scan") {
    val docs = (0 until 100).map(i => (i.toLong, s"spark query doc $i")).toDF("doc_id", "text")
    val plan = planOf(graft.operators.Monitor.matches(docs, Seq(
      graft.operators.Monitor.TermQ("t", "spark"),
      graft.operators.Monitor.AndQ("a", Seq("spark", "query")),
      graft.operators.Monitor.PhraseQ("p", Seq("spark", "query")),
      graft.operators.Monitor.WildcardQ("w", "spa"),
      graft.operators.Monitor.NotQ("n",
        graft.operators.Monitor.TermQ("ni", "query"), Seq("slow")))))
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(plan.contains("MapPartitions"), plan.take(2000))
  }

  test("Intervals.query: positions scan pruned to the source's own terms") {
    val src = graft.operators.Intervals.MaxGaps(2, graft.operators.Intervals.Ordered(
      Seq(graft.operators.Intervals.Term("public"), graft.operators.Intervals.Term("static"))))
    val plan = planOf(graft.operators.Intervals.query(idx.positions, src))
    // the In(term, [public,static]) predicate must reach the parquet scan
    assert(plan.contains("PushedFilters"), plan.take(1500))
    assert(plan.contains("In(term") || plan.contains("EqualTo(term"), plan.take(1500))
    // exactly ONE exchange: the per-doc groupByKey of the pruned rows
    assert("Exchange".r.findAllIn(plan).size <= 2, plan.take(2000))
  }

  test("FreeText.suggest: per-order denominators broadcast, no model-wide sort") {
    val docs = (0 until 50).map(i => (i.toLong, s"spark query plan $i")).toDF("doc_id", "text")
    val model = graft.operators.FreeText.model(docs, "text", maxOrder = 3)
    val plan = planOf(graft.operators.FreeText.suggest(model, Seq("spark", "query", "p"), 5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("Classify: stats broadcast; kNN df-cap precedes the candidate join") {
    val docs = (0 until 100).map(i =>
      (i.toLong, s"spark query doc $i words", s"l${i % 3}")).toDF("doc_id", "text", "lang")
    val nb = planOf(graft.operators.Classify.naiveBayes(
      docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1),
      classCol = "lang"))
    assert(nb.contains("BroadcastExchange"), nb.take(2000))
    val knn = planOf(graft.operators.Classify.knn(
      docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1),
      k = 3, classCol = "lang"))
    assert(knn.contains("BroadcastExchange"), knn.take(2000))
  }

  test("frange: the compiled function is a codegen Filter, no UDF, pushdown-eligible") {
    val li = spark.range(100).select(col("id").cast("double").as("x"))
    val plan = planOf(graft.functions.JsExpr.frange(li, "sqrt(x) + 1", l = Some(2.0)))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan.take(800))
    // '*(n)' prefixes mark whole-stage-codegen'd operators; the Filter
    // carrying the compiled function must be inside a codegen stage
    assert("""\*\(\d+\) Filter""".r.findFirstIn(plan).isDefined, plan.take(800))
  }

  test("cursorMark page plan: bounded TakeOrderedAndProject with the after-filter, never sort-and-skip") {
    val (_, mark) = idx.cursorPage(Seq("public"), Seq(("lang", true)), 5)
    val plan = planOf(idx.cursorQuery(Seq("public"), Seq(("lang", true)), 5, mark,
      graft.query.QueryEngine.And))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    assert(!plan.contains("GlobalLimit"), plan.take(1200)) // no sort+offset shape
  }

  test("blendedTopK: same bounded-heap plan as topK; one term-pruned scan") {
    val plan = planOf(idx.run(graft.query.QueryEngine.Request(
      graft.query.QueryEngine.Blended(Seq(("public", 1f), ("import", 1f))), 10, tieBreaker = Some(0.01f))))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    assert("Scan parquet".r.findAllIn(plan).size <= 1, plan.take(1200))
  }

  test("termsEnum: a termstats-only scan — postings never read") {
    val plan = planOf(idx.termsEnum(prefix = Some("pub"), limit = 5))
    assert(!plan.contains("blocks") && plan.contains("termstats"), plan.take(800))
  }

  test("facetDomain: block switch is a semi join carrying ONLY the key; count is partial+final") {
    import graft.operators.Relational._
    val parents = spark.range(1000).select($"id".as("pid"), ($"id" % 3).as("status"))
    val children = spark.range(5000).select(($"id" % 1000).as("pid"), ($"id" % 7).as("flag"))
    val plan = planOf(facetDomain(parents,
      Seq(TaggedFilter("st", col("status") === 1)),
      Seq(DomainBlockChildren(children, "pid", "pid"), DomainFilter(col("flag") >= 2)),
      "flag"))
    // the child side joins against the parent KEY set only (left semi),
    // never the widened parent row
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(!plan.contains("status#") ||
      !plan.substring(plan.indexOf("LeftSemi")).contains("status"), plan.take(2000))
    // final facet count = partial + final HashAggregate pair
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("BM25F: term filter pushed into EVERY field's postings scan; bounded top-k") {
    val d2 = Files.createTempDirectory("graft-plan-bm25f").toString
    val withIds = DocIds.assign(CorpusGen.corpus(spark, 120, 2).toDF(),
      Seq("repo", "path", "commit"), 2)
    FieldedIndex.build(spark, withIds, d2,
      fields = Seq("content" -> "content", "lang" -> "lang"),
      numSegments = 1, shufflePartitions = 2)
    val fidx = FieldedIndex.open(spark, d2)
    val plan = planOf(graft.query.Bm25F.topK(
      Seq(fidx("content") -> 1f, fidx("lang") -> 2f), Seq("public"), 10))
    // one pushed term filter per field index
    assert("PushedFilters: \\[.*term".r.findAllIn(plan).size >= 2, plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("minHash fingerprint query: broadcast band probe over ONE narrow signature pass") {
    val docs = (0 until 200).map(i => (i.toLong,
      s"alpha beta gamma delta w$i x${i % 7} y${i % 11} z${i % 13}"))
      .toDF("doc_id", "text")
    val plan = planOf(graft.operators.Dedup.minHashQuery(
      docs, "doc_id", "text", "alpha beta gamma delta w3 x3 y3 z3",
      numHashes = 16))
    // the band membership table rides a broadcast join; doc text never
    // shuffles (the only wide ops are the two small aggregations)
    assert(plan.contains("BroadcastExchange"), plan.take(2500))
    assert(!plan.contains("SortMergeJoin"), plan.take(2500))
  }

  test("term automaton: positions scan pushes the member-term filter; one doc aggregation") {
    val b = new graft.query.TermAutomaton.Builder
    val s0 = b.createState(); val s1 = b.createState(); val s2 = b.createState()
    b.setAccept(s2, true)
    b.addTransition(s0, s1, "public")
    b.addTransition(s1, s2, "import")
    val plan = planOf(graft.query.TermAutomaton.matches(idx, b.finish()))
    assert(plan.contains("PushedFilters") && plan.contains("term"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
  }

  test("exportSorted: distributed range-partitioned sort, no driver-side collect shape") {
    val plan = planOf(idx.exportSorted(Seq("public"), Seq(("lang", true))))
    assert(plan.contains("rangepartitioning"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("shape relations: ONE scan + ONE aggregation exchange, no joins") {
    val shapes = spark.range(500).select($"id".as("shape_id"),
      expr("array(named_struct('lat', CAST(id % 50 AS DOUBLE), 'lon', CAST(id % 70 AS DOUBLE))," +
        "named_struct('lat', CAST(id % 50 + 1 AS DOUBLE), 'lon', CAST(id % 70 AS DOUBLE))," +
        "named_struct('lat', CAST(id % 50 AS DOUBLE), 'lon', CAST(id % 70 + 1 AS DOUBLE)))").as("verts"))
    val edges = graft.operators.Geo.shapeEdges(shapes, "shape_id", "verts")
    val plan = planOf(graft.operators.Geo.boxRelations(edges, "shape_id", 0, 10, 0, 20))
    assert(!plan.contains("Join"), plan.take(1500))
    assert("Exchange".r.findAllIn(plan).size <= 1, plan.take(1500))
    val plan2 = planOf(graft.operators.Geo.polyRelations(edges, "shape_id",
      Seq((10.0, 0.0), (0.0, 10.0), (-10.0, 0.0), (0.0, -10.0))))
    assert(!plan2.contains("Join"), plan2.take(1500))
    assert("Exchange".r.findAllIn(plan2).size <= 1, plan2.take(1500))
  }

  test("FuncParser.topK: pure codegen expression, bounded TakeOrderedAndProject") {
    val docs = spark.range(500).select($"id".as("doc_id"),
      ($"id" % 97).cast("double").as("value"))
    val plan = planOf(graft.query.FuncParser.topK(docs,
      "sum(recip(value,1,100,10),linear(value,0.5,1))", 10))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("Sort ["), plan.take(1200))
  }

  test("FuncParser scale(): global bounds ride a BROADCAST 1-row aggregate") {
    val docs = spark.range(500).select($"id".as("doc_id"),
      ($"id" % 97).cast("double").as("value"))
    val c = graft.query.FuncParser.compile(docs, "scale(value,0,100)")
    val plan = planOf(c.df.select(col("doc_id"), c.value.as("v")))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("FuncParser termfreq(): the term filter pushes into the postings scan") {
    val docs = spark.range(200).select($"id".as("doc_id"))
    val env = graft.query.FuncParser.Env(index = Some(idx))
    val c = graft.query.FuncParser.compile(docs, "termfreq(content,'public')", env)
    val plan = planOf(c.df.select(col("doc_id"), c.value.as("v")))
    assert(plan.contains("PushedFilters") && plan.contains("term"), plan.take(2000))
  }

  test("subqueryTransformer: a top-k parent page BROADCASTS against the sub table") {
    val parents = spark.range(1000).select($"id".as("p_id"), ($"id" % 7).as("k"))
      .limit(20)
    val sub = spark.range(5000).select($"id".as("s_id"), ($"id" % 7).as("k"),
      ($"id" % 13).cast("double").as("w"))
    val plan = planOf(graft.operators.Relational.subqueryTransformer(
      parents, "p_id", "k", sub, "k", "s_id",
      sortBy = Seq(col("w").desc, col("s_id").asc), rows = 3, name = "d"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("collation-key sorted page: TakeOrderedAndProject over the codegen key") {
    val docs = spark.range(500).select($"id".as("doc_id"),
      concat(lit("w"), ($"id" % 50).cast("string")).as("name"))
    val plan = planOf(docs.orderBy(
        graft.functions.CollationKey(col("name"), "fr", "primary"), col("doc_id"))
      .limit(25))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    assert(!plan.contains("Sort ["), plan.take(1200))
  }
}

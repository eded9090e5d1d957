package graft.index

import graft.SparkSpec
import graft.corpus.CorpusGen
import graft.query.{OracleScorer, QueryEngine}
import graft.query.QueryEngine.{Request, Terms}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end: build index from the deterministic synthetic source-code
  * corpus, run the reference-style query set, assert rank- AND
  * score-identity vs the brute-force oracle (exact float arithmetic). */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  val N = 600
  lazy val corpusLocal: Seq[OracleScorer.Doc] = {
    // oracle docIds = position in (repo, path, commit) total order
    (0L until N).map(i => CorpusGen.genFile(i))
      .sortBy(f => (f.repo, f.path, f.commit))
      .zipWithIndex.map { case (f, i) => OracleScorer.Doc(i.toLong, f.content) }
  }
  lazy val withIds: DataFrame =
    DocIds.assign(CorpusGen.corpus(spark, N, 7).toDF(), Seq("repo", "path", "commit"), 6).cache()
  lazy val blocks = IndexBuilder.packBlocks(spark, IndexBuilder.invert(spark, withIds), 8).cache()
  lazy val termstats = IndexBuilder.termStats(blocks).cache()
  lazy val stats = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, withIds))

  def engineTopK(terms: Seq[String], k: Int, mode: QueryEngine.Mode = QueryEngine.Or,
                 mustNot: Seq[String] = Nil): Seq[(Long, Float)] =
    QueryEngine.run(spark, blocks, termstats, stats, Request(Terms(terms), k, mode, mustNot))
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq

  /** Every match of the same request (k = All, no skipping possible),
    * sorted (score DESC, docId ASC) and cut to k. */
  def allCutToK(b: org.apache.spark.sql.Dataset[BlockRow], ts: DataFrame, terms: Seq[String],
                k: Int, mode: QueryEngine.Mode): Seq[(Long, Float)] =
    QueryEngine.run(spark, b, ts, stats, Request(Terms(terms), QueryEngine.All, mode))
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)

  val queries: Seq[(Seq[String], QueryEngine.Mode, Seq[String])] = Seq(
    (Seq("public"), QueryEngine.Or, Nil),                       // mega term
    (Seq("uniq_5_0"), QueryEngine.Or, Nil),                     // singleton-ish
    (Seq("parseconfig", "handler7"), QueryEngine.Or, Nil),
    (Seq("import", "return", "uniq_10_1"), QueryEngine.Or, Nil),
    (Seq("import", "handler3"), QueryEngine.And, Nil),
    (Seq("class"), QueryEngine.Or, Seq("uniq_1_0")),
    (Seq("nosuchterm"), QueryEngine.Or, Nil),
    (Seq("public", "nosuchterm"), QueryEngine.And, Nil),
    (Seq("12", "buildindex", "def", "queryengine", "val"), QueryEngine.Or, Nil))

  test("docIds are deterministic and dense regardless of input partitioning") {
    val a = DocIds.assign(CorpusGen.corpus(spark, N, 3).toDF(), Seq("repo", "path", "commit"), 4)
      .select("docId", "commit").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val b = DocIds.assign(CorpusGen.corpus(spark, N, 11).toDF(), Seq("repo", "path", "commit"), 9)
      .select("docId", "commit").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(a.toSeq === b.toSeq)
    assert(a.map(_._1).toSeq === (0L until N))
    // and matches the local oracle order
    val local = corpusLocal.map(_.docId)
    assert(a.map(_._1).toSeq === local)
  }

  test("engine matches brute-force oracle: identical docIds AND float scores, all query classes") {
    for (((terms, mode, neg), qi) <- queries.zipWithIndex; k <- Seq(1, 10, 100)) {
      val got = engineTopK(terms, k, mode, neg)
      val want = OracleScorer.topK(corpusLocal, terms, k, mode, neg)
      assert(got === want, s"query #$qi terms=$terms mode=$mode k=$k")
    }
  }

  test("WAND kernel is rank- and score-identical to the exhaustive path (Or and And)") {
    // the exhaustive path: the same request at k = All (no heap, so no
    // skipping), sorted and cut to k
    for ((terms, mode, neg) <- queries if neg.isEmpty; k <- Seq(1, 10, 50)) {
      val bounded = engineTopK(terms, k, mode, neg)
      assert(bounded === allCutToK(blocks, termstats, terms, k, mode), s"terms=$terms mode=$mode k=$k")
      assert(bounded === OracleScorer.topK(corpusLocal, terms, k, mode), s"terms=$terms mode=$mode k=$k")
    }
    // small bucket size forces boundary-spanning replication + many buckets
    val terms = Seq("public", "import", "return")
    val infos = QueryEngine.plan(termstats, stats, terms)
    val tiny = graft.query.Wand.topK(spark, blocks, infos, 25, bucketDocs = 64)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(tiny === allCutToK(blocks, termstats, terms, 25, QueryEngine.Or))
    assert(tiny === OracleScorer.topK(corpusLocal, terms, 25))
  }

  test("runs out of docId order in one task keep the docId tie-break") {
    // every doc scores the same, so the top k are the k lowest docIds; the
    // hash-packed partitions, coalesced, reach one task out of docId order
    val local = (0L until 1000L).map(OracleScorer.Doc(_, "same words here"))
    val docs = local.map(d => (d.docId, d.content)).toDF("docId", "content")
    val b = IndexBuilder.packPartitions(IndexBuilder.invert(spark, docs).repartition(4, $"term", $"docId"))
      .coalesce(1).cache()
    val ts = IndexBuilder.termStats(b)
    val cs = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, docs))
    for (terms <- Seq(Seq("same"), Seq("same", "words")); k <- Seq(1, 5, 200)) {
      val got = graft.query.Wand.topK(spark, b, QueryEngine.plan(ts, cs, terms), k, bucketDocs = 64)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(got.map(_._1) === (0L until k.toLong), s"terms=$terms k=$k")
      assert(got === OracleScorer.topK(local, terms, k), s"terms=$terms k=$k")
    }
    b.unpersist()
  }

  test("totalHitsThreshold contract: exact within the threshold, sound lower bound beyond") {
    def trueCount(terms: Seq[String], mode: QueryEngine.Mode): Long = {
      val analyzed = corpusLocal.map(d =>
        (d.docId, graft.analysis.Analyzer.termFreqs(d.content)._1))
      val sets = terms.map(t => analyzed.filter(_._2.contains(t)).map(_._1).toSet)
      (mode match {
        case QueryEngine.And => sets.reduce(_ intersect _)
        case _               => sets.reduce(_ union _)
      }).size.toLong
    }
    def run(terms: Seq[String], mode: QueryEngine.Mode, thr: Int) =
      QueryEngine.runCounted(spark, blocks, termstats, stats, Request(Terms(terms), 10, mode), thr)

    // single term: the count is its df; bound class follows the threshold rule
    val dfPublic = trueCount(Seq("public"), QueryEngine.Or)
    val (h1, t1) = run(Seq("public"), QueryEngine.Or, Int.MaxValue)
    assert(t1 === QueryEngine.TotalHits(dfPublic, exact = true))
    assert(h1 === engineTopK(Seq("public"), 10))
    val (_, t2) = run(Seq("public"), QueryEngine.Or, 10)
    assert(t2 === QueryEngine.TotalHits(dfPublic, exact = false)) // beyond threshold -> GTE

    // multi-term Or, threshold unlimited: exact count, rank-identical hits
    val orTerms = Seq("import", "return", "uniq_10_1")
    val nOr = trueCount(orTerms, QueryEngine.Or)
    val (h3, t3) = run(orTerms, QueryEngine.Or, Int.MaxValue)
    assert(t3 === QueryEngine.TotalHits(nOr, exact = true))
    assert(h3 === engineTopK(orTerms, 10))

    // multi-term Or with the threshold at its true union count: Σdf exceeds
    // the threshold (the terms overlap) but the count fits, so it is EXACT
    val (h3b, t3b) = run(orTerms, QueryEngine.Or, nOr.toInt)
    assert(t3b === QueryEngine.TotalHits(nOr, exact = true))
    assert(h3b === engineTopK(orTerms, 10))

    // multi-term Or beyond the threshold: hits identical, the count a valid
    // lower bound covering at least the top-k
    val (h4, t4) = run(orTerms, QueryEngine.Or, 5)
    assert(h4 === engineTopK(orTerms, 10))
    assert(!t4.exact)
    assert(t4.value >= h4.size && t4.value <= trueCount(orTerms, QueryEngine.Or))

    // And mode: a small true count within a small threshold reports EXACT
    val andTerms = Seq("import", "handler3")
    val nAnd = trueCount(andTerms, QueryEngine.And)
    val (h5, t5) = run(andTerms, QueryEngine.And, math.max(nAnd.toInt, 1))
    assert(t5 === QueryEngine.TotalHits(nAnd, exact = true))
    assert(h5 === engineTopK(andTerms, 10, QueryEngine.And))

    // absent terms: empty, exact zero
    assert(run(Seq("nosuchterm"), QueryEngine.Or, 1000)._2 ===
      QueryEngine.TotalHits(0L, exact = true))
  }

  test("multi-term expansion: prefix/fuzzy/set constant-score matches brute force") {
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    def brute(pred: String => Boolean, k: Int): Seq[Long] =
      corpusLocal.filter(d => graft.analysis.Analyzer.terms(d.content).exists(pred))
        .map(_.docId).sorted.take(k)
    val cases: Seq[(org.apache.spark.sql.Column, String => Boolean)] = Seq(
      (col("term").startsWith("handler"), (t: String) => t.startsWith("handler")),
      (levenshtein(col("term"), lit("import")) <= 1, (t: String) => {
        // brute levenshtein<=1 via simple DP
        def lev(a: String, b: String): Int = {
          val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
          for (i <- 1 to a.length; j <- 1 to b.length)
            d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
              d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          d(a.length)(b.length)
        }
        lev(t, "import") <= 1
      }),
      (col("term").isin("val", "var", "def"), (t: String) => Set("val", "var", "def")(t)))
    for (((pred, bpred), i) <- cases.zipWithIndex; k <- Seq(5, 50)) {
      val got = QueryEngine.run(spark, blocks, termstats, stats, Request(QueryEngine.Expanded(pred), k))
        .select("docId").collect().map(_.getLong(0)).toSeq
      assert(got === brute(bpred, k), s"case $i k=$k")
    }
  }

  test("WAND over hash-packed (overlapping) blocks is rank- and score-identical") {
    // hash partitioning interleaves a term's docIds across partitions, so
    // one term's blocks OVERLAP in docId ranges — the kernel must detect and
    // re-pack (split partial scores would otherwise corrupt multi-term sums)
    val hashBlocks = IndexBuilder.packPartitions(
      IndexBuilder.invert(spark, withIds).repartition(8, $"term", $"docId")).cache()
    val hashTs = IndexBuilder.termStats(hashBlocks).cache()
    for ((terms, mode, neg) <- queries if neg.isEmpty; k <- Seq(1, 10, 50)) {
      val bounded = QueryEngine.run(spark, hashBlocks, hashTs, stats, Request(Terms(terms), k, mode))
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(bounded === allCutToK(hashBlocks, hashTs, terms, k, mode), s"terms=$terms mode=$mode k=$k")
      assert(bounded === OracleScorer.topK(corpusLocal, terms, k, mode), s"terms=$terms mode=$mode k=$k")
    }
    hashBlocks.unpersist(); hashTs.unpersist()
  }

  test("WAND actually prunes: far fewer blocks decoded than scanned on an impact-skewed corpus") {
    import spark.implicits._
    // 8000 docs contain 'common' once in long docs (low impact); 50 docs
    // contain it many times in short docs (high impact). k=3 finds the hot
    // docs fast, theta rises, and low-impact blocks must be skipped undecoded.
    val docs = spark.range(8050).select($"id".as("docId"),
      org.apache.spark.sql.functions.when($"id" < 50,
        org.apache.spark.sql.functions.lit("common common common common common"))
        .otherwise(org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("common " + ("filler " * 300)),
          $"id")).as("content"))
    val local = (0L until 8050L).map(id => OracleScorer.Doc(id,
      if (id < 50) "common common common common common" else "common " + ("filler " * 300) + id))
    val b = IndexBuilder.packBlocks(spark, IndexBuilder.invert(spark, docs), 4).cache()
    val ts = IndexBuilder.termStats(b)
    val cs = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, docs))
    val totalBlocks = b.filter($"term" === "common").count()
    val ctr = spark.sparkContext.longAccumulator("decoded")
    val infos = QueryEngine.plan(ts, cs, Seq("common"))
    val got = graft.query.Wand.topK(spark, b, infos, 3, decodeCounter = Some(ctr))
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    // references that skip nothing: every doc's score sorted and cut to 3,
    // and the brute-force oracle
    val all = QueryEngine.run(spark, b, ts, cs, Request(Terms(Seq("common")), QueryEngine.All))
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(all.size === 8050)
    assert(got === all.sortBy { case (id, s) => (-s, id) }.take(3))
    assert(got === OracleScorer.topK(local, Seq("common"), 3))
    assert(ctr.value < totalBlocks / 2,
      s"WAND decoded ${ctr.value} of $totalBlocks blocks — pruning ineffective")
    b.unpersist()
  }

  test("searchAfter paging: pages are disjoint and concatenate to the full topK") {
    val terms = Seq("public", "import", "class")
    val full = engineTopK(terms, 30)
    val page1 = engineTopK(terms, 10)
    val (d1, s1) = page1.last
    val page2 = QueryEngine.run(spark, blocks, termstats, stats, Request(Terms(terms), 10, after = Some((s1, d1))))
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val (d2, s2) = page2.last
    val page3 = QueryEngine.run(spark, blocks, termstats, stats, Request(Terms(terms), 10, after = Some((s2, d2))))
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(page1 ++ page2 ++ page3 === full)
  }

  test("searchAfter paging over tombstones: pages concatenate to the k = All cut") {
    val dead = new org.roaringbitmap.longlong.Roaring64Bitmap
    // tombstone some of the best docs of the Or query, so every page moves
    val top = engineTopK(Seq("public", "import", "class"), 40)
    Seq(0, 3, 4, 11, 25).foreach(i => dead.addLong(top(i)._1))
    val cases = Seq((Seq("public", "import", "class"), QueryEngine.Or, Nil),
      (Seq("public", "import", "class"), QueryEngine.Or, Seq("handler3")),
      (Seq("import", "public"), QueryEngine.And, Nil))
    for ((terms, mode, neg) <- cases) {
      def run(k: Int, after: Option[(Float, Long)]) =
        QueryEngine.run(spark, blocks, termstats, stats, Request(Terms(terms), k, mode, neg, after = after),
          Some(dead)).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val all = run(QueryEngine.All, None).sortBy { case (id, s) => (-s, id) }
      // tombstones leave the stats and the surviving scores as they are
      assert(all === OracleScorer.topK(corpusLocal, terms, QueryEngine.All, mode, neg).filterNot(h => dead.contains(h._1)))
      val pages = Iterator.iterate(run(10, None))(p => if (p.isEmpty) p else run(10, Some((p.last._2, p.last._1))))
        .take(4).toSeq
      assert(pages.flatten === all.take(pages.flatten.size), s"terms=$terms mode=$mode neg=$neg")
      assert(pages.flatten.size === math.min(40, all.size), s"terms=$terms mode=$mode neg=$neg")
    }
  }

  test("explain: per-term components sum to the exact topK score") {
    val hits = engineTopK(Seq("public", "import", "class"), 5)
    for ((docId, score) <- hits) {
      val parts = QueryEngine.explain(spark, blocks, termstats, stats,
        Seq("public", "import", "class"), docId).collect()
      assert(parts.nonEmpty)
      var acc = 0.0d
      parts.foreach(r => acc += r.getFloat(8).toDouble) // ti-ordered
      assert(acc.toFloat === score, s"doc $docId")
    }
  }

  test("per-row invariant: docstats sha256 == sha256 of source content") {
    val ds = IndexBuilder.docStats(spark, withIds)
    val src = withIds.select($"docId", sha2($"content", 256).as("srcSha"))
    val joined = ds.toDF().join(src, "docId")
    assert(joined.filter($"contentSha256" =!= $"srcSha").count() === 0)
    assert(joined.count() === N.toLong)
  }

  test("termstats from blocks equal direct aggregation") {
    val direct = IndexBuilder.invert(spark, withIds)
      .groupBy("term").agg(count("*").as("df2"), sum("tf").as("ttf2"))
    val j = termstats.join(direct, "term")
    assert(j.filter($"df" =!= $"df2" || $"ttf" =!= $"ttf2").count() === 0)
    assert(termstats.count() === direct.count())
  }

  test("phrase match finds consecutive terms") {
    val pos = IndexBuilder.invertPositions(spark, withIds)
    // phrase from a known doc: take first two tokens of doc 0's content
    val toks = graft.analysis.Analyzer.terms(corpusLocal.head.content).take(2)
    val got = QueryEngine.phraseMatch(pos, toks).collect().map(_.getLong(0)).toSet
    val expect = corpusLocal.filter { d =>
      graft.analysis.Analyzer.terms(d.content).sliding(2).exists(_.toSeq == toks)
    }.map(_.docId).toSet
    assert(got === expect)
    assert(got.contains(0L))
  }
}

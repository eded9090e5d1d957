package graft.query

import graft.SparkSpec
import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexStore}
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** Query-string parser + execution: AST shapes, score identity with the
  * hand-built engine paths, and composed boolean behavior. */
class SearcherSpec extends SparkSpec {
  import QueryParser._

  lazy val (dir, idx) = {
    val d = Files.createTempDirectory("graft-search").toString
    val withIds = DocIds.assign(CorpusGen.corpus(spark, 300, 4).toDF(),
      Seq("repo", "path", "commit"), 4)
    IndexStore.build(spark, withIds, d, numSegments = 2, shufflePartitions = 4,
      withPositions = true)
    (d, IndexStore.OpenIndex(spark, d))
  }

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Float)] =
    df.collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq

  test("parser: AST shapes") {
    assert(parse("spark") === TermQ("spark"))
    assert(parse("Spark Query") === BoolQ(Nil, Seq(TermQ("spark"), TermQ("query")), Nil))
    assert(parse("+a +b -c") === BoolQ(Seq(TermQ("a"), TermQ("b")), Nil, Seq(TermQ("c"))))
    assert(parse("a AND b") === BoolQ(Seq(TermQ("a"), TermQ("b")), Nil, Nil))
    assert(parse("a OR b") === BoolQ(Nil, Seq(TermQ("a"), TermQ("b")), Nil))
    assert(parse("a AND NOT b") === BoolQ(Seq(TermQ("a")), Nil, Seq(TermQ("b"))))
    assert(parse("\"a b c\"") === PhraseQ(Seq("a", "b", "c"), 0))
    assert(parse("\"a b\"~3") === PhraseQ(Seq("a", "b"), 3))
    assert(parse("pre*") === PrefixQ("pre"))
    assert(parse("w?ld*") === WildcardQ("w?ld*"))
    assert(parse("fuzzy~1") === FuzzyQ("fuzzy", 1))
    assert(parse("fuzzy~") === FuzzyQ("fuzzy", 2))
    assert(parse("[aa TO bb]") === RangeQ("aa", "bb", inclusive = true))
    assert(parse("{aa TO bb}") === RangeQ("aa", "bb", inclusive = false))
    assert(parse("content:spark") === FieldQ("content", TermQ("spark")))
    assert(parse("path:handler*") === FieldQ("path", PrefixQ("handler")))
    assert(parse("spark^2") === BoostQ(2f, TermQ("spark")))
    assert(parse("\"a b\"^0.5") === BoostQ(0.5f, PhraseQ(Seq("a", "b"), 0)))
    assert(parse("(a OR b)^3") === BoostQ(3f, BoolQ(Nil, Seq(TermQ("a"), TermQ("b")), Nil)))
    intercept[ParseException](parse("a^"))
    assert(parse("(a OR b) AND c") ===
      BoolQ(Seq(BoolQ(Nil, Seq(TermQ("a"), TermQ("b")), Nil), TermQ("c")), Nil, Nil))
    intercept[ParseException](parse(""))
    intercept[ParseException](parse("(a"))
    intercept[ParseException](parse("\"unterminated"))
    intercept[ParseException](parse("AND a"))
  }

  test("pure-term query strings score bit-identically to the topK engine path") {
    val or = hits(idx.search("public import class", 25))
    val orEngine = hits(idx.topK(Seq("public", "import", "class"), 25))
    assert(or === orEngine)
    val and = hits(idx.search("import AND handler3", 25))
    val andEngine = hits(idx.topK(Seq("import", "handler3"), 25, QueryEngine.And))
    assert(and === andEngine)
    val not = hits(idx.search("class -uniq_1_0", 1000))
    val notEngine = hits(idx.topK(Seq("class"), 1000, QueryEngine.Or, mustNot = Seq("uniq_1_0")))
    assert(not === notEngine)
  }

  test("phrase leaf: BM25 on phrase freq, docId set equals positions phraseMatch") {
    // pick a real bigram from doc 0's content
    val c0 = (0L until 300L).map(CorpusGen.genFile(_)).sortBy(f => (f.repo, f.path, f.commit)).head
    val toks = graft.analysis.Analyzer.terms(c0.content).take(2)
    val got = hits(idx.search(s""""${toks.mkString(" ")}"""", 10000))
    val wantDocs = idx.phrase(toks).collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet === wantDocs)
    assert(got.nonEmpty && got.forall(_._2 > 0f))
    // scores are descending with docId tie-break
    assert(got === got.sortBy { case (id, s) => (-s, id) })
  }

  test("sloppy phrase leaf: doc set equals TextOps.sloppyPhraseMatch, repeated terms included") {
    // a small-vocabulary corpus both tokenizers split alike, dense enough
    // that every phrase below matches some docs and misses others
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps")
    val rng = new scala.util.Random(7)
    val texts = (0 until 80).map(_ => Seq.fill(6 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    val d = Files.createTempDirectory("graft-sloppy").toString
    val corpus = spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("docId", "content")
    IndexStore.build(spark, corpus, d, numSegments = 2, shufflePartitions = 2, withPositions = true)
    val sIdx = IndexStore.OpenIndex(spark, d)
    val docs = corpus.withColumnRenamed("docId", "doc_id").withColumnRenamed("content", "text")
    for ((phrase, slop) <- Seq((Seq("alpha", "beta", "gamma"), 1), (Seq("alpha", "beta", "gamma"), 3),
                               (Seq("gamma", "alpha"), 2), (Seq("alpha", "beta", "alpha"), 2),
                               (Seq("delta", "delta"), 1), (Seq("beta", "eps", "beta", "eps"), 4))) {
      val got = hits(sIdx.search(s""""${phrase.mkString(" ")}"~$slop""", 100000))
      val want = graft.operators.TextOps.sloppyPhraseMatch(docs, "doc_id", "text", phrase, slop)
        .collect().map(_.getLong(0)).toSet
      assert(got.map(_._1).toSet === want, s"$phrase~$slop")
      assert(want.nonEmpty && want.size < texts.size, s"vacuous: $phrase~$slop matched ${want.size}")
      assert(got.forall(_._2 === 1f))
    }
  }

  test("multiterm leaves: constant score, sets equal the dictionary paths") {
    val prefix = hits(idx.search("handler*", 100000))
    val wantPrefix = idx.run(QueryEngine.Request(QueryEngine.Expanded(col("term").startsWith("handler")), 100000))
      .collect().map(_.getLong(0)).toSet
    assert(prefix.map(_._1).toSet === wantPrefix)
    assert(prefix.forall(_._2 === 1f))

    val range = hits(idx.search("[handler0 TO handler4]", 100000))
    val wantRange = idx.run(QueryEngine.Request(
      QueryEngine.Expanded(col("term") >= "handler0" && col("term") <= "handler4"), 100000))
      .collect().map(_.getLong(0)).toSet
    assert(range.map(_._1).toSet === wantRange)

    val fuzzy = hits(idx.search("import~1", 100000))
    val wantFuzzy = idx.run(QueryEngine.Request(QueryEngine.Expanded(
      org.apache.spark.sql.functions.levenshtein(col("term"),
        org.apache.spark.sql.functions.lit("import")) <= 1), 100000))
      .collect().map(_.getLong(0)).toSet
    assert(fuzzy.map(_._1).toSet === wantFuzzy)
  }

  test("composed boolean: grouping, required phrase, negation") {
    val q = "+(public OR import) -handler3"
    val got = hits(idx.search(q, 100000)).map(_._1).toSet
    val pub = idx.topK(Seq("public", "import"), 100000).collect().map(_.getLong(0)).toSet
    val h3 = idx.topK(Seq("handler3"), 100000).collect().map(_.getLong(0)).toSet
    assert(got === pub.diff(h3))

    // required term + should term: matching set gated by the must only;
    // should adds score when present
    val mixed = hits(idx.search("+handler3 public", 100000))
    val h3Scores = hits(idx.topK(Seq("handler3"), 100000)).toMap
    assert(mixed.map(_._1).toSet === h3.intersect(h3Scores.keySet))
    val pubScores = hits(idx.topK(Seq("public"), 100000)).toMap
    mixed.foreach { case (id, s) =>
      val want = (h3Scores(id).toDouble + pubScores.getOrElse(id, 0f).toDouble).toFloat
      assert(s === want, s"doc $id")
    }
  }

  test("boolean arithmetic: (float)((m0 + m1) + (s0 + s1)) in double, clause order, bit for bit") {
    // every doc's per-term engine score, the leaves' frames
    def scores(t: String): Map[Long, Float] = hits(idx.topK(Seq(t), 100000)).toMap
    val Seq(pub, imp, sta, voi, ret, cls, h3) =
      Seq("public", "import", "static", "void", "return", "class", "handler3").map(scores)
    def bits(hs: Seq[(Long, Float)]) = hs.map { case (d, s) => (d, java.lang.Float.floatToRawIntBits(s)) }
    // Searcher's formula over clause score maps: a doc in every must and no
    // mustNot; the must sum and the should sum each run in clause order as
    // double from 0.0, then add and cast
    def boolean(must: Seq[Map[Long, Float]], should: Seq[Map[Long, Float]],
                mustNot: Seq[Map[Long, Float]]): Seq[(Long, Float)] = {
      val docs = (if (must.nonEmpty) must.map(_.keySet).reduce(_ intersect _)
                  else should.map(_.keySet).reduce(_ union _)) -- mustNot.flatMap(_.keySet)
      docs.toSeq.map { d =>
        val m = must.foldLeft(0.0)(_ + _(d).toDouble)
        val s = should.foldLeft(0.0)((acc, c) => c.get(d).fold(acc)(acc + _.toDouble))
        d -> (m + s).toFloat
      }.sortBy { case (d, s) => (-s, d) }
    }
    def check(q: String, want: Seq[(Long, Float)]): Unit = {
      assert(want.nonEmpty, q)
      assert(bits(hits(idx.search(q, 100000))) === bits(want), q)
    }
    check("+public +import static void -handler3", boolean(Seq(pub, imp), Seq(sta, voi), Seq(h3)))
    // a nested should-only boolean is one must part: (float)(0.0 + s + v)
    val sv = (sta.keySet ++ voi.keySet).map(d =>
      d -> (sta.get(d).fold(0.0)(_.toDouble) + voi.get(d).fold(0.0)(_.toDouble)).toFloat).toMap
    check("+(static void) +public return", boolean(Seq(sv, pub), Seq(ret), Nil))
    // a boosted must clause: the leaf's float score times the float boost
    check("+public^2 +import class", boolean(Seq(pub.map { case (d, s) => d -> s * 2f }, imp), Seq(cls), Nil))
  }

  test("maxScore: rewrite shape and dismax score arithmetic over should clauses") {
    import Searcher.maxScoreRewrite
    // reference MaxScoreQParser.parse: SHOULD clauses -> one dismax; must/
    // mustNot pass through; boost re-wraps; non-boolean unchanged
    assert(maxScoreRewrite(parse("+a b c -d"), 0.3f) ===
      BoolQ(Seq(TermQ("a")), Seq(DisMaxQ(Seq(TermQ("b"), TermQ("c")), 0.3f)), Seq(TermQ("d"))))
    assert(maxScoreRewrite(parse("(a b)^2"), 0f) ===
      BoostQ(2f, BoolQ(Nil, Seq(DisMaxQ(Seq(TermQ("a"), TermQ("b")), 0f)), Nil)))
    assert(maxScoreRewrite(parse("spark"), 0.5f) === TermQ("spark"))
    assert(maxScoreRewrite(parse("+a +b"), 0.5f) ===
      BoolQ(Seq(TermQ("a"), TermQ("b")), Nil, Nil))

    // score: must sum + (max + tie*(sum-max)) over the should terms
    val tie = 0.25f
    val got = hits(Searcher.searchMaxScore(idx, "+handler3 public import", 100000))
    val h3 = hits(idx.topK(Seq("handler3"), 100000)).toMap
    val pub = hits(idx.topK(Seq("public"), 100000)).toMap
    val imp = hits(idx.topK(Seq("import"), 100000)).toMap
    val got2 = hits(Searcher.searchMaxScore(idx, "+handler3 public import", 100000, tie))
    assert(got.map(_._1).toSet === h3.keySet)
    got2.foreach { case (id, s) =>
      val ss = Seq(pub.get(id), imp.get(id)).flatten.map(_.toDouble)
      val dismax =
        if (ss.isEmpty) 0.0
        else (ss.max + tie.toDouble * (ss.sum - ss.max)).toFloat.toDouble
      val want = (h3(id).toDouble + dismax).toFloat
      assert(s === want, s"doc $id")
    }
    // tie=0: strictly the best optional clause
    got.foreach { case (id, s) =>
      val best = Seq(pub.getOrElse(id, 0f), imp.getOrElse(id, 0f)).max
      assert(s === (h3(id).toDouble + best.toDouble).toFloat, s"doc $id")
    }
  }

  test("dismax over >= 3 clauses scores bit-for-bit like the planner's tieBreaker request") {
    val terms = Seq("public", "import", "class", "handler3")
    val tie = 0.3f
    val all = QueryEngine.All
    val want = hits(idx.run(QueryEngine.Request(QueryEngine.Terms(terms), all, tieBreaker = Some(tie)))).toMap
    assert(want.size > 10)
    val maxScore = hits(Searcher.searchMaxScore(idx, terms.mkString(" "), all, tie))
    assert(maxScore.toMap === want)
    val xml = hits(Searcher.searchXml(idx,
      s"""<DisjunctionMaxQuery tieBreaker="$tie">${terms.take(3).map(t => s"<TermQuery>$t</TermQuery>").mkString}</DisjunctionMaxQuery>""", all))
    assert(xml.toMap ===
      hits(idx.run(QueryEngine.Request(QueryEngine.Terms(terms.take(3)), all, tieBreaker = Some(tie)))).toMap)
  }

  test("searchFielded with every field on one index equals search for Boost, DisMax and Const") {
    val idxs = Map("content" -> idx, "path" -> idx)
    val asts = Seq(
      BoostQ(2f, BoolQ(Nil, Seq(TermQ("public"), FieldQ("path", TermQ("import"))), Nil)),
      DisMaxQ(Seq(TermQ("public"), FieldQ("path", TermQ("import")), TermQ("class")), 0.2f),
      ConstQ(BoolQ(Seq(FieldQ("path", PrefixQ("handler"))), Seq(TermQ("public")), Nil)))
    for (ast <- asts) {
      val got = hits(Searcher.searchFieldedAst(idxs, "content", ast, 100000))
      val want = hits(idx.run(QueryEngine.Request(QueryEngine.Scored(Searcher.eval(idx, ast)), 100000)))
      assert(got.nonEmpty && got === want, ast)
    }
  }

  test("graphTerms: super-node terms dropped by the df cap") {
    // 'public' appears in ~every doc; 'handler3' in ~1/8 of docs
    val dfs = QueryEngine.lookupDfs(idx.termstats, Seq("public", "handler3"), None)
    val cap = (dfs("handler3") + dfs("public")) / 2
    val got = hits(Searcher.graphTerms(idx, Seq("public", "handler3"), cap))
    val h3 = idx.topK(Seq("handler3"), 100000).collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet === h3)
    assert(got.forall(_._2 === 1f)) // constant score
    // cap above every df: plain term-set union
    val all = hits(Searcher.graphTerms(idx, Seq("public", "handler3"), Long.MaxValue))
    val union = idx.topK(Seq("public", "handler3"), 100000).collect().map(_.getLong(0)).toSet
    assert(all.map(_._1).toSet === union)
    // every term over the cap: empty
    assert(Searcher.graphTerms(idx, Seq("public"), 1).isEmpty)
  }

  test("commonTerms: df split makes high-df terms optional, low-df required") {
    // 'public' is the mega term (df ~ every doc); 'uniq_5_0' is a singleton.
    // cutoff 0.5: public -> high/optional, uniq_5_0 -> low/required
    val got = hits(Searcher.commonTerms(idx, Seq("uniq_5_0", "public"), 1000, 0.5))
    val want = hits(idx.search("+uniq_5_0 public", 1000))
    assert(got === want)
    assert(got.nonEmpty)
    val uniqDocs = hits(idx.topK(Seq("uniq_5_0"), 1000)).map(_._1).toSet
    assert(got.map(_._1).toSet === uniqDocs) // gated by the rare term only
    // cutoff above every df: nothing is high-frequency -> all required
    val allReq = hits(Searcher.commonTerms(idx, Seq("import", "handler3"), 1000, 1.1))
    assert(allReq === hits(idx.search("+import +handler3", 1000)))
  }

  test("boost multiplies clause scores; boosted should-clause reorders the merge") {
    val plain = hits(idx.search("public import", 100000)).toMap
    val boosted = hits(idx.search("public^3 import", 100000)).toMap
    assert(boosted.keySet === plain.keySet)
    // every doc's boosted score = 3*public_score + import_score (floats)
    val pub = hits(idx.topK(Seq("public"), 100000)).toMap
    val imp = hits(idx.topK(Seq("import"), 100000)).toMap
    boosted.foreach { case (id, s) =>
      val want = ((pub.getOrElse(id, 0f) * 3f).toDouble + imp.getOrElse(id, 0f).toDouble).toFloat
      assert(s === want, s"doc $id")
    }
  }

  test("moreLikeThis: interesting-terms query ranks the source doc first; exclusion removes it") {
    val c0 = (0L until 300L).map(CorpusGen.genFile(_))
      .sortBy(f => (f.repo, f.path, f.commit)).head.content
    val mlt = hits(idx.moreLikeThis(c0, 5))
    assert(mlt.nonEmpty)
    assert(mlt.head._1 === 0L, s"self-similarity must rank doc 0 first: $mlt")
    val mltEx = hits(idx.moreLikeThis(c0, 5, excludeDocId = 0L))
    assert(!mltEx.map(_._1).contains(0L))
    // exclusion only removes the source doc; the other ranks are unchanged
    assert(mltEx.take(4) === mlt.filterNot(_._1 == 0L).take(4))
  }

  test("search excludes tombstones before the limit") {
    val out = Files.createTempDirectory("graft-search-del").toString
    val withIds = DocIds.assign(CorpusGen.corpus(spark, 120, 3).toDF(),
      Seq("repo", "path", "commit"), 3)
    IndexStore.build(spark, withIds, out, numSegments = 1, shufflePartitions = 3)
    val idx0 = IndexStore.OpenIndex(spark, out)
    val before = hits(idx0.search("public import", 6))
    IndexStore.delete(spark, out, before.take(2).map(_._1))
    val after = hits(IndexStore.OpenIndex(spark, out).search("public import", 6))
    assert(after.size === 6)
    assert(after.map(_._1).toSet.intersect(before.take(2).map(_._1).toSet).isEmpty)
    assert(after === hits(idx0.search("public import", 100000))
      .filterNot(h => before.take(2).map(_._1).contains(h._1)).take(6))
  }

  test("complex phrase: slot parsing and engine execution vs brute force") {
    // parse shapes
    assert(parseComplexPhrase("(a b) jo* word~1 plain") == Seq(
      GroupSlot(Seq("a", "b")), WildcardSlot("jo*"),
      FuzzySlot("word", 1), TermSlot("plain")))
    intercept[ParseException](parseComplexPhrase("(a b"))
    intercept[ParseException](parseComplexPhrase("   "))

    // engine: "(public private) stat*" == brute-force adjacency over the corpus
    val got = idx.complexPhrase("(public private) stat*")
      .collect().map(_.getLong(0)).toSet
    val docs = (0L until 300L).map(i => CorpusGen.genFile(i))
      .sortBy(f => (f.repo, f.path, f.commit)).zipWithIndex
      .map { case (f, i) => (i.toLong, graft.analysis.Analyzer.terms(f.content)) }
    val want = docs.filter { case (_, toks) =>
      toks.sliding(2).exists(p => p.length == 2 &&
        Set("public", "private")(p(0)) && p(1).startsWith("stat"))
    }.map(_._1).toSet
    assert(got == want, s"diff=${(got diff want) ++ (want diff got)}")
    assert(got.nonEmpty, "vacuous complex phrase test")

    // a slot with zero dictionary matches => empty result, not an error
    assert(idx.complexPhrase("public zzzznope*").count() == 0)
  }
}

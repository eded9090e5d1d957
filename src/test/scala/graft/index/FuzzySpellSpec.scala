package graft.index

import graft.SparkSpec
import graft.corpus.CorpusGen
import org.apache.spark.sql.functions._

/** Gram-pruned fuzzy/spell: result identity vs the full-vocabulary
  * levenshtein scan, plus the pruning claim itself (candidate set is a
  * small fraction of the dictionary). */
class FuzzySpellSpec extends SparkSpec {
  import spark.implicits._

  private lazy val idx: IndexStore.OpenIndex = {
    val dir = "target/test-fuzzyspell-idx"
    graft.util.Fs.rmTree(dir)
    IndexStore.build(spark, CorpusGen.corpusWithIds(spark, 800, 4), dir,
      numSegments = 1, shufflePartitions = 8)
    IndexStore.OpenIndex(spark, dir)
  }

  private def fullScanNeighborhood(word: String, maxEdits: Int): Set[String] =
    idx.termstats.filter(levenshtein(col("term"), lit(word)) <= maxEdits)
      .select("term").as[String].collect().toSet

  test("fuzzyCandidates is a superset of the true neighborhood and << vocab") {
    val vocab = idx.termstats.count()
    assert(vocab > 10000, s"need a real vocabulary, got $vocab")
    for ((w, e) <- Seq(("pubic", 1), ("pubic", 2), ("handler", 1), ("mergepolicy", 2))) {
      val cand = idx.fuzzyCandidates(w, e).select("term").as[String].collect().toSet
      val truth = fullScanNeighborhood(w, e)
      assert(truth.subsetOf(cand), s"pruned a true neighbor of $w~$e: ${truth -- cand}")
      assert(cand.size < vocab / 10,
        s"candidates for $w~$e not pruned: ${cand.size} of $vocab dictionary terms")
    }
  }

  test("spellCorrect over pruned candidates == full-scan ranking") {
    for ((w, e) <- Seq(("pubic", 1), ("pubic", 2), ("improt", 2))) {
      val got = idx.spellCorrect(w, e, 10)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      val dist = levenshtein(col("term"), lit(w))
      val want = idx.termstats.filter(dist <= e && col("term") =!= w)
        .withColumn("dist", dist.cast("int"))
        .orderBy(asc("dist"), desc("df"), asc("term")).limit(10)
        .select(col("term"), col("dist"), col("df"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      assert(got === want, s"$w~$e")
    }
  }

  test("fuzzyExpand == full-scan expansion, df-ranked") {
    val got = idx.fuzzyExpand("pubic", 2)
    val want = idx.termstats.filter(levenshtein(col("term"), lit("pubic")) <= 2)
      .orderBy(desc("df"), asc("term")).limit(graft.query.QueryEngine.MaxClauseCount)
      .select("term").as[String].collect().toSeq
    assert(got === want)
    assert(got.contains("public"))
  }

  test("short words fall back to length-pruned scan, still correct") {
    // "at"~2: gram threshold is negative, must not miss 1-4 char terms
    val cand = idx.fuzzyCandidates("at", 2).select("term").as[String].collect().toSet
    val truth = fullScanNeighborhood("at", 2)
    assert(truth.subsetOf(cand))
  }

  test("searcher fuzzy leaf matches the same docs as before") {
    // doc set of pubic~1 == doc set of the terms within distance 1
    val viaSearch = idx.search("pubic~1", 1000000)
      .select("docId").as[Long].collect().toSet
    val terms = fullScanNeighborhood("pubic", 1).toSeq
    val viaTerms = graft.query.QueryEngine.matchingDocs(spark, idx.blocks, terms)
      .as[Long].collect().toSet
    assert(viaSearch === viaTerms)
    assert(viaSearch.nonEmpty)
  }

  test("wordBreak splits run-together words into dictionary parts; ranked by breaks then freq") {
    // 'publicstatic' is not a term; 'public' and 'static' are hot
    val got = idx.wordBreak("publicstatic", 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    assert(got.head._1 === "public static" && got.head._2 === 1)
    // every suggestion's parts are dictionary terms with the claimed freq sum
    val vocab = idx.termstats.select("term", "df").as[(String, Long)].collect().toMap
    got.foreach { case (s, breaks, freq) =>
      val parts = s.split(" ").toSeq
      assert(parts.size === breaks + 1)
      assert(parts.forall(vocab.contains), s"non-dictionary part in '$s'")
      assert(freq === parts.map(vocab).sum)
    }
    // maxChanges bounds the recursion; an unbreakable word yields nothing
    assert(idx.wordBreak("zzqqxxy", 5).collect().isEmpty)
    // minLen guards single-char shrapnel: with minLen=4 no 1-char parts
    idx.wordBreak("publicstatic", 5, maxChanges = 2, minLen = 4).collect()
      .foreach(r => assert(r.getString(0).split(" ").forall(_.length >= 4)))
  }

  test("combineWords joins adjacent words whose concatenation is a dictionary term") {
    // 'merge' + 'policy' -> 'mergepolicy' exists in the corpus vocabulary
    val got = idx.combineWords(Seq("merge", "policy", "zzz"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) === Seq((0, 1, "mergepolicy")))
    assert(got.head._4 >= 1L)
    // no candidate -> empty, never an error
    assert(idx.combineWords(Seq("zz", "qq")).collect().isEmpty)
    assert(idx.combineWords(Seq("alone")).collect().isEmpty)
  }

  test("suggestFuzzy == brute-force prefix-OSA neighborhood ranking") {
    // local OSA (optimal string alignment — DL without substring swaps)
    def osa(a: String, b: String): Int = {
      val d = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 0 to a.length) d(i)(0) = i
      for (j <- 0 to b.length) d(0)(j) = j
      for (i <- 1 to a.length; j <- 1 to b.length) {
        val c = if (a(i - 1) == b(j - 1)) 0 else 1
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + c)
        if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
          d(i)(j) = math.min(d(i)(j), d(i - 2)(j - 2) + 1)
      }
      d(a.length)(b.length)
    }
    val dict = idx.termstats.select("term", "df").as[(String, Long)].collect()
    for (q <- Seq("pubic", "improt", "hanlder")) {
      val want = dict.flatMap { case (t, df) =>
        // best prefix distance: prefixes of t with length within ±1 of |q|
        val ds = (q.length - 1 to q.length + 1)
          .filter(l => l >= 1 && l <= t.length).map(l => osa(t.substring(0, l), q))
        if (t.startsWith(q.take(1)) && t.length >= q.length - 1 && ds.nonEmpty && ds.min <= 1)
          Some((t, ds.min, df)) else None
      }.sortBy { case (t, _, df) => (-df, t) }.take(10).toSeq
      val got = idx.suggestFuzzy(q, 10)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      assert(got == want, s"q=$q\ngot=$got\nwant=$want")
      assert(got.nonEmpty, s"vacuous for $q")
    }
    // short queries fall back to exact prefix (minFuzzyLength)
    val short = idx.suggestFuzzy("pu", 5).collect().map(_.getString(0))
    assert(short.forall(_.startsWith("pu")))
  }
}

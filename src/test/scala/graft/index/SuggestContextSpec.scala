package graft.index

import graft.SparkSpec
import graft.query.QueryEngine
import org.apache.spark.sql.functions.col

/** Context-filtered completions (reference lucene/suggest document/
  * ContextQuery.java): within-context dfs, per-context boosts, and docs
  * outside the context set contributing nothing. */
class SuggestContextSpec extends SparkSpec {
  import spark.implicits._

  private lazy val idx: IndexStore.OpenIndex = {
    val dir = "target/test-suggestctx-idx"
    graft.util.Fs.rmTree(dir)
    val docs = Seq(
      (0L, "sun sand surf", "travel"),
      (1L, "sun sun settles", "news"),     // repeated token: df counts docs, not occurrences
      (2L, "sand storms", "news"),
      (3L, "sunny sand", "sports"),        // outside the queried contexts
      (4L, "moon rise", "travel")
    ).toDF("docId", "content", "cat")
    IndexStore.build(spark, docs, dir, numSegments = 1, shufflePartitions = 4,
      docValueCols = Seq("cat"))
    IndexStore.OpenIndex(spark, dir)
  }

  test("boost-weighted within-context df; outside-context docs excluded") {
    val got = idx.suggestWithContexts("s", 10, "cat", Map("travel" -> 2f, "news" -> 1f))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // sun: travel d0 (2.0) + news d1 (1.0) = 3.0 — d1's double 'sun' counts once
    assert(got("sun") == 3.0)
    // sand: travel d0 (2.0) + news d2 (1.0) = 3.0; sunny: only d3 (sports) -> absent
    assert(got("sand") == 3.0)
    assert(!got.contains("sunny"))
    assert(got("settles") == 1.0)
    assert(got("storms") == 1.0)
    assert(got("surf") == 2.0)
    assert(got.size == 5)
  }

  test("multiTermScoredTopK: scoring rewrite == explicit BM25 topK of the expansion") {
    val expanded = Seq("sand", "settles", "storms", "sun", "sunny", "surf")
    val got = idx.multiTermScoredTopK(col("term").startsWith("s"), 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val explicit = idx.topK(expanded, 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(got == explicit && got.nonEmpty)
    // constant-score twin returns the same doc set but flat scores
    val const = idx.run(QueryEngine.Request(QueryEngine.Expanded(col("term").startsWith("s")), 10))
      .collect().map(_.getLong(0)).toSet
    assert(const == got.map(_._1).toSet)
    assert(idx.multiTermScoredTopK(col("term").startsWith("zz"), 10).collect().isEmpty)
  }

  test("three or more contexts build the per-context boost branch correctly") {
    // regression: the boost column used to be assembled with
    // reduce(_.otherwise(_)), which throws for 3+ contexts.
    val got = idx.suggestWithContexts("s", 10, "cat",
      Map("travel" -> 2f, "news" -> 1f, "sports" -> 4f))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // sunny: only d3 (sports) -> 4.0; sand: d0 travel 2 + d2 news 1 + d3 sports 4 = 7
    assert(got("sunny") == 4.0)
    assert(got("sand") == 7.0)
    assert(got("sun") == 3.0)
  }

  test("prefix with no dictionary terms returns empty; k bounds the result") {
    assert(idx.suggestWithContexts("zz", 10, "cat", Map("news" -> 1f)).collect().isEmpty)
    val one = idx.suggestWithContexts("s", 1, "cat", Map("news" -> 1f, "travel" -> 1f))
      .collect()
    assert(one.length == 1)
    // tie on score (sun=2.0 sand=2.0 at equal boosts): term ASC wins
    assert(one.head.getString(0) == "sand")
  }

  test("blended infix: position coefficient blenders + MUST eligibility") {
    val dir = "target/test-blended-infix"
    graft.util.Fs.rmTree(dir)
    val docs = Seq(
      (0L, "joke about query engines"),    // jo* at pos 0, query at 2
      (1L, "the query is a joke"),         // query at 1, jo* at 4 -> min pos 1
      (2L, "query without prefix match"),  // no jo* token: ineligible
      (3L, "jolly words only")             // jo* but no 'query': ineligible
    ).toDF("docId", "content")
    IndexStore.build(spark, docs, dir, numSegments = 1, shufflePartitions = 4,
      withPositions = true)
    val idx2 = IndexStore.OpenIndex(spark, dir)
    def got(blender: String, exp: Double = 2.0): Map[Long, (Long, Double)] =
      idx2.suggestBlendedInfix("query jo", 10, blender, exp)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val lin = got("linear")
    assert(lin.keySet == Set(0L, 1L))
    assert(lin(0L) == ((0L, 1.0)))            // earliest matched pos 0
    assert(lin(1L) == ((1L, 1.0 - 0.10)))     // 1 - 0.10*1
    val rec = got("reciprocal")
    assert(rec(1L)._2 == 0.5)                 // 1/(1+1)
    val er = got("exponential_reciprocal", 3.0)
    assert(math.abs(er(1L)._2 - 1.0 / 8) < 1e-12) // 1/(1+1)^3
    intercept[IllegalArgumentException](got("nope"))
  }
}

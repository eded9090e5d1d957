package graft.index

import graft.SparkSpec
import graft.corpus.CorpusGen
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** IndexWriter.addIndexes: imported segments rebase doc ids past the
  * destination's maxDoc and the merged index is BIT-IDENTICAL to one
  * built from the concatenated corpus — queries, phrases, deletes. */
class AddIndexesSpec extends SparkSpec {
  import spark.implicits._

  private def corpusSlice(n: Int, seed: Long): Seq[(Long, String)] =
    (0L until n.toLong).map { i =>
      val f = CorpusGen.genFile(i + seed)
      (i, f.content)
    }

  test("merged index == union-corpus index: term, AND, and phrase queries bit-identical") {
    val a = corpusSlice(120, 0)
    val b = corpusSlice(90, 5000)
    val dirA = Files.createTempDirectory("graft-addA").toString
    val dirB = Files.createTempDirectory("graft-addB").toString
    val dirU = Files.createTempDirectory("graft-addU").toString

    IndexStore.build(spark, a.toDF("docId", "content"), dirA,
      numSegments = 2, shufflePartitions = 4, withPositions = true)
    IndexStore.build(spark, b.toDF("docId", "content"), dirB,
      numSegments = 2, shufflePartitions = 4, withPositions = true)
    // union corpus with EXACTLY the post-rebase ids (B shifted past A)
    val union = (a ++ b.map { case (id, c) => (id + 120L, c) }).toDF("docId", "content")
    IndexStore.build(spark, union, dirU,
      numSegments = 3, shufflePartitions = 4, withPositions = true)

    val imported = IndexStore.addIndexes(spark, dirA, dirB)
    assert(imported == 2)
    val merged = IndexStore.OpenIndex(spark, dirA)
    val oracle = IndexStore.OpenIndex(spark, dirU)
    assert(merged.stats == oracle.stats) // docCount + sumTotalTermFreq merge

    def hits(idx: IndexStore.OpenIndex, terms: Seq[String],
             mode: graft.query.QueryEngine.Mode): Seq[(Long, Float)] =
      idx.topK(terms, 50, mode).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    import graft.query.QueryEngine.{And, Or}
    assert(hits(merged, Seq("public"), Or) == hits(oracle, Seq("public"), Or))
    assert(hits(merged, Seq("public", "import"), And) == hits(oracle, Seq("public", "import"), And))
    assert(hits(merged, Seq("public", "static", "void"), Or) ==
      hits(oracle, Seq("public", "static", "void"), Or))
    // the phrase tier rebased too
    val pm = merged.phrase(Seq("public", "static")).collect()
      .map(_.getLong(0)).toSet
    val po = oracle.phrase(Seq("public", "static")).collect()
      .map(_.getLong(0)).toSet
    assert(pm == po && pm.nonEmpty)

    // deletes carry over rebased: tombstone a doc in B's id space first
    graft.util.Fs.rmTree(dirA); graft.util.Fs.rmTree(dirB); graft.util.Fs.rmTree(dirU)
  }

  test("splitSegments: chosen segments become a standalone index scoring with its OWN stats") {
    val docs = corpusSlice(160, 0)
    val dirS = Files.createTempDirectory("graft-split-src").toString
    val dirD = Files.createTempDirectory("graft-split-dst").toString
    IndexStore.build(spark, docs.toDF("docId", "content"), dirS,
      numSegments = 4, shufflePartitions = 4)
    // tombstone one doc inside seg 1's range [40,80), one outside it, and
    // seg 2's first doc (80: seg 1's exclusive docHi)
    IndexStore.delete(spark, dirS, Seq(50L, 130L, 80L))
    IndexStore.splitSegments(spark, dirS, dirD, Seq(1))
    val split = IndexStore.OpenIndex(spark, dirD)
    val full = IndexStore.OpenIndex(spark, dirS)
    // split contains exactly seg 1's doc range
    val m = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dirD/segments/seg=1/MANIFEST.json"))
    def f(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(m).get.group(1).toLong
    val (lo, hi) = (f("docLo"), f("docHi"))
    assert(split.stats.docCount == f("docCount"))
    assert(split.stats.docCount < full.stats.docCount)
    // only in-range tombstones carried over
    val dead = split.tombstones.get.toArray.toSet
    assert(dead.forall(d => d >= lo && d <= hi) && dead.nonEmpty)
    assert(!dead.contains(80L))
    // split scores with its own (smaller) collection stats: a term's df
    // in the split ≤ its df in the full index, and queries run green
    val hits = split.topK(Seq("public"), 10).collect()
    assert(hits.nonEmpty && hits.forall(r => r.getLong(0) >= lo && r.getLong(0) <= hi))
    intercept[IllegalArgumentException](
      IndexStore.splitSegments(spark, dirS, dirD + "x", Seq(99)))
    graft.util.Fs.rmTree(dirS); graft.util.Fs.rmTree(dirD)
  }

  test("src tombstones rebase into the destination; analyzer mismatch rejected") {
    val a = corpusSlice(60, 0)
    val b = corpusSlice(40, 9000)
    val dirA = Files.createTempDirectory("graft-addA2").toString
    val dirB = Files.createTempDirectory("graft-addB2").toString
    IndexStore.build(spark, a.toDF("docId", "content"), dirA,
      numSegments = 1, shufflePartitions = 4)
    IndexStore.build(spark, b.toDF("docId", "content"), dirB,
      numSegments = 1, shufflePartitions = 4)
    // delete docId 3 in B, then import: the merged index must exclude 63
    IndexStore.delete(spark, dirB, Seq(3L))
    IndexStore.addIndexes(spark, dirA, dirB)
    val merged = IndexStore.OpenIndex(spark, dirA)
    assert(merged.tombstones.get.toArray.toSet == Set(63L))
    val ids = merged.topK(Seq("public"), 1000).collect().map(_.getLong(0)).toSet
    assert(!ids.contains(63L))

    // analyzer mismatch: a stemmed source must be rejected
    val dirC = Files.createTempDirectory("graft-addC").toString
    IndexStore.build(spark, b.toDF("docId", "content"), dirC,
      numSegments = 1, shufflePartitions = 4,
      analyzer = graft.analysis.AnalyzerChain.english(Set("the")))
    intercept[IllegalArgumentException](IndexStore.addIndexes(spark, dirA, dirC))
    graft.util.Fs.rmTree(dirA); graft.util.Fs.rmTree(dirB); graft.util.Fs.rmTree(dirC)
  }
}

package graft.index

import graft.SparkSpec
import graft.corpus.CorpusGen
import graft.query.QueryEngine
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Segment compaction + federated HOT-tier search. */
class CompactAndHotSpec extends SparkSpec {
  import spark.implicits._

  test("compact merges all segments into one; query results are identical") {
    val dir = Files.createTempDirectory("graft-cpt").toString
    val out = Files.createTempDirectory("graft-cpt-out").toString
    val withIds = DocIds.assign(CorpusGen.corpus(spark, 300, 5).toDF(), Seq("repo", "path", "commit"), 4)
    IndexStore.build(spark, withIds, dir, numSegments = 3, shufflePartitions = 4)
    IndexStore.compact(spark, dir, out, shufflePartitions = 4)

    val a = IndexStore.OpenIndex(spark, dir)
    val b = IndexStore.OpenIndex(spark, out)
    assert(b.stats === a.stats)
    // one segment, identical termstats, identical query results + scores
    assert(IndexStore.readManifests(out).size === 1)
    val ts = a.termstats.withColumnRenamed("df", "df_a").withColumnRenamed("ttf", "ttf_a")
      .join(b.termstats, "term")
    assert(ts.filter($"df" =!= $"df_a" || $"ttf" =!= $"ttf_a").count() === 0)
    assert(a.termstats.count() === b.termstats.count())
    for (q <- Seq(Seq("public"), Seq("import", "class"), Seq("uniq_5_0"))) {
      val ra = a.topK(q, 15).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val rb = b.topK(q, 15).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(ra === rb, s"query $q")
    }
  }

  test("federated hot+main topK is score-identical to a full rebuild over the union") {
    val dirMain = Files.createTempDirectory("graft-hot-main").toString
    val dirFull = Files.createTempDirectory("graft-hot-full").toString
    val n = 250
    val all = DocIds.assign(CorpusGen.corpus(spark, n, 4).toDF(), Seq("repo", "path", "commit"), 4).cache()
    val main = all.filter($"docId" < 200)
    val late = all.filter($"docId" >= 200)

    // main index over the first 200 docs
    IndexStore.build(spark, main, dirMain, numSegments = 2, shufflePartitions = 4)
    // "hot" rows for the late arrivals, shaped like StreamOps.hotIndexSink
    val hot = IndexBuilder.invertDocs(spark, late)
      .flatMap(d => d.terms.indices.map(i => (d.terms(i), d.docId, d.tfs(i), d.normByte, d.dl)))
      .toDF("term", "docId", "tf", "normByte", "dl")

    // oracle: one index over everything
    IndexStore.build(spark, all, dirFull, numSegments = 2, shufflePartitions = 4)
    val full = IndexStore.OpenIndex(spark, dirFull)
    val idx = IndexStore.OpenIndex(spark, dirMain)

    for (q <- Seq(Seq("public"), Seq("import", "class"), Seq("uniq_220_0"), Seq("public", "uniq_201_1"))) {
      val fed = QueryEngine.run(spark, idx.blocks, idx.termstats, idx.stats,
          QueryEngine.Request(QueryEngine.WithHot(q, hot), 20))
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val want = full.topK(q, 20).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(fed === want, s"query $q")
    }

    // HOT -> WARM: seal the hot rows into a committed segment; plain topK
    // over the sealed index must equal the full-rebuild scores bit-exactly
    IndexStore.sealHot(spark, hot, dirMain, segId = 99, shufflePartitions = 4)
    val sealedIdx = IndexStore.OpenIndex(spark, dirMain)
    assert(sealedIdx.stats === full.stats)
    for (q <- Seq(Seq("public"), Seq("import", "class"), Seq("uniq_220_0"))) {
      val rs = sealedIdx.topK(q, 20).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val want = full.topK(q, 20).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(rs === want, s"sealed query $q")
    }
    // overlapping doc range is refused
    val e = intercept[IllegalArgumentException] {
      IndexStore.sealHot(spark, hot, dirMain, segId = 100, shufflePartitions = 4)
    }
    assert(e.getMessage.contains("overlaps"))
  }

  test("mixed index: phrase queries survive segments without a positions tier") {
    val dir = Files.createTempDirectory("graft-mixed-pos").toString
    val n = 120
    val all = DocIds.assign(CorpusGen.corpus(spark, n, 3).toDF(), Seq("repo", "path", "commit"), 3).cache()
    IndexStore.build(spark, all.filter($"docId" < 100), dir, numSegments = 1,
      shufflePartitions = 3, withPositions = true)
    val hot = IndexBuilder.invertDocs(spark, all.filter($"docId" >= 100))
      .flatMap(d => d.terms.indices.map(i => (d.terms(i), d.docId, d.tfs(i), d.normByte, d.dl)))
      .toDF("term", "docId", "tf", "normByte", "dl")
    IndexStore.sealHot(spark, hot, dir, segId = 7, shufflePartitions = 3)
    val idx = IndexStore.OpenIndex(spark, dir)
    // seg=7 has no positions dir; phrase must still work over seg=0
    val c0 = (0L until n.toLong).map(CorpusGen.genFile(_))
      .sortBy(f => (f.repo, f.path, f.commit)).head
    val toks = graft.analysis.Analyzer.terms(c0.content).take(2)
    val got = idx.phrase(toks).collect().map(_.getLong(0)).toSet
    assert(got.contains(0L))
    // and the sealed segment's docs are still term-searchable
    assert(idx.topK(Seq("public"), 1000000).filter($"docId" >= 100).count() > 0)
  }
}

package graft.index

import graft.SparkSpec
import graft.corpus.CorpusGen
import graft.query.{QueryEngine, Wand}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Regressions for review findings: mustNot before the limit, density
  * check holes, uncommitted-segment isolation, degenerate inputs. */
class RegressionSpec extends SparkSpec {
  import spark.implicits._

  test("mustNot before the limit: the only surviving doc is returned") {
    // doc 0 scores highest for 'foo' but contains 'bar' (excluded);
    // doc 1 is the only survivor and must be returned
    val df = Seq(
      (0L, "foo foo foo foo foo bar"),
      (1L, "foo filler filler filler filler filler filler filler filler"),
      (2L, "filler other tokens here")
    ).toDF("docId", "content")
    val blocks = IndexBuilder.packBlocks(spark, IndexBuilder.invert(spark, df), 2).cache()
    val termstats = IndexBuilder.termStats(blocks)
    val stats = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, df))
    val unpruned = QueryEngine.run(spark, blocks, termstats, stats, QueryEngine.Request(
      QueryEngine.Terms(Seq("foo")), 1, QueryEngine.Or, mustNot = Seq("bar")))
      .collect().map(_.getLong(0)).toSeq
    assert(unpruned === Seq(1L))
  }

  test("build rejects non-[0,n) docIds and empty corpora") {
    val dir = Files.createTempDirectory("graft-reg").toString
    val negIds = Seq((-1L, "a b"), (1L, "c d")).toDF("docId", "content")
    val e1 = intercept[IllegalArgumentException] {
      IndexStore.build(spark, negIds, s"$dir/neg", 2, 2)
    }
    assert(e1.getMessage.contains("dense"))
    val e2 = intercept[IllegalArgumentException] {
      IndexStore.build(spark, Seq.empty[(Long, String)].toDF("docId", "content"), s"$dir/empty", 1, 2)
    }
    assert(e2.getMessage.contains("empty"))
  }

  test("uncommitted segment data (no manifest) is invisible to readers") {
    val dir = Files.createTempDirectory("graft-uncommitted").toString
    val withIds = DocIds.assign(CorpusGen.corpus(spark, 100, 3).toDF(), Seq("repo", "path", "commit"), 3)
    IndexStore.build(spark, withIds, dir, numSegments = 2, shufflePartitions = 3)
    val before = IndexStore.OpenIndex(spark, dir)
    val docCount = before.docstats.count()
    // simulate a crashed concurrent build: partial parquet, NO manifest
    val rogue = s"$dir/segments/seg=9"
    IndexBuilder.docStats(spark, Seq((999L, "rogue doc")).toDF("docId", "content"))
      .write.parquet(s"$rogue/docstats")
    IndexBuilder.packBlocks(spark,
      IndexBuilder.invert(spark, Seq((999L, "rogue doc")).toDF("docId", "content")), 1)
      .write.parquet(s"$rogue/postings")
    assert(!Files.exists(Paths.get(s"$rogue/MANIFEST.json")))
    val after = IndexStore.OpenIndex(spark, dir)
    assert(after.docstats.count() === docCount)
    assert(after.blocks.filter(col("minDoc") === 999L).count() === 0)
    // compact must also exclude it
    val out = Files.createTempDirectory("graft-uncommitted-out").toString
    IndexStore.compact(spark, dir, out, 3)
    assert(IndexStore.OpenIndex(spark, out).docstats.count() === docCount)
  }

  test("corpus.json without sumTotalTermFreq: stats fails naming the key and the file") {
    val dir = Files.createTempDirectory("graft-corpusjson").toString
    IndexStore.build(spark, Seq((0L, "a b"), (1L, "a c")).toDF("docId", "content"), dir, 1, 2)
    val corpusJson = Paths.get(s"$dir/stats/corpus.json")
    Files.writeString(corpusJson, """{"docCount":2}""")
    val e = intercept[IllegalStateException](IndexStore.OpenIndex(spark, dir).stats)
    assert(e.getMessage.contains("\"sumTotalTermFreq\"") && e.getMessage.contains(corpusJson.toString),
      e.getMessage)
  }

  test("compact carries the positions tier") {
    val dir = Files.createTempDirectory("graft-cpos").toString
    val out = Files.createTempDirectory("graft-cpos-out").toString
    val withIds = DocIds.assign(CorpusGen.corpus(spark, 80, 3).toDF(), Seq("repo", "path", "commit"), 3)
    IndexStore.build(spark, withIds, dir, 2, 3, withPositions = true)
    IndexStore.compact(spark, dir, out, 3)
    val a = IndexStore.OpenIndex(spark, dir)
    val b = IndexStore.OpenIndex(spark, out)
    val phrase = graft.analysis.Analyzer.terms(CorpusGen.genFile(0).content).take(2)
    val pa = a.phrase(phrase).collect().map(_.getLong(0)).toSet
    val pb = b.phrase(phrase).collect().map(_.getLong(0)).toSet
    assert(pa === pb)
  }

  test("DocIds rejects duplicate keys; WAND with k=0 returns empty") {
    val dup = Seq(("r", "p", "c", "x"), ("r", "p", "c", "y")).toDF("repo", "path", "commit", "content")
    val e = intercept[IllegalArgumentException] {
      DocIds.assign(dup, Seq("repo", "path", "commit"), 2)
    }
    assert(e.getMessage.contains("not unique"))

    val df = Seq((0L, "a b"), (1L, "a c")).toDF("docId", "content")
    val blocks = IndexBuilder.packBlocks(spark, IndexBuilder.invert(spark, df), 2)
    val termstats = IndexBuilder.termStats(blocks)
    val stats = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, df))
    val infos = QueryEngine.plan(termstats, stats, Seq("a"))
    assert(Wand.topK(spark, blocks, infos, 0).count() === 0)
  }
}

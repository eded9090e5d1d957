package graft.index

import graft.SparkSpec
import graft.analysis.AnalyzerChain
import graft.corpus.CorpusGen
import java.nio.file.{Files, Paths}

/** Every path that publishes a segment — build, updateDocuments (sealHot),
  * compact, addIndexes — and splitSegments leaves an index CheckIndex finds
  * clean, and each committed segment's termstats equal a plain-Scala
  * df/ttf recount over the analyzed text of that segment's own docs. */
class CommitPathsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int, seed: Long): Seq[(Long, String)] =
    (0L until n.toLong).map(i => (i, CorpusGen.genFile(i + seed).content))

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def assertClean(dir: String): Unit = {
    val report = CheckIndex.check(spark, dir)
    assert(report.clean, report.toJson)
  }

  private def manifestLong(dir: String, seg: Int, key: String): Long = {
    val f = s"$dir/segments/seg=$seg/MANIFEST.json"
    IndexStore.jsonLong(Files.readString(Paths.get(f)), key, f)
  }

  private def segIds(dir: String): Seq[Int] =
    IndexStore.committedSegmentDirs(dir).map(d => d.substring(d.lastIndexOf('=') + 1).toInt)

  /** Each committed segment's stored termstats == df/ttf recounted from
    * `content` (docId -> text) of the docIds in that segment's docstats. */
  private def assertSegmentTermStats(dir: String, content: Map[Long, String]): Unit =
    segIds(dir).foreach { seg =>
      val segDir = s"$dir/segments/seg=$seg"
      val ids = spark.read.parquet(s"$segDir/docstats").select("docId")
        .collect().map(_.getLong(0))
      val want = scala.collection.mutable.Map.empty[String, (Long, Long)]
      ids.foreach { id =>
        AnalyzerChain.standard.termFreqs(content(id))._1.foreach { case (t, tf) =>
          val (df, ttf) = want.getOrElse(t, (0L, 0L))
          want(t) = (df + 1, ttf + tf)
        }
      }
      val got = spark.read.parquet(s"$segDir/termstats").collect()
        .map(r => r.getAs[String]("term") -> (r.getAs[Long]("df"), r.getAs[Long]("ttf"))).toMap
      assert(got == want.toMap, s"seg=$seg termstats differ from the recount")
    }

  /** Posting rows of `docs`, shaped like StreamOps.hotIndexSink. */
  private def hotRows(docs: Seq[(Long, String)]) =
    IndexBuilder.invertDocs(spark, docs.toDF("docId", "content"))
      .flatMap(d => d.terms.indices.map(i => (d.terms(i), d.docId, d.tfs(i), d.normByte, d.dl)))
      .toDF("term", "docId", "tf", "normByte", "dl")

  test("build: three segments pass CheckIndex; termstats equal the recount") {
    val docs = corpus(90, 0)
    val dir = tmp("graft-commit-build")
    IndexStore.build(spark, docs.toDF("docId", "content"), dir,
      numSegments = 3, shufflePartitions = 4, withPositions = true)
    assertClean(dir)
    assertSegmentTermStats(dir, docs.toMap)
    graft.util.Fs.rmTree(dir)
  }

  test("updateDocuments (sealHot): the sealed segment passes CheckIndex; termstats equal the recount") {
    val docs = corpus(60, 100)
    val dir = tmp("graft-commit-update")
    IndexStore.build(spark, docs.toDF("docId", "content"), dir,
      numSegments = 2, shufflePartitions = 4)
    val fresh = Seq((60L, CorpusGen.genFile(7000).content), (61L, CorpusGen.genFile(7001).content))
    IndexStore.updateDocuments(spark, dir, Seq(5L, 33L), fresh.toDF("docId", "content"),
      "docId", "content", 4)
    assert(segIds(dir) == Seq(0, 1, 2))
    assert(manifestLong(dir, 2, "docLo") == 60L && manifestLong(dir, 2, "docHi") == 62L)
    assertClean(dir)
    assertSegmentTermStats(dir, (docs ++ fresh).toMap)
    graft.util.Fs.rmTree(dir)
  }

  test("compact with docId 0 tombstoned: docLo is the smallest survivor; CheckIndex clean; termstats equal the recount") {
    val docs = corpus(90, 200)
    val dir = tmp("graft-commit-cpt")
    val out = tmp("graft-commit-cpt-out")
    IndexStore.build(spark, docs.toDF("docId", "content"), dir,
      numSegments = 3, shufflePartitions = 4, withPositions = true)
    IndexStore.delete(spark, dir, Seq(0L, 1L, 45L))
    IndexStore.compact(spark, dir, out, shufflePartitions = 4)
    assertClean(out)
    assertSegmentTermStats(out, docs.toMap)
    assert(manifestLong(out, 0, "docCount") == 87L)
    assert(manifestLong(out, 0, "docLo") == 2L && manifestLong(out, 0, "docHi") == 90L)
    graft.util.Fs.rmTree(dir); graft.util.Fs.rmTree(out)
  }

  test("addIndexes: imported segments pass CheckIndex with an exclusive docHi; termstats equal the recount") {
    val a = corpus(60, 300)
    val b = corpus(45, 400)
    val dirA = tmp("graft-commit-addA")
    val dirB = tmp("graft-commit-addB")
    IndexStore.build(spark, a.toDF("docId", "content"), dirA,
      numSegments = 2, shufflePartitions = 4, withPositions = true)
    IndexStore.build(spark, b.toDF("docId", "content"), dirB,
      numSegments = 2, shufflePartitions = 4, withPositions = true)
    IndexStore.delete(spark, dirB, Seq(44L))
    assert(IndexStore.addIndexes(spark, dirA, dirB) == 2)
    assertClean(dirA)
    assertSegmentTermStats(dirA, (a ++ b.map { case (id, c) => (id + 60L, c) }).toMap)
    // B's segments [0,23) and [23,45) land past A's 60 docs
    assert(manifestLong(dirA, 2, "docLo") == 60L && manifestLong(dirA, 2, "docHi") == 83L)
    assert(manifestLong(dirA, 3, "docLo") == 83L && manifestLong(dirA, 3, "docHi") == 105L)
    graft.util.Fs.rmTree(dirA); graft.util.Fs.rmTree(dirB)
  }

  test("sealHot at the last imported docId is refused as an overlap") {
    val dirA = tmp("graft-commit-addA2")
    val dirB = tmp("graft-commit-addB2")
    IndexStore.build(spark, corpus(30, 800).toDF("docId", "content"), dirA,
      numSegments = 1, shufflePartitions = 4)
    IndexStore.build(spark, corpus(20, 900).toDF("docId", "content"), dirB,
      numSegments = 1, shufflePartitions = 4)
    IndexStore.addIndexes(spark, dirA, dirB)
    // seg 1 holds docIds 30..49; 49 is taken
    val e = intercept[IllegalArgumentException] {
      IndexStore.sealHot(spark, hotRows(Seq((49L, CorpusGen.genFile(7100).content))),
        dirA, segId = 9, shufflePartitions = 4)
    }
    assert(e.getMessage.contains("overlaps"))
    assert(!IndexStore.isCommitted(dirA, 9))
    graft.util.Fs.rmTree(dirA); graft.util.Fs.rmTree(dirB)
  }

  test("sealHot: the sealed segment's termstats equal the recount") {
    val docs = corpus(40, 500)
    val late = corpus(10, 600).map { case (id, c) => (id + 40L, c) }
    val dir = tmp("graft-commit-seal")
    IndexStore.build(spark, docs.toDF("docId", "content"), dir,
      numSegments = 1, shufflePartitions = 4)
    IndexStore.sealHot(spark, hotRows(late), dir, segId = 1, shufflePartitions = 4)
    assert(manifestLong(dir, 1, "docLo") == 40L && manifestLong(dir, 1, "docHi") == 50L)
    assertClean(dir)
    assertSegmentTermStats(dir, (docs ++ late).toMap)
    graft.util.Fs.rmTree(dir)
  }

  test("splitSegments: the split passes CheckIndex; a neighbour's first doc's tombstone stays behind") {
    val docs = corpus(90, 700)
    val src = tmp("graft-commit-split-src")
    val dst = tmp("graft-commit-split-dst")
    IndexStore.build(spark, docs.toDF("docId", "content"), src,
      numSegments = 3, shufflePartitions = 4)
    // seg 0 is [0,30); docId 30 is seg 1's first doc
    IndexStore.delete(spark, src, Seq(10L, 30L, 70L))
    IndexStore.splitSegments(spark, src, dst, Seq(0))
    assertClean(dst)
    val dead = IndexStore.OpenIndex(spark, dst).tombstones.get.toArray.toSet
    assert(dead == Set(10L))
    graft.util.Fs.rmTree(src); graft.util.Fs.rmTree(dst)
  }
}

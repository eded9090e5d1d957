package graft.index

import graft.SparkSpec
import graft.corpus.CorpusGen
import java.nio.file.Files

/** queryResultCache (zero-job repeat queries) and snapshot/backup
  * (consistent commit-point copy, isolated from later source mutation). */
class CacheSnapshotSpec extends SparkSpec {
  import spark.implicits._

  test("topKCached: repeat query costs ZERO jobs and returns identical rows") {
    val dir = Files.createTempDirectory("graft-qrc").toString
    val all = DocIds.assign(CorpusGen.corpus(spark, 120, 3).toDF(),
      Seq("repo", "path", "commit"), 3)
    IndexStore.build(spark, all, dir, numSegments = 1, shufflePartitions = 3)
    val idx = IndexStore.OpenIndex(spark, dir)

    var first: Seq[(Long, Float)] = Nil
    val jobs1 = countJobs {
      first = idx.topKCached(Seq("public", "import"), 10).collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    }
    assert(jobs1 > 0)
    var second: Seq[(Long, Float)] = Nil
    val jobs2 = countJobs {
      second = idx.topKCached(Seq("public", "import"), 10).collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    }
    assert(jobs2 === 0, s"cache hit ran $jobs2 jobs")
    assert(second === first)
    // identical to the uncached path
    val direct = idx.topK(Seq("public", "import"), 10).collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(first === direct)
    // a DIFFERENT k is a different cache key -> runs jobs
    assert(countJobs(idx.topKCached(Seq("public", "import"), 5).collect(): Unit) > 0)
  }

  test("snapshot: commit-point copy queries identically and is isolated from later deletes") {
    val dir = Files.createTempDirectory("graft-snap-src").toString
    val dst = Files.createTempDirectory("graft-snap-dst").toString + "/backup"
    val all = DocIds.assign(CorpusGen.corpus(spark, 100, 2).toDF(),
      Seq("repo", "path", "commit"), 2)
    IndexStore.build(spark, all, dir, numSegments = 2, shufflePartitions = 2)
    IndexStore.delete(spark, dir, Seq(7L))

    IndexStore.snapshot(dir, dst)
    val src = IndexStore.OpenIndex(spark, dir)
    val snap = IndexStore.OpenIndex(spark, dst)
    val q = Seq("public")
    assert(snap.topK(q, 15).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq ===
      src.topK(q, 15).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq)
    assert(snap.stats === src.stats)

    // mutate the SOURCE after the snapshot: the backup must not move
    val beforeIds = snap.topK(q, 15).collect().map(_.getLong(0)).toSeq
    IndexStore.delete(spark, dir, beforeIds.take(3))
    val snap2 = IndexStore.OpenIndex(spark, dst)
    assert(snap2.topK(q, 15).collect().map(_.getLong(0)).toSeq === beforeIds)
  }
}

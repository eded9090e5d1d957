package graft.streaming

import graft.SparkSpec
import graft.index.{IndexBuilder, TimeIndex}
import java.nio.file.Files

/** Incremental search job: previews advance newest-bucket-first, the
  * finished result equals the one-shot cross-bucket search, cancel keeps
  * partial previews. */
class SearchJobSpec extends SparkSpec {
  import spark.implicits._

  private def buildTimeIdx(nDays: Int): String = {
    val dir = Files.createTempDirectory("graft-sj").toString
    val events = (0 until nDays).flatMap { d =>
      (0 until 40).map { i =>
        val id = d * 1000L + i
        val raw = if (i % 4 == 0) s"error disk full node$i" else s"ok heartbeat node$i"
        (id, java.sql.Timestamp.valueOf(f"2024-02-${d + 1}%02d 0${i % 9}:00:00"), raw)
      }
    }.toDF("event_id", "ts", "raw")
    TimeIndex.build(spark, events, dir, granularity = "day", shufflePartitions = 4)
    dir
  }

  test("job walks buckets newest-first; finished result equals one-shot topK") {
    val dir = buildTimeIdx(5)
    assert(TimeIndex.buckets(dir).size === 5)
    val job = SearchJobs.submit(spark, dir, Seq("error", "disk"), 15)
    val res = job.result(timeoutMs = 120000)
    assert(job.status === "DONE")
    assert(job.preview.finished)
    assert(job.preview.bucketsDone === 5)
    val oneShot = TimeIndex.topK(spark, dir, Seq("error", "disk"), 15)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(res === oneShot)
    assert(job.preview.hitCount > 0)
    assert(job.durationMs > 0)
  }

  test("single-pass previews: top-k + hit count costs fewer jobs than the two-pass shape") {
    import graft.query.{BM25, QueryEngine}
    val dir = buildTimeIdx(1)
    val sel = TimeIndex.buckets(dir)
    val blocks = TimeIndex.readBlocks(spark, dir, sel).cache()
    blocks.count()
    val (docCount, sumDl) = TimeIndex.mergedStats(dir, sel)
    val qs = Seq("error", "disk")
    val dfs = blocks.filter(org.apache.spark.sql.functions.col("term").isin(qs: _*))
      .groupBy("term").agg(org.apache.spark.sql.functions.sum("n").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val infos = qs.zipWithIndex.collect { case (t, i) if dfs.contains(t) =>
      val sc = BM25.termScorer(1f, BM25.DefaultK1, BM25.DefaultB, dfs(t), docCount, sumDl)
      QueryEngine.TermInfo(t, i, sc)
    }

    var got: (Seq[(Long, Float)], Long) = (Nil, -1L)
    val req = QueryEngine.Request(QueryEngine.Infos(infos), 15)
    val jNew = countJobs {
      val (hits, total) = QueryEngine.runCounted(spark, blocks, IndexBuilder.termStats(blocks),
        graft.index.CorpusStats(docCount, sumDl), req)
      got = (hits, total.value)
    }
    var oldHits: Seq[(Long, Float)] = Nil
    var oldCount = -1L
    val jOld = countJobs {
      oldHits = QueryEngine.run(spark, blocks, IndexBuilder.termStats(blocks),
          graft.index.CorpusStats(docCount, sumDl), req)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      oldCount = QueryEngine.matchingDocs(spark, blocks, qs).count()
    }
    // identical results, strictly fewer jobs than the two-pass shape
    assert(got._1 === oldHits)
    assert(got._2 === oldCount)
    assert(got._2 === 10L) // 10 error docs per day x 1 day
    assert(jNew < jOld, s"single pass ran $jNew jobs vs two-pass $jOld")
    blocks.unpersist()

    // end-to-end: the job surface still reports the exact hit count
    val dir4 = buildTimeIdx(4)
    val job = SearchJobs.submit(spark, dir4, Seq("error", "disk"), 15)
    job.result(timeoutMs = 120000)
    assert(job.preview.hitCount === 40L)
  }

  test("previews are monotonic and early previews favor the newest buckets") {
    val dir = buildTimeIdx(6)
    val job = SearchJobs.submit(spark, dir, Seq("error"), 10)
    var seen = List.empty[Int]
    while (!job.isFinished) {
      seen ::= job.preview.bucketsDone
      Thread.sleep(10)
    }
    job.result()
    seen ::= job.preview.bucketsDone
    val progress = seen.reverse
    assert(progress.zip(progress.tail).forall { case (a, b) => a <= b },
      s"bucketsDone must be monotonic: $progress")
    assert(progress.last === 6)
  }

  test("range-restricted job prunes buckets; absent term finishes empty") {
    val dir = buildTimeIdx(5)
    val job = SearchJobs.submit(spark, dir, Seq("error"), 10,
      fromBucket = "2024-02-02T00", toBucket = "2024-02-03T23")
    val res = job.result()
    assert(job.preview.totalBuckets === 2)
    val oneShot = TimeIndex.topK(spark, dir, Seq("error"), 10,
      fromBucket = "2024-02-02T00", toBucket = "2024-02-03T23")
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(res === oneShot)

    val none = SearchJobs.submit(spark, dir, Seq("zzznope"), 10)
    assert(none.result() === Nil)
    assert(none.status === "DONE")
  }

  test("cancel between buckets keeps the partial snapshot") {
    val dir = buildTimeIdx(6)
    val job = SearchJobs.submit(spark, dir, Seq("heartbeat"), 10)
    job.cancel()
    while (!job.isFinished) Thread.sleep(10)
    assert(job.status == "CANCELLED" || job.status == "DONE")
    // snapshot always coherent: bucketsDone in range, hits sorted
    val p = job.preview
    assert(p.bucketsDone >= 0 && p.bucketsDone <= p.totalBuckets)
    assert(p.hits === p.hits.sortBy { case (id, s) => (-s, id) })
  }
}

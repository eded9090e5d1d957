package graft.streaming

import graft.index.{CorpusStats, IndexBuilder, TimeIndex}
import graft.query.QueryEngine
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

/**
 * Incremental search job over a time-bucketed index — the IVrixDB
 * search-job surface (reference ivrixdb/search/job/SearchJob.java:48,90-201:
 * submit once, the search executes bucket-by-bucket newest-first while
 * callers poll previews; finished results equal the one-shot search).
 *
 * Spark-first shape: the job thread walks the selected buckets NEWEST
 * first (HOT -> WARM -> COLD), one bounded top-k job per bucket, folding
 * each bucket's hits into a driver-side top-k snapshot that [[preview]]
 * exposes immediately. Scorers are built ONCE from manifest-merged
 * collection stats + a single df lookup over the selected buckets, so
 * per-bucket scores are final — the completed job's result is identical to
 * [[TimeIndex.topK]] over the same range (tested).
 */
final class SearchJob private[streaming] (
    spark: SparkSession, dir: String, terms: Seq[String], k: Int,
    fromBucket: String, toBucket: String) {

  /** One preview snapshot: progress + the current merged top-k. */
  final case class Preview(bucketsDone: Int, totalBuckets: Int,
                           hitCount: Long, hits: Seq[(Long, Float)]) {
    def finished: Boolean = bucketsDone == totalBuckets
  }

  val jobId: String = java.util.UUID.randomUUID().toString
  private val cancelled = new AtomicBoolean(false)
  private val state = new AtomicReference[String]("PENDING")
  private val snapshot = new AtomicReference[Preview](Preview(0, 0, 0L, Nil))
  private val failure = new AtomicReference[Throwable](null)
  private val t0 = System.nanoTime()
  private var tEnd = 0L

  def status: String = state.get()
  def isFinished: Boolean = status == "DONE" || status == "CANCELLED" || status == "FAILED"
  def preview: Preview = snapshot.get()
  def durationMs: Long =
    ((if (isFinished) tEnd else System.nanoTime()) - t0) / 1000000

  /** Best-effort cancel: takes effect between buckets (each bucket's job is
    * bounded); the snapshot keeps the partial results. */
  def cancel(): Unit = cancelled.set(true)

  /** Block until the job finishes; the final merged top-k. */
  def result(timeoutMs: Long = 300000): Seq[(Long, Float)] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000
    while (!isFinished && System.nanoTime() < deadline) Thread.sleep(20)
    if (status == "FAILED") throw new RuntimeException(s"search job $jobId failed", failure.get())
    require(isFinished, s"search job $jobId still ${status} after ${timeoutMs}ms")
    preview.hits
  }

  private[streaming] def start(): this.type = {
    val th = new Thread(() => run(), s"graft-search-job-$jobId")
    th.setDaemon(true)
    th.start()
    this
  }

  private def run(): Unit = {
    state.set("RUNNING")
    try {
      // newest-first (IVrixDB HOT->WARM->COLD search order); range-select
      // on the TIME part so rolled `<ts>.<seq>` sub-buckets stay in range
      val sel = TimeIndex.buckets(dir)
        .filter(b => { val t = TimeIndex.baseId(b); t >= fromBucket && t <= toBucket })
        .sorted.reverse
      snapshot.set(Preview(0, sel.size, 0L, Nil))
      if (sel.isEmpty) { state.set("DONE"); tEnd = System.nanoTime(); return }
      // merged collection stats from manifests + ONE df lookup across the
      // selected buckets -> scorers fixed up front, every bucket's scores
      // are final (identical to the one-shot cross-bucket search)
      val (docCount, sumDl) = TimeIndex.mergedStats(dir, sel)
      val stats = CorpusStats(docCount, sumDl)
      val termstats = IndexBuilder.termStats(TimeIndex.readBlocks(spark, dir, sel))
      val infos = QueryEngine.plan(termstats, stats, terms)
      if (infos.isEmpty) {
        snapshot.set(Preview(sel.size, sel.size, 0L, Nil))
        state.set("DONE"); tEnd = System.nanoTime(); return
      }
      var merged = Vector.empty[(Long, Float)]
      var hitCount = 0L
      for ((b, i) <- sel.zipWithIndex if !cancelled.get()) {
        val bucketBlocks = TimeIndex.readBlocks(spark, dir, Seq(b))
        // ONE job per bucket: top-k and the preview's hit counter come out
        // of the same pass (a second matchingDocs().count() job would
        // double per-bucket work)
        val (rows, bucketHits) = QueryEngine.runCounted(spark, bucketBlocks, termstats, stats,
          QueryEngine.Request(QueryEngine.Infos(infos), k))
        hitCount += bucketHits.value
        // buckets partition docs, so merging per-bucket top-k keeps the
        // global top-k exact (same (score DESC, docId ASC) order)
        merged = (merged ++ rows)
          .sortBy { case (id, s) => (-s, id) }
          .take(k)
        snapshot.set(Preview(i + 1, sel.size, hitCount, merged))
      }
      tEnd = System.nanoTime()
      state.set(if (cancelled.get()) "CANCELLED" else "DONE")
    } catch {
      case t: Throwable =>
        failure.set(t)
        tEnd = System.nanoTime()
        state.set("FAILED")
    }
  }
}

/** Submit surface (reference SearchJob lifecycle: construct + start). */
object SearchJobs {
  def submit(spark: SparkSession, dir: String, terms: Seq[String], k: Int,
             fromBucket: String = "", toBucket: String = "￿"): SearchJob =
    new SearchJob(spark, dir, terms, k, fromBucket, toBucket).start()
}

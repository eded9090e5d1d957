package graft.query

import graft.codec.PostingsCodec
import graft.index.{BlockRow, IndexBuilder}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/**
 * The one term-scoring kernel, with block-max WAND skipping (reference
 * search/WANDScorer.java:45, MaxScoreCache.java:61-105, ImpactsDISI.java:
 * 75-108) — the one hand-fused physical operator of the engine (SURVEY.md
 * §4.3). It scores every `Terms`, `Blended`, `Infos` and `WithHot` request:
 *
 *  - One query term streams each input partition a block at a time, with
 *    no shuffle. Several terms re-key their blocks to doc-range buckets
 *    (`bucket = minDoc / bucketDocs`; a block spanning a boundary is
 *    replicated into both and masked inside the kernel), so each bucket
 *    holds ALL query-term postings for its doc range — the Spark analogue
 *    of a Lucene leaf slice. Block bounds are computed map-side; only what
 *    the kernel reads shuffles.
 *  - Per run (a bucket, or a stretch of one term's ascending blocks):
 *    frontier = the lowest unprocessed block per term, pivot = min
 *    frontier maxDoc. With skipping on, a window whose Σ frontier block
 *    bounds cannot beat the k-th best score θ is skipped WITHOUT decoding;
 *    otherwise its blocks are decoded and docs ≤ pivot scored doc-at-a-time.
 *  - Output: one [[HitQueue]] per task, fed by all its runs, merged by the
 *    driver-side orderBy(score DESC, docId ASC).limit(k)
 *    (TakeOrderedAndProject); or every matching doc for `k` =
 *    [[QueryEngine.All]]. θ is that queue's k-th best score: a doc outside
 *    its task's top k is outside the global top k, so ranks stay identical.
 *
 * Combines: per-term float scores summed in query-term order as double,
 * cast float (DisjunctionSumScorer), or DisjunctionMaxScorer's ordered
 * running max for a tie-breaker; `requireAll` keeps docs matching every
 * term (And). Skipping is the kernel's own choice ([[topK]]).
 */
object Wand {

  /** One scored hit emitted by the kernel. */
  final case class Hit(docId: Long, score: Float)

  /** A postings block as the kernel reads it: `slot` is the term's position
    * in the ti-ordered query and `bound` the block's score bound from its
    * competitive impacts (the impact arrays stay map-side). */
  final case class KernelBlock(slot: Int, minDoc: Long, maxDoc: Long, n: Int, wDocs: Int, wFreqs: Int,
                               docGaps: Array[Byte], freqs: Array[Byte], norms: Array[Byte], bound: Float)

  /** Lucene's HitQueue (HitQueue.java:76-81) as a bounded heap: its head is
    * the worst kept hit — lowest score, then highest docId — so the top `k`
    * by (score DESC, docId ASC) survive. Each kernel run fills one, and
    * [[QueryEngine.runCounted]] folds and merges through it. */
  final class HitQueue(k: Int) {
    private def better(a: Hit, b: Hit) = a.score > b.score || (a.score == b.score && a.docId < b.docId)
    private val heap = scala.collection.mutable.PriorityQueue.empty[Hit](Ordering.fromLessThan(better))
    def full: Boolean = k > 0 && heap.size == k
    /** The k-th best score, once [[full]]. */
    def bottom: Float = heap.head.score
    def offer(h: Hit): Unit =
      if (heap.size < k) heap.enqueue(h)
      else if (k > 0 && better(h, heap.head)) { heap.dequeue(); heap.enqueue(h) }
    /** The kept hits, best first. */
    def hits: Array[Hit] = heap.clone().dequeueAll.reverse.toArray
  }

  /** One term's blocks in one kernel run: the longest prefix of `blocks`
    * that ascends in disjoint docId ranges (a partition over several files,
    * or of hash-packed blocks, is several runs), read one at a time and
    * decoded lazily. */
  private final class TermBlocks(val scorer: SimScorer, blocks: BufferedIterator[KernelBlock],
                                 decodeCounter: Option[LongAccumulator]) {
    /** The frontier block; null once exhausted. */
    var cur: KernelBlock = null
    // decoded state for the current block
    var docs: Array[Long] = null
    var tfs: Array[Int] = null
    var pos = 0
    advance()
    def exhausted: Boolean = cur == null
    /** The current decoded doc, or Long.MaxValue when none is pending. */
    def doc: Long = if (docs != null && pos < docs.length) docs(pos) else Long.MaxValue
    def decodeCur(): Unit = if (docs == null) {
      val b = cur
      val d = PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)
      docs = d._1; tfs = d._2; pos = 0
      decodeCounter.foreach(_.add(1))
    }
    def advance(): Unit = {
      cur = if (blocks.hasNext && (cur == null || blocks.head.minDoc > cur.maxDoc)) blocks.next() else null
      docs = null; tfs = null; pos = 0
    }
  }

  /** A block with its score bound: the best score over its competitive
    * impacts, an upper bound of every doc in it for an impact-bounded scorer. */
  private def kernelBlock(b: BlockRow, slot: Int, scorer: SimScorer): KernelBlock =
    KernelBlock(slot, b.minDoc, b.maxDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs, b.norms,
      b.impactFreqs.indices.map(i => scorer.score(b.impactFreqs(i).toFloat, b.impactNorms(i)))
        .foldLeft(0f)(math.max))

  /** One kernel run: the matching docs of one bucket (or one ascending
    * stretch of a term's blocks) in ascending docId order. `lo`/`hi` mask
    * docs outside the bucket (blocks replicated across a boundary must not
    * double-count). */
  private final class Kernel(terms: Array[TermBlocks], lo: Long, hi: Long,
                             requireAll: Boolean, tieBreaker: Option[Float]) extends Iterator[Hit] {
    /** Lucene's setMinCompetitiveScore: a window whose summed block bounds
      * fall below it is skipped undecoded. */
    var minCompetitive: Double = Double.NegativeInfinity
    /** No hit of the run has a lower docId. */
    val start: Long = terms.iterator.filterNot(_.exhausted).map(_.cur.minDoc).foldLeft(hi)(math.min) max lo
    private val nTerms = terms.length
    private val disMax = tieBreaker.isDefined
    private val tie = tieBreaker.getOrElse(0f).toDouble
    private var open = false
    private var pivot = 0L
    private var pending: Hit = null

    def hasNext: Boolean = {
      while (pending == null && (open || openWindow())) {
        var d = Long.MaxValue
        var t = 0
        while (t < nTerms) { d = math.min(d, terms(t).doc); t += 1 }
        if (d > pivot) closeWindow() else pending = scoreDoc(d)
      }
      pending != null
    }

    def next(): Hit = { hasNext; val h = pending; pending = null; h }

    /** Open the next window whose bound is competitive and decode its
      * covering blocks; false once every term is exhausted. */
    private def openWindow(): Boolean = {
      while (terms.exists(!_.exhausted)) {
        val live = terms.filterNot(_.exhausted)
        pivot = live.iterator.map(_.cur.maxDoc).min
        val covering = live.filter(_.cur.minDoc <= pivot)
        val boundSum = covering.foldLeft(0.0)(_ + _.cur.bound)
        // skip: no doc <= pivot can beat theta; advance every frontier block
        // that ends at or before the pivot — never decoded
        if (boundSum < minCompetitive) live.filter(_.cur.maxDoc <= pivot).foreach(_.advance())
        else {
          covering.foreach(_.decodeCur())
          open = true
          return true
        }
      }
      false
    }

    /** Advance the frontier blocks the window consumed. */
    private def closeWindow(): Unit = {
      terms.foreach { tb =>
        if (!tb.exhausted && ((tb.docs != null && tb.pos >= tb.docs.length) || tb.cur.maxDoc <= pivot))
          tb.advance()
      }
      open = false
    }

    /** Score doc `d` from every term positioned on it, in query-term (ti)
      * order: the double sum, or DisjunctionMaxScorer's running float max
      * with the displaced max and every non-max part summed as double,
      * (float)(max + others * tie). Null when `d` is not a hit. */
    private def scoreDoc(d: Long): Hit = {
      var sum = 0.0
      var mx = 0f
      var matched = 0
      var t = 0
      while (t < nTerms) {
        val tb = terms(t)
        if (tb.doc == d) {
          val s = tb.scorer.score(tb.tfs(tb.pos).toFloat, tb.cur.norms(tb.pos))
          if (!disMax || s < mx) sum += s
          else { sum += mx; mx = s }
          matched += 1
          tb.pos += 1
        }
        t += 1
      }
      if (d < lo || d >= hi || (requireAll && matched < nTerms)) null
      else Hit(d, if (disMax) (mx.toDouble + sum * tie).toFloat else sum.toFloat)
    }
  }

  /** A term's blocks in a bucket must have disjoint docId ranges for one
    * run. Hash-packed segments interleave a term's docs across partitions,
    * so their blocks overlap: re-pack those postings into disjoint blocks
    * (impacts recomputed by the codec, so the bounds stay exact). A bucket
    * holds <= bucketDocs postings per term, so the merge is small and local. */
  private def normalizeBlocks(sorted: Array[KernelBlock], scorer: SimScorer): Array[KernelBlock] = {
    if (sorted.indices.tail.forall(i => sorted(i - 1).maxDoc < sorted(i).minDoc)) return sorted
    // each (term, docId) lives in exactly one source partition, so the
    // merged (doc, tf, norm) triples have no duplicates
    val postings = sorted.flatMap { b =>
      val (d, f) = PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)
      d.indices.map(j => (d(j), f(j), b.norms(j)))
    }.sortBy(_._1)
    PostingsCodec.encodeTerm("", postings.map(_._1), postings.map(_._2), postings.map(_._3))
      .map(b => kernelBlock(IndexBuilder.blockRow(b), sorted(0).slot, scorer)).toArray
  }

  /** Score the query terms' blocks: (docId, score) ordered (score DESC,
    * docId ASC), at most `k` rows — or every matching doc, unordered, for
    * `k` = [[QueryEngine.All]]. Block-max skipping is on whenever it is
    * sound, as with Lucene's TOP_SCORES: for a bounded `k` under the summed
    * combine (block bounds are no bound of a DisjunctionMax score) over
    * [[SimScorer.impactBounded]] scorers. */
  def topK(spark: SparkSession, blocks: Dataset[BlockRow], infos: Seq[QueryEngine.TermInfo],
           k: Int, requireAll: Boolean = false, tieBreaker: Option[Float] = None,
           bucketDocs: Long = 1 << 16,
           decodeCounter: Option[LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    if (infos.isEmpty || k <= 0) return QueryEngine.noHits(spark)
    val sorted = infos.sortBy(_.ti)
    val slotOf = sorted.map(_.term).zipWithIndex.toMap
    val scorers = sorted.map(_.scorer).toArray
    val skip = k != QueryEngine.All && tieBreaker.isEmpty && scorers.forall(_.impactBounded)
    // a task's runs, in turn, into one queue (or straight out for k = All)
    def collect(runs: Iterator[Kernel]): Iterator[Hit] = {
      if (k == QueryEngine.All) return runs.flatten
      val q = new HitQueue(k)
      var top = Long.MinValue // the highest docId offered so far
      runs.foreach { kernel =>
        // a run's docs ascend (a doc met again after a skipped window carries
        // a partial score within the bound that skipped it): when the run
        // starts past every kept doc, a later doc that only ties the k-th
        // score loses the tie-break, so it must beat it; otherwise it must
        // not round to a tie
        val tieLoses = kernel.start > top
        def raise(): Unit = if (skip && q.full) kernel.minCompetitive =
          if (tieLoses) Math.nextUp(q.bottom.toDouble) else Math.nextDown(q.bottom).toDouble
        raise()
        kernel.foreach { h => q.offer(h); top = math.max(top, h.docId); raise() }
      }
      q.hits.iterator
    }
    val termBlocks = blocks.filter($"term".isin(sorted.map(_.term): _*))
    val hits =
      if (scorers.length == 1)
        // streamed: one block at a time
        termBlocks.mapPartitions { it =>
          val src = it.map(kernelBlock(_, 0, scorers(0))).buffered
          collect(Iterator.continually(src).takeWhile(_.hasNext).map(s =>
            new Kernel(Array(new TermBlocks(scorers(0), s, decodeCounter)), Long.MinValue, Long.MaxValue,
              requireAll, tieBreaker)))
        }
      else
        termBlocks
          .flatMap { b =>
            val kb = kernelBlock(b, slotOf(b.term), scorers(slotOf(b.term)))
            (b.minDoc / bucketDocs to b.maxDoc / bucketDocs).iterator.map(bucket => (bucket, kb))
          }
          .repartition($"_1")
          // a task holds the compressed blocks of its buckets and decodes
          // (or re-packs) one bucket at a time
          .mapPartitions(it => collect(it.toArray.groupBy(_._1).iterator.flatMap { case (bucket, rows) =>
            val bySlot = rows.map(_._2).groupBy(_.slot)
            if (requireAll && bySlot.size < scorers.length) None
            else Some(new Kernel(bySlot.toArray.sortBy(_._1).map { case (slot, bs) =>
              new TermBlocks(scorers(slot),
                normalizeBlocks(bs.sortBy(b => (b.minDoc, b.maxDoc)), scorers(slot)).iterator.buffered, decodeCounter)
            }, bucket * bucketDocs, (bucket + 1) * bucketDocs, requireAll, tieBreaker))
          }))
    if (k == QueryEngine.All) hits.toDF() else hits.toDF().orderBy(desc("score"), asc("docId")).limit(k)
  }
}

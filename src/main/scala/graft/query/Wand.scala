package graft.query

import graft.codec.PostingsCodec
import graft.index.{BlockRow, IndexBuilder}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import org.roaringbitmap.longlong.Roaring64Bitmap

/**
 * The one term-scoring kernel, with block-max WAND skipping (reference
 * search/WANDScorer.java:45, MaxScoreCache.java:61-105, ImpactsDISI.java:
 * 75-108) — the one hand-fused physical operator of the engine (SURVEY.md
 * §4.3). It scores every `Terms`, `Bool`, `Blended`, `Infos` and `WithHot`
 * request, and [[Searcher]] lowers term-leaf booleans onto it.
 *
 * A request is a list of slots ([[QueryEngine.TermInfo]]): a term, its
 * occurrence (must, should or mustNot), its boost and its scorer, in the
 * combine order (`ti`). Two clauses on one term are two slots.
 *
 *  - One slot streams each input partition a block at a time, with no
 *    shuffle. Several slots need ALL their postings of a doc range in one
 *    run: the blocks are keyed to doc-range buckets of the grid
 *    (`bucket = minDoc / bucketDocs`; a block spanning a boundary is
 *    replicated into both and masked inside the kernel), so each bucket
 *    holds ALL query-term postings for its doc range — the Spark analogue
 *    of a Lucene leaf slice. An input whose plan reports one partition (a
 *    [[slice]], the warmed cache of an index under one grid slice, or a
 *    filter or map of it) holds every bucket in its one task: in place,
 *    one stage, no exchange. Any other input (a larger or unwarmed index,
 *    one segment of a budgeted search, `WithHot`'s union, time-bucket or
 *    search-job blocks) is shuffled on the bucket per query. Block bounds
 *    are computed map-side; only what the kernel reads shuffles.
 *  - Per run (a bucket, or a stretch of one slot's ascending blocks):
 *    frontier = the lowest unprocessed block per scoring (must or should)
 *    slot, pivot = min frontier maxDoc. A bucket, or a window, below some
 *    must slot's frontier block has no hit and is skipped WITHOUT decoding
 *    (block-range intersection; Lucene's ConjunctionDISI). With skipping
 *    on, a window whose Σ frontier block bounds cannot beat the k-th best
 *    score θ is skipped undecoded too; otherwise its blocks are decoded
 *    and docs ≤ pivot scored doc-at-a-time. mustNot slots sit in the same
 *    buckets but add nothing to a pivot or a bound: a mustNot block is
 *    decoded only when a candidate doc falls inside it (ReqExclScorer).
 *  - Accept test: a candidate that is tombstoned, or not after the
 *    searchAfter cursor, never reaches the queue (Lucene's acceptDocs and
 *    PagingTopScoreDocCollector), so θ comes only from accepted docs.
 *  - Output: one [[HitQueue]] per task, fed by all its runs, merged by the
 *    driver-side orderBy(score DESC, docId ASC).limit(k)
 *    (TakeOrderedAndProject); or every accepted doc for `k` =
 *    [[QueryEngine.All]]. θ is that queue's k-th best score: a doc outside
 *    its task's top k is outside the global top k, so ranks stay identical.
 *
 * Combines: a doc matches with every must slot, at least one scoring slot
 * and no mustNot slot. Each part is the slot's float score times its float
 * boost. The must parts are summed in slot order as double from -0.0 (the
 * additive identity, so a lone part keeps its bits), the should parts
 * likewise from 0.0; the two sums are added and cast float (BooleanQuery
 * over DisjunctionSumScorer). With a tie-breaker, DisjunctionMaxScorer's
 * ordered running max replaces the sums. Skipping is the kernel's own
 * choice ([[topK]]).
 */
object Wand {
  import QueryEngine.{Must, MustNot, TermInfo}

  /** The doc-range grid's width in docIds: bucket `b` holds docIds
    * [b * BucketDocs, (b + 1) * BucketDocs). */
  val BucketDocs: Long = 1L << 16

  /** One scored hit emitted by the kernel. */
  final case class Hit(docId: Long, score: Float)

  /** A postings block as the kernel reads it: `slot` is its slot's position
    * in the ti-ordered request and `bound` the block's score bound from its
    * competitive impacts (the impact arrays stay map-side; 0 for a mustNot
    * slot). */
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

  /** One slot's blocks in one kernel run: the longest prefix of `blocks`
    * that ascends in disjoint docId ranges (a partition over several files,
    * or of hash-packed blocks, is several runs), read one at a time and
    * decoded lazily. */
  private final class TermBlocks(slot: TermInfo, blocks: BufferedIterator[KernelBlock],
                                 decodeCounter: Option[LongAccumulator]) {
    val scorer: SimScorer = slot.scorer
    val boost: Float = slot.boost
    val must: Boolean = slot.occur == Must
    val mustNot: Boolean = slot.occur == MustNot
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
    /** Whether these postings hold doc `d`, asked for ascending `d`: blocks
      * ending before `d` are passed undecoded, the one covering it decoded. */
    def holds(d: Long): Boolean = {
      while (cur != null && cur.maxDoc < d) advance()
      if (cur == null || cur.minDoc > d) false
      else {
        decodeCur()
        while (pos < docs.length && docs(pos) < d) pos += 1
        pos < docs.length && docs(pos) == d
      }
    }
  }

  /** A block of slot `slot` with its score bound: the best part over its
    * competitive impacts (the float score times the slot's boost), an
    * upper bound of every doc in it for an impact-bounded scorer and a
    * boost >= 0. A mustNot slot is never scored: bound 0. */
  private def kernelBlock(b: BlockRow, slot: Int, info: TermInfo): KernelBlock =
    KernelBlock(slot, b.minDoc, b.maxDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs, b.norms,
      if (info.occur == MustNot) 0f
      else b.impactFreqs.indices.map(i => info.scorer.score(b.impactFreqs(i).toFloat, b.impactNorms(i)) * info.boost)
        .foldLeft(0f)(math.max))

  /** One kernel run: the accepted-before-test hits of one bucket (or one
    * ascending stretch of a slot's blocks) in ascending docId order.
    * `lo`/`hi` mask docs outside a bucket (blocks replicated across a
    * boundary must not double-count). */
  private final class Kernel(slots: Array[TermBlocks], lo: Long, hi: Long,
                             tieBreaker: Option[Float]) extends Iterator[Hit] {
    /** Lucene's setMinCompetitiveScore: a window whose summed block bounds
      * fall below it is skipped undecoded. */
    var minCompetitive: Double = Double.NegativeInfinity
    private val scoring = slots.filterNot(_.mustNot)
    private val musts = scoring.filter(_.must)
    private val excluded = slots.filter(_.mustNot)
    /** No hit of the run has a lower docId. */
    val start: Long = scoring.iterator.filterNot(_.exhausted).map(_.cur.minDoc).foldLeft(hi)(math.min) max lo
    private val nScoring = scoring.length
    private val nMust = musts.length
    private val nShould = nScoring - nMust
    private val disMax = tieBreaker.isDefined
    private val tie = tieBreaker.getOrElse(0f).toDouble
    private var open = false
    private var pivot = 0L
    private var pending: Hit = null

    def hasNext: Boolean = {
      while (pending == null && (open || openWindow())) {
        var d = Long.MaxValue
        var t = 0
        while (t < nScoring) { d = math.min(d, scoring(t).doc); t += 1 }
        if (d > pivot) closeWindow() else pending = scoreDoc(d)
      }
      pending != null
    }

    def next(): Hit = { hasNext; val h = pending; pending = null; h }

    /** Open the next window that can hold a competitive hit and decode its
      * covering blocks; false once no doc is left that can match. */
    private def openWindow(): Boolean = {
      while (!musts.exists(_.exhausted) && scoring.exists(!_.exhausted)) {
        val live = scoring.filterNot(_.exhausted)
        pivot = live.iterator.map(_.cur.maxDoc).min
        // a doc below some must slot's frontier block lacks that slot:
        // every block ending before the highest such block is passed undecoded
        val need = musts.iterator.map(_.cur.minDoc).foldLeft(Long.MinValue)(math.max)
        if (need > pivot) live.filter(_.cur.maxDoc < need).foreach(_.advance())
        else {
          val covering = live.filter(_.cur.minDoc <= pivot)
          val boundSum = covering.foldLeft(0.0)(_ + _.cur.bound)
          // skip: no doc <= pivot can beat theta; advance every frontier
          // block that ends at or before the pivot — never decoded
          if (boundSum < minCompetitive) live.filter(_.cur.maxDoc <= pivot).foreach(_.advance())
          else {
            covering.foreach(_.decodeCur())
            open = true
            return true
          }
        }
      }
      false
    }

    /** Advance the frontier blocks the window consumed. */
    private def closeWindow(): Unit = {
      scoring.foreach { tb =>
        if (!tb.exhausted && ((tb.docs != null && tb.pos >= tb.docs.length) || tb.cur.maxDoc <= pivot))
          tb.advance()
      }
      open = false
    }

    /** Whether some mustNot slot holds doc `d`. */
    private def isExcluded(d: Long): Boolean = {
      var t = 0
      while (t < excluded.length) { if (excluded(t).holds(d)) return true; t += 1 }
      false
    }

    /** Score doc `d` from every scoring slot positioned on it, in slot (ti)
      * order: the must and should double sums, or DisjunctionMaxScorer's
      * running float max with the displaced max and every non-max part
      * summed as double, (float)(max + others * tie). Null when `d` is not
      * a hit. Candidates ascend, as [[TermBlocks.holds]] needs. */
    private def scoreDoc(d: Long): Hit = {
      var must = -0.0
      var should = 0.0
      var mx = 0f
      var matched = 0
      var t = 0
      while (t < nScoring) {
        val tb = scoring(t)
        if (tb.doc == d) {
          val s = tb.scorer.score(tb.tfs(tb.pos).toFloat, tb.cur.norms(tb.pos)) * tb.boost
          if (tb.must) matched += 1
          if (disMax) { if (s < mx) should += s else { should += mx; mx = s } }
          else if (tb.must) must += s
          else should += s
          tb.pos += 1
        }
        t += 1
      }
      if (d < lo || d >= hi || matched < nMust || isExcluded(d)) null
      else Hit(d,
        if (disMax) (mx.toDouble + should * tie).toFloat
        else if (nShould == 0) must.toFloat
        else (must + should).toFloat)
    }
  }

  /** A slot's blocks in one run must have disjoint docId ranges.
    * Hash-packed segments interleave a term's docs across partitions, so
    * their blocks overlap: re-pack those postings into disjoint blocks
    * (impacts recomputed by the codec, so the bounds stay exact). A run
    * holds <= bucketDocs postings per slot (one bucket), so the merge is
    * small and local. */
  private def normalizeBlocks(sorted: Array[KernelBlock], info: TermInfo): Array[KernelBlock] = {
    if (sorted.indices.tail.forall(i => sorted(i - 1).maxDoc < sorted(i).minDoc)) return sorted
    // each (term, docId) lives in exactly one source partition, so the
    // merged (doc, tf, norm) triples have no duplicates
    val postings = sorted.flatMap { b =>
      val (d, f) = PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)
      d.indices.map(j => (d(j), f(j), b.norms(j)))
    }.sortBy(_._1)
    PostingsCodec.encodeTerm("", postings.map(_._1), postings.map(_._2), postings.map(_._3))
      .map(b => kernelBlock(IndexBuilder.blockRow(b), sorted(0).slot, info)).toArray
  }

  /** The blocks of docIds [`docLo`, `docHi`) as one doc-range slice, when
    * they lie in one slice of the grid (`bucketDocs` wide): one partition,
    * coalesced narrowly (no shuffle, no cut), sorted by (term, minDoc) so
    * the in-memory batch stats prune by term. Its plan reports one
    * partition, so [[topK]] scores several slots over it in place. None
    * when the docIds span more than one grid slice: one task per query
    * would then decode more than one bucket's postings per term. (Any
    * other one-partition input, e.g. `warm(1)` of a multi-slice index,
    * is also scored in place: one task per query holds every query-term
    * block and scores the buckets in turn.) Not persisted:
    * `OpenIndex.warm` caches it. */
  def slice(blocks: Dataset[BlockRow], docLo: Long, docHi: Long,
            bucketDocs: Long = BucketDocs): Option[Dataset[BlockRow]] =
    if (docLo / bucketDocs != docHi / bucketDocs) None
    else Some(blocks.coalesce(1).sortWithinPartitions("term", "minDoc"))

  /** Score the slots' blocks: (docId, score) ordered (score DESC, docId
    * ASC), at most `k` rows — or every matching doc, unordered, for `k` =
    * [[QueryEngine.All]]. A doc in `tombstones`, or not after the `after`
    * cursor (score, docId), is not accepted. Block-max skipping is on
    * whenever it is sound, as with Lucene's TOP_SCORES: for a bounded `k`
    * under the summed combine (block bounds are no bound of a
    * DisjunctionMax score) over [[SimScorer.impactBounded]] scorers with
    * finite boosts >= 0. Several slots are keyed to `bucketDocs`-wide
    * buckets, shuffled on the bucket unless the plan of `blocks` reports
    * one partition. */
  def topK(spark: SparkSession, blocks: Dataset[BlockRow], infos: Seq[TermInfo],
           k: Int, tieBreaker: Option[Float] = None,
           tombstones: Option[Roaring64Bitmap] = None, after: Option[(Float, Long)] = None,
           bucketDocs: Long = BucketDocs,
           decodeCounter: Option[LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    val slots = infos.sortBy(_.ti).toArray
    val scoring = slots.indices.filter(slots(_).occur != MustNot).toArray
    if (scoring.isEmpty || k <= 0) return QueryEngine.noHits(spark)
    val musts = scoring.filter(slots(_).occur == Must)
    val slotsOf = slots.indices.groupBy(slots(_).term).map { case (t, is) => t -> is.toArray }
    val skip = k != QueryEngine.All && tieBreaker.isEmpty && scoring.forall { i =>
      slots(i).scorer.impactBounded && slots(i).boost >= 0f && !slots(i).boost.isInfinite
    }
    // Lucene's acceptDocs and the paging collector's cursor test
    val accept = (h: Hit) => !tombstones.exists(_.contains(h.docId)) &&
      after.forall { case (score, docId) => h.score < score || (h.score == score && h.docId > docId) }
    // a task's runs, in turn, into one queue (or straight out for k = All)
    def collect(runs: Iterator[Kernel]): Iterator[Hit] = {
      if (k == QueryEngine.All) return runs.flatten.filter(accept)
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
        kernel.foreach { h => if (accept(h)) { q.offer(h); top = math.max(top, h.docId); raise() } }
      }
      q.hits.iterator
    }
    // (function values, not local defs: a task closure must not capture
    // this object)
    val toKernel = (b: BlockRow, slot: Int) => kernelBlock(b, slot, slots(slot))
    // one run over ALL slots' blocks of the doc range [lo, hi), decoded (or
    // re-packed) on its turn; a bucket without a block of some must slot,
    // or of any scoring slot, holds no hit
    val run = (rows: Array[KernelBlock], lo: Long, hi: Long) => {
      val bySlot = rows.groupBy(_.slot)
      if (musts.exists(!bySlot.contains(_)) || !scoring.exists(bySlot.contains)) None
      else Some(new Kernel(bySlot.toArray.sortBy(_._1).map { case (slot, bs) =>
        new TermBlocks(slots(slot),
          normalizeBlocks(bs.sortBy(b => (b.minDoc, b.maxDoc)), slots(slot)).iterator.buffered, decodeCounter)
      }, lo, hi, tieBreaker))
    }
    val termBlocks = blocks.filter($"term".isin(slots.map(_.term).distinct: _*))
    val hits =
      if (slots.length == 1)
        // streamed: one block at a time
        termBlocks.mapPartitions { it =>
          val src = it.map(toKernel(_, 0)).buffered
          collect(Iterator.continually(src).takeWhile(_.hasNext).map(s =>
            new Kernel(Array(new TermBlocks(slots(0), s, decodeCounter)), Long.MinValue, Long.MaxValue,
              tieBreaker)))
        }
      else {
        val keyed = (b: BlockRow) => slotsOf(b.term).iterator.flatMap { slot =>
          val kb = toKernel(b, slot)
          (b.minDoc / bucketDocs to b.maxDoc / bucketDocs).iterator.map(bucket => (bucket, kb))
        }
        // a task holds the compressed blocks of its buckets and decodes
        // (or re-packs) one bucket at a time
        val runBuckets = (it: Iterator[(Long, KernelBlock)]) =>
          collect(it.toArray.groupBy(_._1).iterator.flatMap { case (bucket, rows) =>
            run(rows.map(_._2), bucket * bucketDocs, (bucket + 1) * bucketDocs)
          })
        // a bucket must sit in one task: an input the plan reports as one
        // partition already does (the warmed cache, a filter of it) and is
        // keyed in that task; any other is shuffled on the bucket
        if (blocks.queryExecution.executedPlan.outputPartitioning.numPartitions == 1)
          termBlocks.mapPartitions(it => runBuckets(it.flatMap(keyed)))
        else termBlocks.flatMap(keyed).repartition($"_1").mapPartitions(runBuckets)
      }
    if (k == QueryEngine.All) hits.toDF() else hits.toDF().orderBy(desc("score"), asc("docId")).limit(k)
  }
}

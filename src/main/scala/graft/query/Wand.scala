package graft.query

import graft.codec.PostingsCodec
import graft.index.BlockRow
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Block-max WAND top-k: the one hand-fused physical operator of the engine
 * (SURVEY.md §4.3), mirroring the reference's dynamic pruning
 * (search/WANDScorer.java:45, MaxScoreCache.java:61-105, block-max skipping
 * ImpactsDISI.java:75-108) in Spark's execution model:
 *
 *  - Postings blocks of the query terms (term-major layout) are re-keyed to
 *    doc-range buckets (`bucket = minDoc / bucketDocs`; a block spanning a
 *    boundary is replicated into both buckets and masked inside the kernel),
 *    so each bucket holds ALL query-term postings for its doc range — the
 *    Spark analogue of a Lucene leaf slice. Only query-term blocks shuffle.
 *  - Per bucket, a single-threaded kernel runs block-granular WAND: frontier
 *    = the lowest unprocessed block per term; pivot = min frontier maxDoc;
 *    if Σ frontier block-max scores < θ (current k-th best), every doc ≤
 *    pivot is non-competitive and the pivot block is skipped WITHOUT
 *    decoding; otherwise the covering blocks are decoded and docs ≤ pivot
 *    are scored doc-at-a-time into a bounded heap.
 *  - θ starts at 0 per bucket (no cross-bucket feedback — Lucene's
 *    per-slice collectors share no threshold either, so rank identity is
 *    preserved); per-bucket top-k rows are merged by the driver-side
 *    orderBy(score DESC, docId ASC).limit(k) (TakeOrderedAndProject).
 *
 * Scoring arithmetic and tie-breaks are identical to the exhaustive path
 * (asserted rank- AND score-identical in EngineSpec): per-term float scores
 * summed in query-term order as double, cast float; heap eviction order
 * (score ASC, docId DESC) matches HitQueue.java:76-81.
 */
object Wand {

  /** One scored hit emitted by the kernel. */
  final case class Hit(docId: Long, score: Float)

  /** Per-term, per-bucket block list entry (decoded lazily). */
  private final class TermBlocks(val ti: Int, val scorer: SimScorer,
                                 val blocks: Array[BlockRow], val bounds: Array[Float],
                                 decodeCounter: Option[org.apache.spark.util.LongAccumulator]) {
    var idx = 0
    // decoded state for the current block
    var docs: Array[Long] = null
    var tfs: Array[Int] = null
    var pos = 0
    def exhausted: Boolean = idx >= blocks.length
    def cur: BlockRow = blocks(idx)
    def curBound: Float = bounds(idx)
    def decodeCur(): Unit = {
      if (docs == null) {
        val b = cur
        val d = PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)
        docs = d._1; tfs = d._2; pos = 0
        decodeCounter.foreach(_.add(1))
      }
    }
    def advance(): Unit = { idx += 1; docs = null; tfs = null; pos = 0 }
  }

  /** Upper bound of any doc's score within a block, from competitive impacts. */
  private def blockBound(scorer: SimScorer, impactFreqs: Array[Int], impactNorms: Array[Byte]): Float = {
    var m = 0f
    var i = 0
    while (i < impactFreqs.length) {
      val s = scorer.score(impactFreqs(i).toFloat, impactNorms(i))
      if (s > m) m = s
      i += 1
    }
    m
  }

  /** The per-bucket kernel. `lo`/`hi` mask docs outside the bucket (blocks
    * replicated across a boundary must not double-count). */
  private def bucketTopK(termBlocks: Array[TermBlocks], k: Int, lo: Long, hi: Long,
                         requireAll: Boolean): Iterator[Hit] = {
    // bounded heap, eviction order = (score ASC, docId DESC) so survivors
    // are top by (score DESC, docId ASC)
    val ord = new scala.math.Ordering[Hit] {
      def compare(a: Hit, b: Hit): Int = {
        val c = java.lang.Float.compare(b.score, a.score) // min-heap by score
        if (c != 0) c else java.lang.Long.compare(a.docId, b.docId)
      }
    }
    val heap = new scala.collection.mutable.PriorityQueue[Hit]()(ord)
    var theta = 0f
    def offer(docId: Long, score: Float): Unit = {
      if (heap.size < k) {
        heap.enqueue(Hit(docId, score))
        if (heap.size == k) theta = heap.head.score
      } else if (score > theta ||
        (score == theta && docId < heap.head.docId)) {
        heap.dequeue()
        heap.enqueue(Hit(docId, score))
        theta = heap.head.score
      }
    }

    val nTerms = termBlocks.length
    while (termBlocks.exists(!_.exhausted)) {
      // frontier: lowest unprocessed block per term; pivot = min maxDoc
      var pivot = Long.MaxValue
      var boundSum = 0.0
      var t = 0
      while (t < nTerms) {
        val tb = termBlocks(t)
        if (!tb.exhausted && tb.cur.maxDoc < pivot) pivot = tb.cur.maxDoc
        t += 1
      }
      t = 0
      while (t < nTerms) {
        val tb = termBlocks(t)
        if (!tb.exhausted && tb.cur.minDoc <= pivot) boundSum += tb.curBound
        t += 1
      }
      // skip ONLY below nextDown(theta): a doc whose exact double sum is
      // just under theta can round UP to exactly theta as a float and enter
      // the heap on the docId tie-break (HitQueue tie rule)
      val competitive = heap.size < k || boundSum >= math.nextDown(theta.toDouble)
      if (!competitive) {
        // skip: no doc <= pivot can reach theta; advance every frontier
        // block that ends at or before the pivot — never decoded
        t = 0
        while (t < nTerms) {
          val tb = termBlocks(t)
          if (!tb.exhausted && tb.cur.maxDoc <= pivot) tb.advance()
          t += 1
        }
      } else {
        // score all docs <= pivot doc-at-a-time from the covering blocks
        t = 0
        while (t < nTerms) {
          val tb = termBlocks(t)
          if (!tb.exhausted && tb.cur.minDoc <= pivot) tb.decodeCur()
          t += 1
        }
        var continueDocs = true
        while (continueDocs) {
          // next candidate = min current docId across decoded frontiers
          var d = Long.MaxValue
          t = 0
          while (t < nTerms) {
            val tb = termBlocks(t)
            if (!tb.exhausted && tb.docs != null && tb.pos < tb.docs.length) {
              val cd = tb.docs(tb.pos)
              if (cd < d) d = cd
            }
            t += 1
          }
          if (d == Long.MaxValue || d > pivot) continueDocs = false
          else {
            // accumulate in query-term (ti) order as double — termBlocks is
            // already ti-sorted
            var sum = 0.0
            var matched = 0
            t = 0
            while (t < nTerms) {
              val tb = termBlocks(t)
              if (!tb.exhausted && tb.docs != null && tb.pos < tb.docs.length && tb.docs(tb.pos) == d) {
                sum += tb.scorer.score(tb.tfs(tb.pos).toFloat, tb.cur.norms(tb.pos))
                matched += 1
                tb.pos += 1
              }
              t += 1
            }
            if (d >= lo && d < hi && (!requireAll || matched == nTerms))
              offer(d, sum.toFloat)
          }
        }
        // advance fully-consumed frontier blocks
        t = 0
        while (t < nTerms) {
          val tb = termBlocks(t)
          if (!tb.exhausted && ((tb.docs != null && tb.pos >= tb.docs.length) || tb.cur.maxDoc <= pivot))
            tb.advance()
          t += 1
        }
      }
    }
    heap.dequeueAll.reverseIterator
  }

  /** The kernel walks one 'current' block per term in ascending-docId order,
    * so a term's blocks must have disjoint docId ranges. Range-packed
    * segments (IndexBuilder.packBlocks default) guarantee that; hash-packed
    * segments interleave a term's docs across partitions, producing
    * overlapping blocks whose split partial scores would corrupt multi-term
    * sums. Detect the overlap per (bucket, term) and re-pack those postings
    * into disjoint blocks in memory — impacts recomputed by the codec, so
    * pruning bounds stay exact. A bucket holds <= bucketDocs postings per
    * term, so the merge is small and local. */
  private def normalizeBlocks(sorted: Array[BlockRow]): Array[BlockRow] = {
    var overlap = false
    var i = 1
    while (!overlap && i < sorted.length) {
      if (sorted(i - 1).maxDoc >= sorted(i).minDoc) overlap = true
      i += 1
    }
    if (!overlap) return sorted
    val n = sorted.map(_.n).sum
    val docs = new Array[Long](n); val tfs = new Array[Int](n); val nbs = new Array[Byte](n)
    var o = 0
    sorted.foreach { b =>
      val (d, f) = PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)
      var j = 0
      while (j < b.n) { docs(o) = d(j); tfs(o) = f(j); nbs(o) = b.norms(j); o += 1; j += 1 }
    }
    // sort the merged (doc, tf, norm) triples by docId — each (term, docId)
    // lives in exactly one source partition, so there are no duplicates
    val idx = Array.range(0, n).sortBy(docs(_))
    val sd = idx.map(docs(_)); val sf = idx.map(tfs(_)); val sn = idx.map(nbs(_))
    PostingsCodec.encodeTerm(sorted(0).term, sd, sf, sn).map { b =>
      BlockRow(b.term, b.minDoc, b.maxDoc, b.n, b.sumTf, b.wDocs.toInt, b.wFreqs.toInt,
        b.docGaps, b.freqs, b.norms, b.impactFreqs, b.impactNorms)
    }.toArray
  }

  /**
   * Distributed block-max WAND top-k. Returns (docId, score) ordered
   * (score DESC, docId ASC), rank/score-identical to the exhaustive [[QueryEngine.run]] path.
   */
  def topK(spark: SparkSession, blocks: Dataset[BlockRow], infos: Seq[QueryEngine.TermInfo],
           k: Int, requireAll: Boolean = false, bucketDocs: Long = 1 << 16,
           decodeCounter: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    if (infos.isEmpty || k <= 0) return QueryEngine.noHits(spark)
    val byTerm = infos.map(i => i.term -> i).toMap
    val terms = infos.map(_.term)
    val bucketed = blocks
      .filter($"term".isin(terms: _*))
      .flatMap { b =>
        val b0 = b.minDoc / bucketDocs
        val b1 = b.maxDoc / bucketDocs
        (b0 to b1).iterator.map(bk => (bk, b))
      }
    bucketed
      .groupByKey(_._1)
      .flatMapGroups { (bucket: Long, rows: Iterator[(Long, BlockRow)]) =>
        val byT = rows.map(_._2).toArray.groupBy(_.term)
        val tbs = infos.flatMap { info =>
          byT.get(info.term).map { bs =>
            val sorted = normalizeBlocks(bs.sortBy(b => (b.minDoc, b.maxDoc)))
            val bounds = sorted.map(b => blockBound(info.scorer, b.impactFreqs, b.impactNorms))
            new TermBlocks(info.ti, info.scorer, sorted, bounds, decodeCounter)
          }
        }.toArray
        if (tbs.isEmpty || (requireAll && tbs.length < infos.size)) Iterator.empty
        else bucketTopK(tbs, k, bucket * bucketDocs, (bucket + 1) * bucketDocs, requireAll)
      }
      .toDF("docId", "score")
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
  }
}

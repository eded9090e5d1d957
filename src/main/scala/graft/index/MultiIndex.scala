package graft.index

import graft.query.QueryEngine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64Bitmap

/**
 * Federated search over several committed indexes as ONE logical index —
 * the Spark shape of Lucene's MultiReader docBase composition
 * (lucene/core/src/java/org/apache/lucene/index/MultiReader.java: sub-reader
 * doc ids shift by a running docBase) combined with Solr's exact
 * distributed stats (solr/core/src/java/org/apache/solr/search/stats/
 * ExactStatsCache.java:95-281: per-shard df/ttf merge to GLOBAL collection
 * stats before scoring, so shard-local idf skew never changes ranks).
 *
 * Because postings blocks are delta-encoded, rebasing a whole index's doc
 * ids costs O(1) per block — only (minDoc, maxDoc) shift; the packed gaps
 * are base-invariant. Scoring then runs the ordinary single-index path
 * over the unioned blocks with the merged stats: BIT-IDENTICAL scores to
 * one index built over the union corpus (asserted in MultiIndexSpec).
 */
object MultiIndex {

  /** Running docBase per sub-index (MultiReader.java semantics): index i's
    * local docId d maps to global d + base(i). */
  def docBases(indexes: Seq[IndexStore.OpenIndex]): Seq[Long] =
    indexes.map(_.stats.docCount).scanLeft(0L)(_ + _).dropRight(1)

  /** Global collection stats = exact merge of the sub-indexes'. */
  def mergedStats(indexes: Seq[IndexStore.OpenIndex]): CorpusStats =
    CorpusStats(indexes.map(_.stats.docCount).sum,
      indexes.map(_.stats.sumTotalTermFreq).sum)

  /** Exact global term stats: per-term df/ttf summed across sub-indexes
    * (the ExactStatsCache merge, as a vocab-sized aggregation). */
  def mergedTermstats(indexes: Seq[IndexStore.OpenIndex]): DataFrame =
    indexes.map(_.termstats.select("term", "df", "ttf"))
      .reduce(_ unionByName _)
      .groupBy("term").agg(sum("df").as("df"), sum("ttf").as("ttf"))

  /** The unioned, docBase-rebased postings of all sub-indexes. */
  def rebasedBlocks(indexes: Seq[IndexStore.OpenIndex]): org.apache.spark.sql.Dataset[BlockRow] = {
    val spark = indexes.head.spark
    import spark.implicits._
    indexes.zip(docBases(indexes)).map { case (ix, base) =>
      if (base == 0L) ix.blocks
      else ix.blocks.map(b => b.copy(minDoc = b.minDoc + base, maxDoc = b.maxDoc + base))
    }.reduce(_ union _)
  }

  /**
   * Top-k over the federation: (docId, score, shard, localDocId), ordered
   * (score DESC, docId ASC) — the global docId tie-break equals Lucene's
   * merge tie-break (shardIndex, then local doc), because docBases are
   * monotone in shard order (TopDocs.java:34-40). Per-index tombstones are
   * rebased into one bitmap and honored.
   */
  def topK(indexes: Seq[IndexStore.OpenIndex], terms: Seq[String], k: Int,
           mode: QueryEngine.Mode = QueryEngine.Or,
           mustNot: Seq[String] = Nil): DataFrame = {
    require(indexes.nonEmpty)
    val spark = indexes.head.spark
    val bases = docBases(indexes)
    val rebased = indexes.zip(bases).flatMap { case (ix, base) =>
      ix.tombstones.map { dead =>
        val shifted = new Roaring64Bitmap
        dead.forEach(d => shifted.addLong(d + base))
        shifted
      }
    }
    val tombstones = rebased.reduceOption { (a, b) => a.or(b); a }
    val hits = QueryEngine.run(spark, rebasedBlocks(indexes),
      mergedTermstats(indexes), mergedStats(indexes),
      QueryEngine.Request(QueryEngine.Terms(terms), k, mode, mustNot), tombstones)
    // map global ids back to (shard, localDocId) — bases are a tiny literal
    val shardExpr = bases.zipWithIndex.tail.foldLeft(lit(0)) { case (acc, (b, i)) =>
      when(col("docId") >= b, lit(i)).otherwise(acc)
    }
    val baseExpr = bases.tail.foldLeft(lit(0L)) { case (acc, b) =>
      when(col("docId") >= b, lit(b)).otherwise(acc)
    }
    hits.withColumn("shard", shardExpr)
      .withColumn("localDocId", col("docId") - baseExpr)
  }
}

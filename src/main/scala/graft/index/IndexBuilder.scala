package graft.index

import graft.analysis.Analyzer
import graft.codec.{PostingsCodec, SmallFloat}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One (term, doc) posting before packing; normByte rides along so query
  * scoring never joins the (potentially 10^12-row) docstats table. */
final case class PostingRow(term: String, docId: Long, tf: Int, normByte: Byte)

/** A packed <=128-doc postings block — one DataFrame row (Appendix B shape). */
final case class BlockRow(
    term: String, minDoc: Long, maxDoc: Long, n: Int, sumTf: Long,
    wDocs: Int, wFreqs: Int,
    docGaps: Array[Byte], freqs: Array[Byte], norms: Array[Byte],
    impactFreqs: Array[Int], impactNorms: Array[Byte])

/** Per-doc stats (norms + the sha256 per-row invariant vs the source table). */
final case class DocStat(docId: Long, dl: Int, normByte: Byte, contentSha256: String)

final case class CorpusStats(docCount: Long, sumTotalTermFreq: Long) {
  def avgdl: Float = (sumTotalTermFreq / docCount.toDouble).toFloat
}

/** One analyzed doc: everything the index needs, content dropped. Produced
  * in a SINGLE analysis pass (tokenization is the dominant CPU cost of the
  * build — computing postings and doc stats from one pass instead of two
  * nearly halves build time; see Bench). */
final case class DocInverted(docId: Long, dl: Int, normByte: Byte, sha: String,
                             terms: Array[String], tfs: Array[Int])

/**
 * Inverted-index construction as a Catalyst-planned Dataset pipeline
 * (capability match of the reference indexing chain,
 * lucene/core/src/java/org/apache/lucene/index/DefaultIndexingChain.java:386,
 * FreqProxTermsWriter.java:69-79, Lucene50PostingsWriter.java:207-376):
 *
 *   corpus --flatMap analyze--> PostingRow(term, docId, tf, normByte)
 *          --repartitionByRange(term, docId)--> sortWithinPartitions
 *          --mapPartitions pack--> BlockRow (128-doc FOR blocks + impacts)
 *
 * Skew: range partitioning on the composite (term, docId) splits mega-term
 * posting lists (`public`, `import`, ...) across MANY partitions — the
 * deterministic equivalent of salting (each partition gets a contiguous
 * docId slice of the hot term), so no reducer ever holds a whole stop-word
 * posting list. Blocks are self-contained, so a term split across
 * partitions just yields more (still <=128-doc) blocks — exactly Lucene's
 * multi-segment shape, merged logically at query time.
 *
 * The inversion "in-memory hash + flush" of the reference is replaced by
 * Spark's sort-shuffle (which spills); per-doc tf aggregation happens
 * in-memory per document inside flatMap (docs are small), so the shuffle
 * carries one row per (doc, distinct term), not per token.
 */
object IndexBuilder {

  /** The single analysis pass: tokenize + per-doc aggregate + sha256.
    * `analyzer` is the configured chain (stop/stem/synonym filters);
    * the default is bit-compatible with the bare [[Analyzer]]. */
  def invertDocs(spark: SparkSession, corpus: DataFrame,
                 idCol: String = "docId", contentCol: String = "content",
                 analyzer: graft.analysis.AnalyzerChain = graft.analysis.AnalyzerChain.standard): Dataset[DocInverted] = {
    import spark.implicits._
    corpus.select(col(idCol).cast("long"), col(contentCol).cast("string"))
      .as[(Long, String)]
      .map { case (docId, content) =>
        val (tfs, dl) = analyzer.termFreqs(content)
        val terms = new Array[String](tfs.size)
        val freqs = new Array[Int](tfs.size)
        var i = 0
        tfs.foreach { case (t, f) => terms(i) = t; freqs(i) = f; i += 1 }
        DocInverted(docId, dl, SmallFloat.intToByte4(dl),
          graft.util.Digest.sha256Hex(content), terms, freqs)
      }
  }

  /** Pre-analyzed ingestion (reference PreAnalyzedField, solr/core/src/
    * java/org/apache/solr/schema/PreAnalyzedField.java): the content
    * column holds the `{"v":"1","tokens":[...]}` wire format; the token
    * stream is taken as-is — no chain runs. dl discounts posInc-0 overlap
    * tokens exactly like the configured-chain path, so norms (and thus
    * scores) of an externally-analyzed index match a locally-analyzed one
    * that produced the same stream. */
  def invertDocsPre(spark: SparkSession, corpus: DataFrame,
                    idCol: String = "docId", contentCol: String = "content"): Dataset[DocInverted] = {
    import spark.implicits._
    corpus.select(col(idCol).cast("long"), col(contentCol).cast("string"))
      .as[(Long, String)]
      .map { case (docId, json) =>
        val parsed = graft.analysis.PreAnalyzed.parse(json)
        val m = new java.util.HashMap[String, Int](64)
        parsed.tokens.foreach(t => m.merge(t.term, 1, (a, b) => a + b))
        val terms = new Array[String](m.size)
        val freqs = new Array[Int](m.size)
        var i = 0
        scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.foreach {
          case (t, f) => terms(i) = t; freqs(i) = f; i += 1
        }
        val dl = parsed.dl
        DocInverted(docId, dl, SmallFloat.intToByte4(dl),
          graft.util.Digest.sha256Hex(json), terms, freqs)
      }
  }

  /** Positions tier from pre-analyzed token streams (posInc accumulation
    * already applied by the parser). */
  def invertPositionsPre(spark: SparkSession, corpus: DataFrame,
                         idCol: String = "docId", contentCol: String = "content"): DataFrame = {
    import spark.implicits._
    corpus.select(col(idCol).cast("long"), col(contentCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (docId, json) =>
        val m = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
        graft.analysis.PreAnalyzed.parse(json).tokens.foreach(t =>
          m.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer[Int]()) += t.pos)
        m.iterator.map { case (t, ps) => (docId, t, ps.sorted.toArray) }
      }
      .toDF(idCol, "term", "poss")
  }

  def postingsOf(inv: Dataset[DocInverted]): Dataset[PostingRow] = {
    import inv.sparkSession.implicits._
    inv.flatMap { d =>
      d.terms.indices.iterator.map(i => PostingRow(d.terms(i), d.docId, d.tfs(i), d.normByte))
    }
  }

  def statsOf(inv: Dataset[DocInverted]): Dataset[DocStat] = {
    import inv.sparkSession.implicits._
    inv.map(d => DocStat(d.docId, d.dl, d.normByte, d.sha))
  }

  /** Tokenize + per-doc aggregate: one PostingRow per (doc, distinct term). */
  def invert(spark: SparkSession, corpus: DataFrame,
             idCol: String = "docId", contentCol: String = "content"): Dataset[PostingRow] =
    postingsOf(invertDocs(spark, corpus, idCol, contentCol))

  /** Positions table for phrase queries: (docId, term, poss ARRAY<INT> asc).
    * The Spark shape of Lucene's .pos data (SURVEY.md §2.3 phrase rows);
    * positions are aggregated per doc inside flatMap, so no extra shuffle
    * beyond the term repartition a caller may add. */
  def invertPositions(spark: SparkSession, corpus: DataFrame,
                      idCol: String = "docId", contentCol: String = "content",
                      analyzer: graft.analysis.AnalyzerChain = graft.analysis.AnalyzerChain.standard): DataFrame = {
    import spark.implicits._
    corpus.select(col(idCol).cast("long"), col(contentCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (docId, content) =>
        val m = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
        analyzer.analyze(content).foreach(t => m.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer[Int]()) += t.pos)
        m.iterator.map { case (t, ps) => (docId, t, ps.toArray) }
      }
      .toDF(idCol, "term", "poss")
  }

  /** Offsets tier for highlighting: (docId, term, poss, starts, ends) —
    * parallel arrays per (doc, term), ascending by position. The Spark
    * shape of the reference's offsets-in-postings option
    * (codecs/lucene50/Lucene50PostingsFormat.java:44-94 — the .pay file
    * stores offsets; IndexOptions DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS).
    * Standard-chain analysis (offsets index the original text). */
  def invertOffsets(spark: SparkSession, corpus: DataFrame,
                    idCol: String = "docId", contentCol: String = "content"): DataFrame = {
    import spark.implicits._
    corpus.select(col(idCol).cast("long"), col(contentCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (docId, content) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String,
          (scala.collection.mutable.ArrayBuffer[Int], scala.collection.mutable.ArrayBuffer[Int], scala.collection.mutable.ArrayBuffer[Int])]
        Analyzer.analyzeWithOffsets(content).foreach { t =>
          val (ps, ss, es) = m.getOrElseUpdate(t.term,
            (scala.collection.mutable.ArrayBuffer[Int](), scala.collection.mutable.ArrayBuffer[Int](), scala.collection.mutable.ArrayBuffer[Int]()))
          ps += t.pos; ss += t.start; es += t.end
        }
        m.iterator.map { case (t, (ps, ss, es)) => (docId, t, ps.toArray, ss.toArray, es.toArray) }
      }
      .toDF(idCol, "term", "poss", "starts", "ends")
  }

  /** Per-doc stats in a single narrow pass (no shuffle). */
  def docStats(spark: SparkSession, corpus: DataFrame,
               idCol: String = "docId", contentCol: String = "content"): Dataset[DocStat] =
    statsOf(invertDocs(spark, corpus, idCol, contentCol))

  /** Sort-shuffle inversion + streaming block pack. Constant memory per task:
    * the packer buffers at most 128 postings. Range-partitioned on (term,
    * docId): term-clustered output files give file-level parquet pruning,
    * at the cost of a sampling pass, and a stop-word's postings spread
    * over several reducers. */
  def packBlocks(spark: SparkSession, postings: Dataset[PostingRow],
                 shufflePartitions: Int): Dataset[BlockRow] = {
    import spark.implicits._
    packPartitions(postings.repartitionByRange(shufflePartitions, $"term", $"docId"))
  }

  /** Pack each partition as it stands, with no shuffle: a term's blocks
    * are disjoint within a partition but may overlap across partitions,
    * which the scoring kernel takes. */
  def packPartitions(postings: Dataset[PostingRow]): Dataset[BlockRow] = {
    import postings.sparkSession.implicits._
    postings.sortWithinPartitions($"term", $"docId").mapPartitions(it => new BlockPacker(it))
  }

  /** A codec block as a postings-table row. */
  def blockRow(b: PostingsCodec.Block): BlockRow =
    BlockRow(b.term, b.minDoc, b.maxDoc, b.n, b.sumTf, b.wDocs.toInt, b.wFreqs.toInt,
      b.docGaps, b.freqs, b.norms, b.impactFreqs, b.impactNorms)

  /** Streaming packer: emits a BlockRow per <=128 same-term postings. */
  private final class BlockPacker(it: Iterator[PostingRow]) extends Iterator[BlockRow] {
    private val docs = new Array[Long](PostingsCodec.BlockSize)
    private val tfs = new Array[Int](PostingsCodec.BlockSize)
    private val nbs = new Array[Byte](PostingsCodec.BlockSize)
    private var n = 0
    private var term: String = null
    private var pending: BlockRow = null
    private def flush(): Unit = {
      if (n > 0) {
        pending = blockRow(PostingsCodec.encodeBlock(term, docs, tfs, nbs, 0, n))
        n = 0
      }
    }
    override def hasNext: Boolean = {
      while (pending == null && it.hasNext) {
        val p = it.next()
        if (term != null && (p.term != term || n == PostingsCodec.BlockSize)) flush()
        term = p.term
        docs(n) = p.docId; tfs(n) = p.tf; nbs(n) = p.normByte; n += 1
      }
      if (pending == null && n > 0) flush()
      pending != null
    }
    override def next(): BlockRow = { val r = pending; pending = null; r }
  }

  /** The hot tier's rows (StreamOps.hotIndexSink: term, docId, tf,
    * normByte, dl) as postings — what sealHot packs into a segment and a
    * `WithHot` query packs to score beside the index. */
  def hotPostingRows(hot: DataFrame): Dataset[PostingRow] = {
    import hot.sparkSession.implicits._
    hot.select(col("term").cast("string").as("term"),
      col("docId").cast("long").as("docId"), col("tf").cast("int").as("tf"),
      col("normByte").cast("byte").as("normByte")).as[PostingRow]
  }

  /** Term stats (term, df, ttf) from packed blocks (1/128th of the
    * posting rows): df = Σn, ttf = ΣsumTf, since each (term, doc) posting
    * sits in exactly one block. Any frame with `term`, `n` and `sumTf`
    * columns serves. */
  def termStats(blocks: Dataset[_]): DataFrame =
    blocks.groupBy("term").agg(
      sum("n").as("df"),
      sum("sumTf").as("ttf"))

  def corpusStats(docstats: Dataset[DocStat]): CorpusStats = {
    val r = docstats.agg(count("*"), sum(col("dl").cast("long"))).head()
    CorpusStats(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

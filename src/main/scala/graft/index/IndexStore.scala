package graft.index

import graft.query.QueryEngine
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * Segmented, resumable on-disk index (Iceberg-shaped; Parquet in this
 * sandbox — the layout is a drop-in for an Iceberg catalog, see SURVEY.md
 * §7.0). Mirrors Lucene's segment model (reference:
 * lucene/core/src/java/org/apache/lucene/index/SegmentMerger.java:97 — an
 * index is a set of immutable segments; queries merge them logically):
 *
 *   <dir>/segments/seg=K/postings/   packed BlockRow parquet, term-sorted
 *   <dir>/segments/seg=K/docstats/   DocStat parquet
 *   <dir>/segments/seg=K/MANIFEST.json  commit marker + lineage + metrics
 *   <dir>/stats/termstats/           global (term, df, ttf)   [finalize]
 *   <dir>/stats/corpus.json          docCount, sumTotalTermFreq [finalize]
 *
 * Resumability (north rule): each segment is an independent, idempotent
 * unit of work over a contiguous docId slice. The MANIFEST.json write is
 * the commit point (written last, after data lands in a temp dir that is
 * atomically renamed); a restarted build skips any segment whose manifest
 * exists and re-runs the rest — no committed work is lost or duplicated.
 * Manifests carry rowCount + an order-independent xor of per-row content
 * sha256 (the per-row invariant vs the source table) + lineage.
 */
object IndexStore {

  /** Max term length participating in the deletion-neighborhood spell
    * sidecar, and the edit budget its keys cover (C(12,2)+12+1 = 79 keys
    * per term worst-case — bounded). */
  val ShortLen = 12
  val SidecarEdits = 2

  /** queryResultCache capacity (Solr's default cache sizes are O(100s)). */
  val QueryResultCacheSize: Int = 256

  /** filterCache capacity — bounded LRU like Solr's filterCache; evicted
    * DocSets are unpersisted. */
  val FilterCacheSize: Int = 256

  /** topK output schema, shared by the result cache's local re-wrap. */
  val TopKSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("docId",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.FloatType, nullable = false)))

  /** Every variant of `s` with up to `maxDeletes` characters removed
    * (including `s` itself). */
  def deleteVariants(s: String, maxDeletes: Int): Set[String] = {
    var frontier = Set(s)
    var all = Set(s)
    var d = 0
    while (d < maxDeletes) {
      frontier = frontier.flatMap(v =>
        if (v.isEmpty) Set.empty[String]
        else v.indices.map(i => v.substring(0, i) + v.substring(i + 1)).toSet)
      all ++= frontier
      d += 1
    }
    all
  }

  /** A filter query (Solr fq): non-scoring doc-set restriction with a
    * stable cache key (the filterCache's map key). */
  sealed trait Fq { def cacheKey: String }
  /** Docs matching `terms` under `mode` (a term/boolean filter). */
  final case class FqTerms(terms: Seq[String],
                           mode: QueryEngine.Mode = QueryEngine.And) extends Fq {
    def cacheKey: String = s"t|$mode|${terms.sorted.mkString(",")}"
  }
  /** Docs whose doc-value `field` equals `value`. */
  final case class FqDocValue(field: String, value: String) extends Fq {
    def cacheKey: String = s"dv|$field|$value"
  }

  final case class Manifest(segId: Int, docLo: Long, docHi: Long, docCount: Long,
                            sumDl: Long, blockCount: Long, shaXor: String,
                            source: String, appId: String, wallMs: Long)

  private def manifestPath(dir: String, seg: Int) = Paths.get(s"$dir/segments/seg=$seg/MANIFEST.json")

  def isCommitted(dir: String, seg: Int): Boolean = Files.exists(manifestPath(dir, seg))

  private def writeManifest(dir: String, m: Manifest): Unit = {
    val json =
      s"""{"segId":${m.segId},"docLo":${m.docLo},"docHi":${m.docHi},"docCount":${m.docCount},
         |"sumDl":${m.sumDl},"blockCount":${m.blockCount},"shaXor":"${m.shaXor}",
         |"source":"${m.source}","appId":"${m.appId}","wallMs":${m.wallMs}}""".stripMargin
    val tmp = Paths.get(s"$dir/segments/seg=${m.segId}/MANIFEST.json.tmp")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(dir, m.segId), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The postings columns a segment's termstats derive from, given to the
    * read-back so it runs no schema-inference job. */
  private lazy val TermStatsInput: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(org.apache.spark.sql.Encoders.product[BlockRow].schema
      .filter(f => Set("term", "n", "sumTf")(f.name)))

  /**
   * Publish one segment: the single commit of build, sealHot, compact and
   * addIndexes (Lucene's flush, merge and addIndexes likewise end in one
   * publish — the codec writes the postings with the segment's term
   * statistics, then the segment is recorded; SURVEY §2.2, §3.4). In order:
   *  1. refuse a `segId` already committed under `dir`;
   *  2. `tiers(segDir)` writes the caller's extra tiers (positions,
   *     offsets, docvalues);
   *  3. write postings and docstats, each observing its manifest aggregates
   *     (block count; doc count, sum(dl), docId min/max, content xor) in the
   *     write's own final stage — a result-stage task's metrics apply once
   *     even when the task is retried or run speculatively;
   *  4. write termstats from the postings just written (df = Σn,
   *     ttf = ΣsumTf: each (term, doc) posting sits in exactly one block);
   *  5. refuse an empty segment, or a [docLo, docHi) range overlapping
   *     another committed segment;
   *  6. write the MANIFEST — the commit point — with docHi = max docId + 1.
   * Data written before a refusal has no manifest, so readers never see it.
   *
   * `shaXor` replaces the observed content xor: sealHot's docstats carry no
   * content, and addIndexes carries the source manifest's value.
   */
  private def commitSegment(spark: SparkSession, dir: String, segId: Int, source: String,
                            postings: DataFrame, docstats: DataFrame,
                            shaXor: Option[String] = None)(tiers: String => Unit): Unit = {
    require(!isCommitted(dir, segId), s"segment $segId already committed under $dir")
    val t0 = System.nanoTime()
    val segDir = s"$dir/segments/seg=$segId"
    tiers(segDir)
    val blocks = org.apache.spark.sql.Observation()
    postings.observe(blocks, count(lit(1)).as("blocks"))
      .write.mode("overwrite").parquet(s"$segDir/postings")
    val docs = org.apache.spark.sql.Observation()
    docstats.observe(docs, count(lit(1)).as("docs"), sum(col("dl").cast("long")).as("sumDl"),
        min(col("docId").cast("long")).as("lo"), max(col("docId").cast("long")).as("hi"),
        bit_xor(xxhash64(col("contentSha256"))).as("shaXor"))
      .write.mode("overwrite").parquet(s"$segDir/docstats")
    IndexBuilder.termStats(spark.read.schema(TermStatsInput).parquet(s"$segDir/postings"))
      .write.mode("overwrite").parquet(s"$segDir/termstats")
    val d = docs.get
    require(d("hi") != null,
      s"$source: no docs to commit as segment $segId under $dir (empty input, " +
        "or every doc is tombstoned) — refusing to commit an empty segment")
    val (lo, hi) = (d("lo").asInstanceOf[Long], d("hi").asInstanceOf[Long] + 1)
    // a manifest of this segId itself comes from a concurrent writer of the
    // same idempotent unit (e.g. a build process that outlived its kill);
    // this commit replaces it, so it is no neighbour to overlap
    manifests(dir).foreach { case (f, m) =>
      val (mLo, mHi) = (jsonLong(m, "docLo", f), jsonLong(m, "docHi", f))
      require(jsonLong(m, "segId", f) == segId || hi <= mLo || lo >= mHi,
        s"segment $segId docId range [$lo,$hi) overlaps committed segment range [$mLo,$mHi)")
    }
    writeManifest(dir, Manifest(segId, lo, hi, d("docs").asInstanceOf[Long],
      d("sumDl").asInstanceOf[Long], blocks.get("blocks").asInstanceOf[Long],
      shaXor.getOrElse(f"${d("shaXor").asInstanceOf[Long]}%016x"), source,
      spark.sparkContext.applicationId, (System.nanoTime() - t0) / 1000000))
  }

  /** Paths of COMMITTED segments only (manifest present). All readers go
    * through this — a crashed build's partial parquet without its
    * MANIFEST.json commit marker must never be read (the manifest IS the
    * commit point; reading by glob would launder uncommitted data). */
  def committedSegmentDirs(dir: String): Seq[String] = {
    val segs = Paths.get(s"$dir/segments")
    if (!Files.exists(segs)) return Nil
    val it = Files.list(segs).iterator()
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val p = it.next()
      if (Files.exists(p.resolve("MANIFEST.json"))) out += p.toString
    }
    out.sorted.toSeq
  }

  /** The committed segments' (MANIFEST.json path, contents). */
  def manifests(dir: String): Seq[(String, String)] =
    committedSegmentDirs(dir).map { d =>
      val f = s"$d/MANIFEST.json"
      f -> Files.readString(Paths.get(f))
    }

  def readManifests(dir: String): Seq[String] = manifests(dir).map(_._2)

  /** The `value` pattern's group after `"key":` in a MANIFEST.json or
    * corpus.json document, None when the key is absent. */
  private def jsonField(js: String, key: String, value: String): Option[String] =
    ("\"" + key + "\":" + value).r.findFirstMatchIn(js).map(_.group(1))
  private val JsonString = "\"([^\"]*)\""
  private def missing(key: String, file: String): Nothing =
    throw new IllegalStateException(s"""$file has no "$key" field""")
  /** A numeric field of the document `js` read from `file`; a missing key
    * fails naming the key and the file. */
  private[index] def jsonLong(js: String, key: String, file: String): Long =
    jsonField(js, key, "(-?\\d+)").getOrElse(missing(key, file)).toLong
  /** A string field of the document `js` read from `file`, as [[jsonLong]]. */
  private[index] def jsonStr(js: String, key: String, file: String): String =
    jsonField(js, key, JsonString).getOrElse(missing(key, file))

  /**
   * Build (or resume) a segmented index from a corpus that already carries
   * deterministic docIds. Each segment covers a contiguous docId slice.
   */
  def build(spark: SparkSession, corpusWithIds: DataFrame, dir: String,
            numSegments: Int, shufflePartitions: Int, source: String = "corpus",
            withPositions: Boolean = false, segmentConcurrency: Int = 1,
            docValueCols: Seq[String] = Nil,
            analyzer: graft.analysis.AnalyzerChain = graft.analysis.AnalyzerChain.standard,
            withOffsets: Boolean = false,
            preAnalyzed: Boolean = false): Unit = {
    require(!(preAnalyzed && withOffsets),
      "pre-analyzed builds keep offsets in the wire format; the offsets " +
        "tier re-tokenizes raw text and would disagree — not supported")
    import spark.implicits._
    val chk = corpusWithIds.agg(max("docId"), count("*"), countDistinct("docId"), min("docId")).head()
    require(!chk.isNullAt(0), "cannot build an index over an empty corpus")
    val n = chk.getLong(0) + 1
    require(chk.getLong(3) == 0L && chk.getLong(1) == n && chk.getLong(2) == n,
      s"docIds must be dense [0,$n): min=${chk.getLong(3)} count=${chk.getLong(1)} distinct=${chk.getLong(2)} — " +
        "nondeterministic id assignment would silently corrupt segment slicing")
    val per = math.max(1L, (n + numSegments - 1) / numSegments)
    // segments are independent idempotent units; building a few concurrently
    // (SparkSession is thread-safe for job submission) overlaps one
    // segment's driver-side latency with another's cluster work
    def buildSegment(seg: Int): Unit = {
      val lo = seg * per
      val hi = math.min(n, lo + per)
      if (lo < n && !isCommitted(dir, seg)) {
        val slice = corpusWithIds.filter($"docId" >= lo && $"docId" < hi)
        // ONE analysis pass per segment: postings and doc stats both derive
        // from the cached inverted form (content already dropped — the
        // persisted intermediate is term/tf arrays, far smaller than input)
        val inv = (if (preAnalyzed) IndexBuilder.invertDocsPre(spark, slice)
                   else IndexBuilder.invertDocs(spark, slice, analyzer = analyzer))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try commitSegment(spark, dir, seg, source,
          IndexBuilder.packBlocks(spark, IndexBuilder.postingsOf(inv), shufflePartitions).toDF(),
          IndexBuilder.statsOf(inv).toDF()) { segDir =>
          // optional .pos analogue (phrase queries): (docId, term, poss ASC),
          // term-bucketed so phrase term lookups prune files
          if (withPositions)
            (if (preAnalyzed) IndexBuilder.invertPositionsPre(spark, slice)
             else IndexBuilder.invertPositions(spark, slice, analyzer = analyzer))
              .repartitionByRange(shufflePartitions, $"term")
              .sortWithinPartitions($"term", $"docId")
              .write.mode("overwrite").parquet(s"$segDir/positions")
          // offsets tier (.pay analogue): positions + char offsets for
          // passage highlighting, term-bucketed like the positions tier
          if (withOffsets)
            IndexBuilder.invertOffsets(spark, slice)
              .repartitionByRange(shufflePartitions, $"term")
              .sortWithinPartitions($"term", $"docId")
              .write.mode("overwrite").parquet(s"$segDir/offsets")
          // doc-values tier (Lucene80DocValuesFormat analogue, SURVEY §1.1):
          // columnar per-doc fields for sort/group — docId-clustered parquet
          // so field-sorted queries read only these narrow columns
          if (docValueCols.nonEmpty)
            slice.select(($"docId" +: docValueCols.map(col)): _*)
              .write.mode("overwrite").parquet(s"$segDir/docvalues")
        }
        finally inv.unpersist()
      }
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, segmentConcurrency))
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = for (seg <- 0 until numSegments) yield
      scala.concurrent.Future(buildSegment(seg))(ec)
    try futures.foreach(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()
    finalizeStats(spark, dir)
    // self-describing index: queries MUST analyze through the same chain
    // (Solr schema analogue); OpenIndex.analyzer reads this back
    Files.writeString(Paths.get(s"$dir/stats/analyzer.json"),
      graft.analysis.AnalyzerChain.toJson(analyzer))
  }

  /**
   * Seal accumulated HOT posting rows into a committed segment — the
   * IVrixDB HOT->WARM transition (reference ivrixdb hot/warm bucket
   * lifecycle; the hot tier is the un-packed streaming sink of
   * StreamOps.hotIndexSink, schema (term, docId, tf, normByte, dl)).
   * After sealing + finalizeStats, plain topK over the index is
   * score-identical to the federated `QueryEngine.WithHot` request over (old index + hot)
   * because collection stats merge the same way (tested). Streamed rows
   * carry no source text, so the per-row sha invariant is recorded as
   * absent (shaXor 0, source "sealHot"). An empty hot tier, or one whose
   * docIds overlap a committed segment's range, is refused at the commit.
   */
  def sealHot(spark: SparkSession, hot: DataFrame, dir: String, segId: Int,
              shufflePartitions: Int): Unit = {
    val ds = hot.select(col("docId").cast("long").as("docId"), col("dl").cast("int").as("dl"),
        col("normByte").cast("byte").as("normByte")).distinct()
      .withColumn("contentSha256", lit(""))
    commitSegment(spark, dir, segId, "sealHot",
      IndexBuilder.packBlocks(spark, IndexBuilder.hotPostingRows(hot), shufflePartitions).toDF(), ds,
      shaXor = Some(f"${0L}%016x"))(_ => ())
    finalizeStats(spark, dir)
  }

  /**
   * TieredMergePolicy analogue (reference index/TieredMergePolicy.java:
   * 95-103 — <=10 segments per tier, 33% delete budget): compact into
   * `outDir` when the committed segment count exceeds `maxSegments` OR the
   * tombstoned fraction exceeds `maxDeletePct`. Returns true iff a
   * compaction ran.
   */
  def maybeCompact(spark: SparkSession, dir: String, outDir: String,
                   shufflePartitions: Int, maxSegments: Int = 10,
                   maxDeletePct: Double = 0.33): Boolean = {
    val nSegs = committedSegmentDirs(dir).size
    val delPct =
      if (!Files.exists(Paths.get(s"$dir/deletes"))) 0.0
      else {
        val dead = spark.read.parquet(s"$dir/deletes").select("docId").distinct().count()
        val total = OpenIndex(spark, dir).stats.docCount
        if (total == 0) 0.0 else dead.toDouble / total
      }
    val due = nSegs > maxSegments || delPct > maxDeletePct
    if (due) compact(spark, dir, outDir, shufflePartitions)
    due
  }

  /**
   * Mark docs deleted (Lucene liveDocs, reference
   * codecs/lucene50/Lucene50LiveDocsFormat.java — a bitset sidecar per
   * segment): tombstones are an append-only parquet sidecar; queries
   * exclude tombstoned docs but collection/term stats still count them
   * until [[compact]] reclaims (exactly Lucene: deleted docs affect
   * docFreq until segments merge). Idempotent.
   */
  def delete(spark: SparkSession, dir: String, docIds: Seq[Long]): Unit = {
    import spark.implicits._
    docIds.toDF("docId").write.mode("append").parquet(s"$dir/deletes")
  }

  /**
   * Snapshot / backup (Solr ReplicationHandler backup + Lucene
   * SnapshotDeletionPolicy capability): copy the COMMITTED state —
   * manifest-bearing segment dirs, stats (incl. the persisted analyzer
   * chain), deletes, dv patches — to `destDir`, which is then itself a
   * complete index directory. Committed-manifest filtering means an
   * in-flight build's uncommitted segment is NOT captured: the snapshot
   * is a consistent commit-point view. Driver-side copy here; at cluster
   * scale the same path set goes through a storage-layer copy (distcp /
   * object-store clone) — the manifest filter is the part that matters.
   */
  def snapshot(dir: String, destDir: String): Unit = {
    require(Files.exists(Paths.get(dir, "segments")), s"no index at $dir")
    val dest = Paths.get(destDir)
    Files.createDirectories(dest)
    committedSegmentDirs(dir).foreach { seg =>
      val name = Paths.get(seg).getFileName.toString
      graft.util.Fs.copyTree(Paths.get(seg), dest.resolve("segments").resolve(name))
    }
    Seq("stats", "deletes", "dvpatch").foreach { sub =>
      val p = Paths.get(dir, sub)
      if (Files.exists(p)) graft.util.Fs.copyTree(p, dest.resolve(sub))
    }
  }

  /**
   * IndexSplitter (reference lucene/misc/src/java/org/apache/lucene/index/
   * IndexSplitter.java: "split the index by segment" — chosen segments
   * move to a standalone index, no doc rewriting). Segments are immutable
   * contiguous docId slices here, so a split is a commit-point copy of the
   * chosen segment dirs + a stats re-finalize; docIds stay as they were
   * (sparse ids are fine — nothing in the engine assumes density), and
   * tombstones/dv-patches carry over filtered to the split's id ranges.
   * The destination scores with ITS OWN collection stats, exactly like a
   * Lucene index after IndexSplitter + open.
   */
  def splitSegments(spark: SparkSession, srcDir: String, dstDir: String,
                    segIds: Seq[Int]): Unit = {
    require(segIds.nonEmpty)
    val all = committedSegmentDirs(srcDir)
    val byId = all.map(d => d.substring(d.lastIndexOf('=') + 1).toInt -> d).toMap
    segIds.foreach(id => require(byId.contains(id),
      s"segment $id not committed under $srcDir (have ${byId.keys.toSeq.sorted})"))
    val dest = Paths.get(dstDir)
    Files.createDirectories(dest)
    segIds.foreach { id =>
      graft.util.Fs.copyTree(Paths.get(byId(id)),
        dest.resolve("segments").resolve(s"seg=$id"))
    }
    val st = Paths.get(srcDir, "stats")
    if (Files.exists(st)) graft.util.Fs.copyTree(st, dest.resolve("stats"))
    // tombstones / dv patches restricted to the split's docId ranges
    val ranges: Seq[(Long, Long)] = segIds.map { id =>
      val f = s"${byId(id)}/MANIFEST.json"
      val m = Files.readString(Paths.get(f))
      (jsonLong(m, "docLo", f), jsonLong(m, "docHi", f))
    }
    val inRange = (c: org.apache.spark.sql.Column) =>
      ranges.map { case (lo, hi) => c >= lo && c < hi }.reduce(_ || _)
    Seq("deletes", "dvpatch").foreach { sub =>
      if (Files.exists(Paths.get(srcDir, sub))) {
        val kept = spark.read.parquet(s"$srcDir/$sub")
          .filter(inRange(col("docId")))
        if (!kept.isEmpty)
          kept.write.mode("overwrite").parquet(s"$dstDir/$sub")
      }
    }
    finalizeStats(spark, dstDir)
  }

  /**
   * In-place numeric doc-values update (reference index/IndexWriter.java
   * updateNumericDocValue — Lucene's one mutable-field mechanism: the
   * docvalues generation sidecar, no re-index): append-only patch rows
   * (docId, field, value, seq); readers coalesce the LATEST patch over
   * the stored column. Patches bake in at [[compact]] (Lucene: dv
   * generations collapse at merge). Idempotent, crash-safe (append-only
   * parquet; a torn write without footer is unreadable and re-written).
   */
  def updateNumericDocValue(spark: SparkSession, dir: String, docIds: Seq[Long],
                            field: String, value: Double): Unit = {
    import spark.implicits._
    val seq = System.nanoTime()
    docIds.map(id => (id, field, value, seq))
      .toDF("docId", "field", "value", "seq")
      .write.mode("append").parquet(s"$dir/dvpatch")
  }

  /** Coalesce the latest numeric patches over the stored docvalues
    * columns; patch values cast back to each column's declared type. */
  private[index] def applyDvPatches(spark: SparkSession, dir: String,
                                    dv: DataFrame): DataFrame = {
    if (!Files.exists(Paths.get(s"$dir/dvpatch"))) return dv
    val latest = spark.read.parquet(s"$dir/dvpatch")
      .groupBy("docId", "field")
      .agg(max_by(col("value"), col("seq")).as("value"))
    // O(#patched-fields) driver loop; each field's patch set broadcasts
    val fields = latest.select("field").distinct()
      .collect().map(_.getString(0)).filter(dv.columns.contains)
    fields.foldLeft(dv) { (df, f) =>
      val p = latest.filter(col("field") === f)
        .select(col("docId"), col("value").as("__patch"))
      val origType = df.schema(df.schema.fieldIndex(f)).dataType
      df.join(broadcast(p), Seq("docId"), "left")
        .withColumn(f, coalesce(col("__patch").cast(origType), col(f)))
        .drop("__patch")
    }
  }

  /**
   * IndexWriter.updateDocument analogue (reference index/IndexWriter.java
   * updateDocument — an atomic delete-by-term + addDocument): tombstone
   * the superseded docIds, then commit the replacement docs as a fresh
   * sealed segment analyzed through the index's OWN persisted chain.
   * Replacements must carry NEW docIds outside every committed segment's
   * range (docIds are immutable ordinals — exactly Lucene, where an
   * updated doc gets a new internal id; sealHot enforces the no-overlap
   * invariant). Readers see the update atomically at the manifest commit:
   * until then queries serve the old versions (tombstones are written
   * first, but a query between the two steps just sees a delete — never a
   * duplicate).
   */
  def updateDocuments(spark: SparkSession, dir: String, replacedIds: Seq[Long],
                      newDocs: DataFrame, idCol: String, contentCol: String,
                      shufflePartitions: Int): Unit = {
    import spark.implicits._
    val chain = OpenIndex(spark, dir).analyzer
    delete(spark, dir, replacedIds)
    val segId = committedSegmentDirs(dir)
      .map(p => p.substring(p.lastIndexOf('=') + 1).toInt).max + 1
    val hot = newDocs
      .select(col(idCol).cast("long"), col(contentCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (docId, content) =>
        val (tfs, dl) = chain.termFreqs(content)
        val nb = graft.codec.SmallFloat.intToByte4(dl)
        tfs.iterator.map { case (t, f) => (t, docId, f, nb, dl) }
      }
      .toDF("term", "docId", "tf", "normByte", "dl")
    sealHot(spark, hot, dir, segId, shufflePartitions)
  }

  /**
   * Segment compaction (TieredMergePolicy analogue, reference
   * index/SegmentMerger.java:97 — k-way sort-merge of segments): unpack all
   * committed segments' blocks to posting rows, re-shuffle by (term, docId)
   * range, repack into ONE new segment in `outDir`. The shuffle IS the
   * merge (SURVEY §2.2); docIds are global so no remapping is needed.
   * The input index is immutable; `outDir` is a fresh index directory.
   */
  def compact(spark: SparkSession, dir: String, outDir: String,
              shufflePartitions: Int): Unit = {
    import spark.implicits._
    val segDirs = committedSegmentDirs(dir)
    require(segDirs.nonEmpty, s"no committed segments under $dir")
    // deletes reclaimed here (Lucene: merges purge deleted docs and stats
    // shrink accordingly); tombstones are NOT carried to the output
    val dead: Option[DataFrame] =
      if (Files.exists(Paths.get(s"$dir/deletes")))
        Some(spark.read.parquet(s"$dir/deletes").select(col("docId").cast("long").as("docId")).distinct())
      else None
    def live(df: DataFrame): DataFrame = dead.fold(df)(d => df.join(d, Seq("docId"), "left_anti"))
    val blocks = spark.read.parquet(segDirs.map(_ + "/postings"): _*).as[BlockRow]
    val rows = live(QueryEngine.postingRows(blocks).toDF()).as[PostingRow]
    // every doc tombstoned -> no surviving rows: commitSegment refuses to
    // commit (an index over zero docs has undefined stats, like build()'s
    // empty-corpus require). maybeCompact's 33% delete budget makes
    // high-delete compactions the expected trigger path, so this case is
    // reachable, not hypothetical.
    commitSegment(spark, outDir, 0, s"compact($dir)",
      IndexBuilder.packBlocks(spark, rows, shufflePartitions).toDF(),
      live(spark.read.parquet(segDirs.map(_ + "/docstats"): _*))) { segDir =>
      // carry the positions tier (phrase support) when the source index has it
      val posDirs = segDirs.filter(d => Files.exists(Paths.get(d, "positions")))
      if (posDirs.nonEmpty)
        live(spark.read.parquet(posDirs.map(_ + "/positions"): _*))
          .repartitionByRange(shufflePartitions, col("term"))
          .sortWithinPartitions(col("term"), col("docId"))
          .write.mode("overwrite").parquet(s"$segDir/positions")
      // carry the doc-values tier likewise, BAKING IN any numeric dv
      // patches (Lucene: docvalues update generations collapse at merge)
      val dvDirs = segDirs.filter(d => Files.exists(Paths.get(d, "docvalues")))
      if (dvDirs.nonEmpty)
        applyDvPatches(spark, dir, live(spark.read.parquet(dvDirs.map(_ + "/docvalues"): _*)))
          .write.mode("overwrite").parquet(s"$segDir/docvalues")
    }
    finalizeStats(spark, outDir)
    // the merged index keeps the source's analysis chain
    val aj = Paths.get(s"$dir/stats/analyzer.json")
    if (Files.exists(aj))
      Files.copy(aj, Paths.get(s"$outDir/stats/analyzer.json"),
        StandardCopyOption.REPLACE_EXISTING)
  }

  /**
   * IndexWriter.addIndexes (reference lucene/core index/IndexWriter.java
   * addIndexes(Directory...): import another index's segments WITHOUT
   * re-analyzing — segments copy over with their internal doc ids rebased
   * past the destination's maxDoc, and the merged index scores with the
   * MERGED collection stats, exactly as Lucene's docBase remapping +
   * per-index stats merge behaves). The packed postings blocks never
   * decode: doc gaps are deltas, so the rebase only shifts each block's
   * absolute [minDoc, maxDoc] bounds — an O(blocks) columnar rewrite, not
   * an O(postings) rebuild. Positions/offsets/docvalues tiers and
   * tombstones/dv-patches shift the same way. Each imported segment
   * commits through [[commitSegment]], which re-derives its termstats from
   * the rebased blocks (term→df/ttf is id-independent, so they equal the
   * source's) and records the rebased [docLo, docHi); [[finalizeStats]]
   * re-merges the global stats last.
   *
   * Requires identical analysis chains (Lucene's implicit contract — a
   * foreign segment analyzed differently is silently wrong there; here it
   * throws). Crash-safe like the builder: rebased deletes/dv-patches land
   * FIRST (inert until their segments exist), then per-segment manifests
   * commit LAST, so a crashed import leaves only ignorable uncommitted
   * dirs plus inert tombstone rows — never a committed segment with its
   * deletes missing. Like the reference's addIndexes, a SUCCESSFUL call
   * is not idempotent (calling twice imports two copies).
   *
   * @return number of segments imported
   */
  def addIndexes(spark: SparkSession, dstDir: String, srcDir: String): Int = {
    val dstChain = analyzerJson(dstDir)
    val srcChain = analyzerJson(srcDir)
    require(dstChain == srcChain,
      s"addIndexes requires identical analysis chains (dst=$dstChain src=$srcChain)")
    val dstSegs = committedSegmentDirs(dstDir)
    val srcSegs = committedSegmentDirs(srcDir)
    require(dstSegs.nonEmpty, s"no committed segments under $dstDir")
    require(srcSegs.nonEmpty, s"no committed segments under $srcDir")
    val offset = spark.read.parquet(dstSegs.map(_ + "/docstats"): _*)
      .agg(max("docId")).head().getLong(0) + 1L
    val nextSeg0 = dstSegs
      .map(d => d.substring(d.lastIndexOf('=') + 1).toInt).max + 1
    // deletes/dvpatch FIRST, segment manifests LAST: a rebased delete or
    // dv patch for a docId whose segment never commits is inert (both
    // tiers join against existing docs), but a committed segment whose
    // deletes were lost in a crash window would resurrect deleted docs.
    if (Files.exists(Paths.get(s"$srcDir/deletes")))
      spark.read.parquet(s"$srcDir/deletes")
        .select((col("docId").cast("long") + offset).as("docId"))
        .write.mode("append").parquet(s"$dstDir/deletes")
    if (Files.exists(Paths.get(s"$srcDir/dvpatch")))
      spark.read.parquet(s"$srcDir/dvpatch")
        .withColumn("docId", col("docId") + offset)
        .write.mode("append").parquet(s"$dstDir/dvpatch")
    srcSegs.zipWithIndex.foreach { case (srcSeg, i) =>
      // the content shaXor carries over (bytes unchanged by a rebase)
      val srcMan = Files.readString(Paths.get(s"$srcSeg/MANIFEST.json"))
      commitSegment(spark, dstDir, nextSeg0 + i, s"addIndexes:$srcDir",
        spark.read.parquet(s"$srcSeg/postings")
          .withColumn("minDoc", col("minDoc") + offset)
          .withColumn("maxDoc", col("maxDoc") + offset),
        spark.read.parquet(s"$srcSeg/docstats").withColumn("docId", col("docId") + offset),
        shaXor = Some(jsonField(srcMan, "shaXor", JsonString).getOrElse(f"${0L}%016x"))) { segDir =>
        Seq("positions", "offsets", "docvalues").foreach { tier =>
          if (Files.exists(Paths.get(s"$srcSeg/$tier")))
            spark.read.parquet(s"$srcSeg/$tier")
              .withColumn("docId", col("docId") + offset)
              .write.mode("overwrite").parquet(s"$segDir/$tier")
        }
      }
    }
    finalizeStats(spark, dstDir)
    srcSegs.size
  }

  private def analyzerJson(dir: String): String = {
    val p = Paths.get(s"$dir/stats/analyzer.json")
    if (Files.exists(p)) Files.readString(p) else ""
  }

  /** Aggregate global stats over all committed segments (Lucene's
    * IndexSearcher-level collection stats across leaves). Per-segment
    * termstats (written at segment commit) merge with a vocab-sized
    * aggregation — no re-read of the postings table; corpus stats come
    * straight from the manifests (no docstats scan). Segments from older
    * layouts without a termstats dir fall back to the postings read. */
  def finalizeStats(spark: SparkSession, dir: String): Unit = {
    val segDirs = committedSegmentDirs(dir)
    require(segDirs.nonEmpty, s"no committed segments under $dir")
    import spark.implicits._
    val tsDirs = segDirs.map(_ + "/termstats").filter(p => Files.exists(Paths.get(p)))
    if (tsDirs.size == 1 && segDirs.size == 1) {
      // single segment: its termstats ARE the global stats — driver-side
      // file copy, no Spark job
      val out = Paths.get(s"$dir/stats/termstats")
      graft.util.Fs.rmTree(out.toString)
      Files.createDirectories(out)
      val it = Files.list(Paths.get(tsDirs.head)).iterator()
      while (it.hasNext) {
        val f = it.next()
        Files.copy(f, out.resolve(f.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
      }
    } else {
      val merged =
        if (tsDirs.size == segDirs.size)
          spark.read.parquet(tsDirs: _*)
            .groupBy("term").agg(sum("df").as("df"), sum("ttf").as("ttf"))
        else
          IndexBuilder.termStats(
            spark.read.parquet(segDirs.map(_ + "/postings"): _*).as[BlockRow])
      merged.write.mode("overwrite").parquet(s"$dir/stats/termstats")
    }
    var docCount = 0L
    var sumTtf = 0L
    manifests(dir).foreach { case (f, m) =>
      docCount += jsonLong(m, "docCount", f)
      sumTtf += jsonLong(m, "sumDl", f)
    }
    val json = s"""{"docCount":$docCount,"sumTotalTermFreq":$sumTtf}"""
    Files.createDirectories(Paths.get(s"$dir/stats"))
    Files.writeString(Paths.get(s"$dir/stats/corpus.json"), json)
  }

  /**
   * Build a SORTED doc-values tier — the analogue of Lucene's index-time
   * sort (reference IndexWriterConfig.setIndexSort + TopFieldCollector
   * early termination): the chosen columns are written range-partitioned
   * on `sortCol` and sorted (sortCol, docId) within each partition, so a
   * query sorted the same way terminates after k rows per partition (see
   * [[OpenIndex.topKByFieldSorted]]) and range predicates prune whole
   * files by parquet min/max. Like the reference, the sort direction and
   * field are fixed at write time; in-place DV patches do NOT apply to
   * this tier (Lucene likewise forbids updating the index-sort field).
   */
  def buildSortedDocValues(spark: SparkSession, corpusWithIds: DataFrame,
                           dir: String, sortCol: String, cols: Seq[String],
                           partitions: Int): Unit = {
    corpusWithIds
      .select((col("docId") +: (sortCol +: cols.filterNot(_ == sortCol)).map(col)): _*)
      .repartitionByRange(partitions, col(sortCol), col("docId"))
      .sortWithinPartitions(col(sortCol), col("docId"))
      .write.mode("overwrite").parquet(s"$dir/dvsorted/$sortCol")
  }

  /** Open a committed index for querying. */
  final case class OpenIndex(spark: SparkSession, dir: String) {
    import spark.implicits._
    private lazy val segDirs: Seq[String] = {
      val d = committedSegmentDirs(dir)
      require(d.nonEmpty, s"no committed segments under $dir")
      d
    }
    private lazy val rawBlocks: Dataset[BlockRow] =
      spark.read.parquet(segDirs.map(_ + "/postings"): _*).as[BlockRow]
    /** The postings all queries read: the warmed (persisted, optionally
      * coalesced) copy once [[warm]] ran, the plain parquet scan before. */
    def blocks: Dataset[BlockRow] = warmed.getOrElse(rawBlocks)
    lazy val docstats: DataFrame = spark.read.parquet(segDirs.map(_ + "/docstats"): _*)
    lazy val termstats: DataFrame = spark.read.parquet(s"$dir/stats/termstats")
    lazy val stats: CorpusStats = {
      val f = s"$dir/stats/corpus.json"
      val s = Files.readString(Paths.get(f))
      CorpusStats(jsonLong(s, "docCount", f), jsonLong(s, "sumTotalTermFreq", f))
    }
    /** The analysis chain the index was built with (stats/analyzer.json;
      * standard for pre-chain indexes). Query text must go through THIS
      * chain — e.g. a stemmed index matches query "running" via its stem. */
    lazy val analyzer: graft.analysis.AnalyzerChain = {
      val p = Paths.get(s"$dir/stats/analyzer.json")
      if (Files.exists(p)) graft.analysis.AnalyzerChain.fromJson(Files.readString(p))
      else graft.analysis.AnalyzerChain.standard
    }

    /** Analyze query text with the index's own chain (terms only). */
    def analyzeQuery(text: String): Seq[String] = analyzer.terms(text)

    /** liveDocs tombstones (None when the index has no deletes). */
    lazy val deletes: Option[DataFrame] =
      if (Files.exists(Paths.get(s"$dir/deletes")))
        Some(spark.read.parquet(s"$dir/deletes")
          .select(col("docId").cast("long").as("docId")).distinct())
      else None

    /** Per-index term-dictionary memo (see QueryEngine.DfCache): repeat
      * queries plan without a stats-lookup Spark job. */
    val dfCache: QueryEngine.DfCache = QueryEngine.newDfCache()

    /** Pin the postings in executor memory (spill to disk) — the Lucene
      * page-cache analogue for query-heavy sessions. Lazy: materialized by
      * the first query.
      *
      * `numPartitions` > 0 coalesces the cached postings: a small top-k
      * query launches one task per cached partition, so a file-count-sized
      * layout (e.g. 64 build shuffle files) pays 64 task launches per query
      * — pure scheduler overhead for queries that read a handful of blocks.
      * Query-heavy sessions should size this near the executor-core count. */
    def warm(numPartitions: Int = 0): this.type = {
      val ds = if (numPartitions > 0) rawBlocks.coalesce(numPartitions) else rawBlocks
      warmed = Some(ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      this
    }
    private var warmed: Option[Dataset[BlockRow]] = None

    /** Run a scored request ([[QueryEngine.run]]) over this index: its
      * postings, dictionary, collection stats and df memo, with tombstones
      * excluded inside the planner, before the limit. */
    def run(req: QueryEngine.Request): DataFrame =
      QueryEngine.run(spark, blocks, termstats, stats, req, deletes, Some(dfCache))

    /** Drop this index's tombstoned docs from a docId-keyed frame. */
    def liveDocs(docs: DataFrame): DataFrame = QueryEngine.liveDocs(docs, deletes)

    /** BM25 (or `sim`) top-k over the query terms. `prune` and `wand` are
      * ignored — the planner turns block-max skipping on whenever it is
      * sound — and stay only because the benchmark's query classes still
      * pass them. */
    def topK(terms: Seq[String], k: Int, mode: QueryEngine.Mode = QueryEngine.Or,
             mustNot: Seq[String] = Nil, prune: Boolean = false,
             wand: Boolean = false,
             sim: graft.query.Similarity = null): DataFrame =
      run(QueryEngine.Request(QueryEngine.Terms(terms, sim), k, mode, mustNot))

    /** Solr queryResultCache analogue (solr/core .../search/SolrIndexSearcher
      * queryResultCache; Lucene LRUQueryCache is the filter-level cousin):
      * bounded LRU of COLLECTED top-k results keyed by the full query
      * signature. Safe without invalidation because an OpenIndex is an
      * immutable snapshot (all tiers are lazy vals over committed
      * segments) — a reopened index is a NEW OpenIndex with an empty
      * cache, exactly Solr's per-searcher cache lifecycle. Entries are
      * k-row arrays: driver memory is O(cacheSize x k). */
    private val resultCache =
      new java.util.LinkedHashMap[String, Array[org.apache.spark.sql.Row]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[org.apache.spark.sql.Row]]): Boolean =
          size() > IndexStore.QueryResultCacheSize
      }

    /** Filter-cache entries: fq cacheKey -> persisted docId set (the Spark
      * analogue of Solr's filterCache bitset DocSets — computed once per
      * commit point, reused across DIFFERENT main queries). Bounded LRU
      * like Solr's filterCache (solrconfig defaults cap it too): evicted
      * entries unpersist their cached blocks so many distinct fqs cannot
      * accumulate storage indefinitely. */
    private val filterCache =
      new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, DataFrame]): Boolean = {
          val evict = size() > IndexStore.FilterCacheSize
          if (evict) e.getValue.unpersist(blocking = false)
          evict
        }
      }

    private[index] def filterCacheEntries: Int =
      filterCache.synchronized(filterCache.size())

    /** The fq's DocSet, computed once and persisted (SolrIndexSearcher
      * .getDocSet + filterCache semantics). */
    def cachedFilterDocs(fq: IndexStore.Fq): DataFrame = filterCache.synchronized {
      val hit = filterCache.get(fq.cacheKey)
      if (hit != null) hit
      else {
        val ds = fq match {
          case IndexStore.FqTerms(ts, mode) =>
            QueryEngine.matchingDocs(spark, blocks, ts, mode)
          case IndexStore.FqDocValue(field, value) =>
            docvalues.filter(col(field) === value).select("docId")
        }
        val persisted = ds.select(col("docId")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        filterCache.put(fq.cacheKey, persisted)
        persisted
      }
    }

    /**
     * Solr `q` + `fq` (reference solr/core .../search/SolrIndexSearcher
     * .java getDocListC: filter queries restrict the match set WITHOUT
     * contributing to scores, and their DocSets live in the filterCache
     * keyed by the filter alone — one fq serves every main query). A
     * doc's score here is bit-identical to its unfiltered topK score;
     * the filter is a join against the cached docId set, never a scoring
     * clause. Ranking runs over the FULL filtered match set, so the
     * filter can surface docs from outside the unfiltered top-k.
     */
    def topKWithFilter(terms: Seq[String], k: Int, fq: IndexStore.Fq,
                       mode: QueryEngine.Mode = QueryEngine.Or): DataFrame =
      run(QueryEngine.Request(QueryEngine.Terms(terms), k, mode,
        filter = Some(cachedFilterDocs(fq))))

    def topKCached(terms: Seq[String], k: Int, mode: QueryEngine.Mode = QueryEngine.Or,
                   mustNot: Seq[String] = Nil): DataFrame = {
      val key = s"${terms.mkString(",")}|$k|$mode|${mustNot.mkString(",")}"
      // on a hit, do NOT even construct the underlying plan (query planning
      // runs driver-side stats lookups) — the hit costs zero Spark jobs
      val rows = resultCache.synchronized(Option(resultCache.get(key))).getOrElse {
        val r = topK(terms, k, mode, mustNot).collect()
        resultCache.synchronized(resultCache.put(key, r))
        r
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), IndexStore.TopKSchema)
    }

    /**
     * Time-budgeted top-k (reference TimeLimitingCollector /
     * IndexSearcher timeAllowed: stop collecting when the budget expires
     * and return the PARTIAL results collected so far, flagged). Spark
     * shape: segments are searched newest-first, one bounded job each
     * (a job is the natural preemption boundary — a partial shuffle has
     * no results to keep); at least one segment always completes.
     * Segments partition docs and scorers use global stats, so the
     * searched-prefix merge is exact for those segments.
     * Returns (hits ordered (score DESC, docId ASC), partial?).
     */
    def topKBudgeted(terms: Seq[String], k: Int, budgetMs: Long): (Seq[(Long, Float)], Boolean) = {
      import spark.implicits._
      val deadline = System.nanoTime() + budgetMs * 1000000L
      val infos = QueryEngine.plan(termstats, stats, terms, dfCache = Some(dfCache))
      if (infos.isEmpty) return (Nil, false)
      var merged = Vector.empty[(Long, Float)]
      var searched = 0
      // newest first by NUMERIC seg id (lexicographic dir order would put
      // seg=10 before seg=2)
      val segs = segDirs.sortBy(d =>
        -d.substring(d.lastIndexOf("seg=") + 4).toLong)
      for (sd <- segs if searched == 0 || System.nanoTime() < deadline) {
        val segBlocks = spark.read.parquet(s"$sd/postings").as[graft.index.BlockRow]
        val rows = QueryEngine.run(spark, segBlocks, termstats, stats,
            QueryEngine.Request(QueryEngine.Infos(infos), k), deletes)
          .collect().map(r => (r.getLong(0), r.getFloat(1)))
        merged = (merged ++ rows).sortBy { case (id, s) => (-s, id) }.take(k)
        searched += 1
      }
      (merged, searched < segs.size)
    }

    /** Per-term score breakdown for one doc (IndexSearcher.explain). */
    def explain(terms: Seq[String], docId: Long): DataFrame =
      QueryEngine.explain(spark, blocks, termstats, stats, terms, docId)

    /** Positions tier across the segments that HAVE one — a mixed index
      * (e.g. a sealed hot segment, which carries no positions) must not
      * fail phrase queries over the segments that do. */
    lazy val positions: DataFrame = {
      val posDirs = segDirs.map(_ + "/positions")
        .filter(p => Files.exists(Paths.get(p)))
      require(posDirs.nonEmpty,
        s"index at $dir has no positions tier (build with withPositions = true)")
      spark.read.parquet(posDirs: _*)
    }

    /** Parse + execute a classic query string ("+spark (query OR join)
      * -slow \"data group\"~2 pre* fuzzy~1 [a TO c]") — see
      * [[graft.query.QueryParser]] / [[graft.query.Searcher]]. */
    def search(query: String, k: Int): DataFrame =
      graft.query.Searcher.search(this, query, k)

    /** XML query (CoreParser dialect) search — [[graft.query.XmlParser]]. */
    def searchXml(xml: String, k: Int): DataFrame =
      graft.query.Searcher.searchXml(this, xml, k)

    /** Decoded postings of one term: (docId, tf) — the raw read API. */
    def postings(term: String): DataFrame =
      QueryEngine.postingRows(blocks.filter(col("term") === term)).select("docId", "tf")

    /**
     * More-like-this (reference lucene/queries MoreLikeThis.java: select
     * the source text's most "interesting" terms by tf·idf against the
     * index's stats, then run them as an OR query). `maxQueryTerms`
     * matches the reference default of 25. The source doc itself (pass
     * its docId as `excludeDocId`) is excluded from results.
     */
    def moreLikeThis(text: String, k: Int, maxQueryTerms: Int = 25,
                     minTermFreq: Int = 1, excludeDocId: Long = -1L): DataFrame = {
      val (tfs, _) = graft.analysis.Analyzer.termFreqs(text)
      val candidates = tfs.filter(_._2 >= minTermFreq).keys.toSeq
      if (candidates.isEmpty)
        return QueryEngine.noHits(spark)
      val dfs = QueryEngine.lookupDfs(termstats, candidates, Some(dfCache))
      // interestingness = tf * idf, ties broken by term for determinism
      val chosen = candidates
        .filter(dfs.contains)
        .map(t => (t, tfs(t) * graft.query.BM25.idf(dfs(t), stats.docCount)))
        .sortBy { case (t, w) => (-w, t) }
        .take(maxQueryTerms).map(_._1)
      val hits = topK(chosen, k + 1)
      (if (excludeDocId < 0) hits else hits.filter(col("docId") =!= excludeDocId))
        .orderBy(desc("score"), asc("docId")).limit(k)
    }

    /** MoreLikeThisHandler `interestingTerms=details` (reference solr/core/
      * src/java/org/apache/solr/handler/MoreLikeThisHandler.java:267-300
      * InterestingTerm list): the terms [[moreLikeThis]] would query with,
      * with their source tf, corpus df, and tf·idf interestingness —
      * ranked (weight DESC, term ASC), capped at `maxQueryTerms`. Weight
      * is computed in double (same ln-idf the scorer uses); stats come
      * from the cached df lookups, so the frame is a bounded local list. */
    def mltInterestingTerms(text: String, maxQueryTerms: Int = 25,
                            minTermFreq: Int = 1): DataFrame = {
      import spark.implicits._
      val (tfs, _) = graft.analysis.Analyzer.termFreqs(text)
      val candidates = tfs.filter(_._2 >= minTermFreq).keys.toSeq
      val dfs =
        if (candidates.isEmpty) Map.empty[String, Long]
        else QueryEngine.lookupDfs(termstats, candidates, Some(dfCache))
      candidates.filter(dfs.contains)
        .map { t =>
          val w = tfs(t) * math.log(
            1.0 + (stats.docCount - dfs(t) + 0.5) / (dfs(t) + 0.5))
          (t, tfs(t), dfs(t), w)
        }
        .sortBy { case (t, _, _, w) => (-w, t) }
        .take(maxQueryTerms)
        .toDF("term", "tf", "df", "weight")
    }

    /** Offsets tier (.pay analogue): (docId, term, poss, starts, ends) —
      * only from segments that have it (mixed-index robustness, same rule
      * as the positions tier). */
    lazy val offsets: DataFrame = {
      val dirs = segDirs.map(_ + "/offsets").filter(p => Files.exists(Paths.get(p)))
      require(dirs.nonEmpty, s"index at $dir has no offsets tier (build with withOffsets=true)")
      spark.read.parquet(dirs: _*)
    }

    /**
     * Passage-ranked highlighting over the offsets tier (reference
     * lucene/highlighter UnifiedHighlighter.java semantics: score passages,
     * return the best N per doc — not the first match). Passages are fixed
     * non-overlapping token windows of `window` positions; a passage's
     * rank key is (match count DESC, passage ASC) — integer-exact, so the
     * whole result is oracle-checkable. Returns one row per kept passage:
     * (docId, passage, n_matches, char_start, char_end) where the char
     * bounds span the MATCHED occurrences (offsets into the original
     * text — the caller slices its stored text to render the fragment).
     * Only the query terms' offset rows are read (term-pruned scan).
     */
    def highlightPassages(terms: Seq[String], window: Int, topPassages: Int,
                          docIds: Option[Seq[Long]] = None): DataFrame = {
      require(window > 0 && topPassages > 0)
      val base = offsets.filter(col("term").isin(terms.distinct: _*))
      val scoped = docIds.fold(base)(ids => base.filter(col("docId").isin(ids: _*)))
      val occ = scoped
        .select(col("docId"), explode(arrays_zip(col("poss"), col("starts"), col("ends"))).as("o"))
        .select(col("docId"), (col("o.poss") / window).cast("int").as("passage"),
          col("o.starts").as("s"), col("o.ends").as("e"))
      val perPassage = occ.groupBy("docId", "passage")
        .agg(count("*").as("n_matches"), min("s").as("char_start"), max("e").as("char_end"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("docId").orderBy(desc("n_matches"), asc("passage"))
      perPassage.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= topPassages).drop("__rk")
    }

    /**
     * BM25-weighted passage ranking (UnifiedHighlighter's PassageScorer
     * shape): each occurrence of term t contributes idf(t); passages rank
     * by (summed weight DESC, passage ASC). Float-ranked — covered by the
     * HighlightSpec parity test rather than a SQL oracle. Returns
     * (docId, passage, score, char_start, char_end).
     */
    def highlightPassagesWeighted(terms: Seq[String], window: Int, topPassages: Int,
                                  docIds: Option[Seq[Long]] = None): DataFrame = {
      require(window > 0 && topPassages > 0)
      val qs = terms.distinct
      val dfs = QueryEngine.lookupDfs(termstats, qs, Some(dfCache))
      val weights = qs.collect { case t if dfs.contains(t) =>
        t -> graft.query.BM25.idf(dfs(t), stats.docCount)
      }.toMap
      if (weights.isEmpty)
        return spark.range(0).select(col("id").as("docId"), lit(0).as("passage"),
          lit(0d).as("score"), lit(0).as("char_start"), lit(0).as("char_end"))
      val wCol = weights.foldLeft(lit(0d)) { case (acc, (t, wt)) =>
        when(col("term") === t, lit(wt)).otherwise(acc)
      }
      val base = offsets.filter(col("term").isin(weights.keys.toSeq: _*))
      val scoped = docIds.fold(base)(ids => base.filter(col("docId").isin(ids: _*)))
      val occ = scoped
        .select(col("docId"), col("term"), explode(arrays_zip(col("poss"), col("starts"), col("ends"))).as("o"))
        .select(col("docId"), (col("o.poss") / window).cast("int").as("passage"),
          wCol.as("w"), col("o.starts").as("s"), col("o.ends").as("e"))
      val perPassage = occ.groupBy("docId", "passage")
        .agg(sum("w").as("score"), min("s").as("char_start"), max("e").as("char_end"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("docId").orderBy(desc("score"), asc("passage"))
      perPassage.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= topPassages).drop("__rk")
    }

    /** Prefix suggester over the term dictionary, weighted by document
      * frequency (reference lucene/suggest AnalyzingSuggester capability:
      * dictionary-driven completions ranked by weight). */
    def suggest(prefix: String, k: Int): DataFrame =
      termstats.filter(col("term").startsWith(prefix))
        .orderBy(desc("df"), asc("term")).limit(k)
        .select(col("term"), col("df"))

    /** MultiTermQuery SCORING_BOOLEAN_REWRITE (reference search/
      * MultiTermQuery.java + ScoringRewrite.java): dictionary expansion
      * whose terms keep REAL BM25 scores — the scoring twin of the
      * constant-score [[QueryEngine.Expanded]] request. Expansion capped at
      * MaxClauseCount highest-df terms (the TooManyClauses guard). */
    def multiTermScoredTopK(termPred: org.apache.spark.sql.Column, k: Int): DataFrame =
      topK(QueryEngine.expand(termstats, termPred), k)

    /** TermsComponent dictionary enumeration (reference solr/core .../
      * handler/component/TermsComponent.java: terms.prefix / terms.regex /
      * terms.limit / terms.sort=count|index): matching dictionary terms
      * with their dfs. A pure scan of the 2-column termstats — prefix
      * pushes down; never touches postings. */
    def termsEnum(prefix: Option[String] = None, regex: Option[String] = None,
                  limit: Int = 10, sortByCount: Boolean = true): DataFrame = {
      var t = termstats.select(col("term"), col("df"))
      prefix.foreach(p => t = t.filter(col("term").startsWith(p)))
      regex.foreach(r => t = t.filter(col("term").rlike(r)))
      (if (sortByCount) t.orderBy(desc("df"), asc("term"))
       else t.orderBy(asc("term"))).limit(limit)
    }

    /** Context-filtered completions (reference lucene/suggest document/
      * ContextQuery.java:60-77 + ContextSuggestField): prefix completions
      * restricted to docs whose `contextCol` doc-value is one of the
      * requested contexts, ranked by Σ_c boost_c · df_within_c — the
      * reference's weight × context-boost scoring with within-context df
      * standing in for the suggestion weight (as [[suggest]] uses global
      * df). Candidates prefix-prune on the 2-column termstats (bounded
      * MaxClauseCount); only their blocks decode; context membership is a
      * join against the narrow doc-values tier. */
    def suggestWithContexts(prefix: String, k: Int, contextCol: String,
                            contexts: Map[String, Float]): DataFrame = {
      require(contexts.nonEmpty)
      val cands = QueryEngine.expand(termstats, col("term").startsWith(prefix))
      if (cands.isEmpty)
        return spark.range(0).select($"id".cast("string").as("term"), lit(0.0).as("score"))
      val pairs = QueryEngine.postingRows(blocks.filter($"term".isin(cands: _*)))
        .select("term", "docId").distinct()
      val ctx = docvalues
        .select(col("docId"), col(contextCol).cast("string").as("__ctx"))
        .filter(col("__ctx").isin(contexts.keys.toSeq: _*))
      val boostCol = coalesce(contexts.toSeq
        .map { case (c, w) => when(col("__ctx") === c, lit(w.toDouble)) }: _*)
      pairs.join(ctx, "docId")
        .select(col("term"), boostCol.as("__w"))
        .groupBy("term").agg(round(sum("__w"), 5).as("score"))
        .orderBy(desc("score"), asc("term")).limit(k)
    }

    /** Character-bigram spell dictionary: (gram, term, df, len), one row
      * per DISTINCT bigram of each dictionary term. The Spark analogue of
      * intersecting a Levenshtein automaton with the term dictionary
      * (reference search/FuzzyTermsEnum.java + the n-gram SpellChecker in
      * lucene/suggest): fuzzy expansion probes only the query's own grams
      * instead of scanning the full vocabulary. Built once per index,
      * persisted (at 100 TB this is a written gram-bucketed sidecar table,
      * like the ANN sign index). */
    lazy val spellGrams: DataFrame = {
      import spark.implicits._
      termstats.select(col("term"), col("df"))
        .as[(String, Long)]
        .flatMap { case (t, df) =>
          val grams = (0 until t.length - 1).map(i => t.substring(i, i + 2)).distinct
          grams.iterator.map(g => (g, t, df, t.length))
        }
        .toDF("gram", "term", "df", "len")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    /** Deletion-neighborhood sidecar for SHORT terms (the SymSpell
      * construction): (key, term, df) where key ranges over every variant
      * of the term with up to [[IndexStore.SidecarEdits]] characters
      * deleted. If editDistance(w, t) <= e then deleting the edited
      * positions from each side yields a COMMON variant, so probing the
      * word's own deletion variants finds every true neighbor. Only terms
      * <= [[IndexStore.ShortLen]] chars participate (short words are
      * exactly where bigram counting loses its threshold; long terms keep
      * the gram path). */
    lazy val spellDeletes: DataFrame = {
      import spark.implicits._
      termstats.select(col("term"), col("df"))
        .as[(String, Long)]
        .flatMap { case (t, df) =>
          if (t.length > IndexStore.ShortLen) Iterator.empty
          else IndexStore.deleteVariants(t, IndexStore.SidecarEdits).iterator.map(k => (k, t, df))
        }
        .toDF("key", "term", "df")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    /** Dictionary terms that can possibly be within `maxEdits` of `word`
      * — (term, df), a conservative SUPERSET of the true neighborhood.
      * Three tiers, most-pruned first:
      *  1. bigram counting (long enough words): one edit destroys at most
      *     2 bigram occurrences, so a true neighbor retains >=
      *     |distinctGrams(word)| - 2*maxEdits distinct grams of the word
      *     and its length differs by <= maxEdits;
      *  2. deletion-neighborhood probe (short words) via [[spellDeletes]];
      *  3. length-pruned scan (rare: long words with degenerate gram sets,
      *     e.g. "aaaaaaaaaaaa" — correct, just wider).
      * Callers apply exact levenshtein on the candidate set. */
    def fuzzyCandidates(word: String, maxEdits: Int,
                        transpositions: Boolean = false): DataFrame = {
      val grams = (0 until word.length - 1).map(i => word.substring(i, i + 2)).distinct
      // one substitution/indel destroys <= 2 distinct-bigram occurrences;
      // a transposition touches bigrams at i-1, i, i+1 -> <= 3
      val threshold = grams.size - (if (transpositions) 3 else 2) * maxEdits
      val lenOk = abs(length(col("term")) - word.length) <= maxEdits
      if (threshold >= 1)
        spellGrams
          .filter(col("gram").isin(grams: _*) && abs(col("len") - word.length) <= maxEdits)
          .groupBy("term", "df").agg(count("*").as("__ng"))
          .filter(col("__ng") >= threshold)
          .select("term", "df")
      else if (word.length + maxEdits <= IndexStore.ShortLen && maxEdits <= IndexStore.SidecarEdits) {
        val keys = IndexStore.deleteVariants(word, maxEdits)
        spellDeletes.filter(col("key").isin(keys.toSeq: _*))
          .select("term", "df").distinct()
      } else
        termstats.filter(lenOk).select("term", "df")
    }

    /** Fuzzy term expansion (FuzzyQuery rewrite): dictionary terms within
      * `maxEdits`, highest-df first, capped at MaxClauseCount — via the
      * gram-pruned candidate set, NOT a full-vocabulary levenshtein scan. */
    def fuzzyExpand(word: String, maxEdits: Int): Seq[String] =
      QueryEngine.expand(fuzzyCandidates(word, maxEdits),
        levenshtein(col("term"), lit(word)) <= maxEdits)

    /** Spell correction (reference lucene/suggest DirectSpellChecker
      * capability): dictionary terms within `maxEdits` of the input,
      * ranked (edit distance ASC, df DESC, term ASC). Candidates come from
      * the gram-pruned [[fuzzyCandidates]]; exact levenshtein runs only on
      * that small set. */
    def spellCorrect(word: String, maxEdits: Int, k: Int,
                     transpositions: Boolean = false): DataFrame = {
      // transpositions=true is the reference DEFAULT (FuzzyQuery.java:69):
      // adjacent swaps cost ONE edit (OSA metric, graft_damerau codegen
      // expression); the deletion-neighborhood sidecar bound still holds
      // (a transposed pair shares a deletion variant at the same depth)
      val dist =
        if (transpositions)
          graft.functions.DamerauLevenshtein(col("term"), lit(word))
        else levenshtein(col("term"), lit(word))
      fuzzyCandidates(word, maxEdits, transpositions)
        .filter(dist <= maxEdits && col("term") =!= word)
        .withColumn("dist", dist.cast("int"))
        .orderBy(asc("dist"), desc("df"), asc("term")).limit(k)
        .select(col("term"), col("dist"), col("df"))
    }

    /** Infix suggester (reference lucene/suggest AnalyzingInfixSuggester
      * capability): dictionary terms CONTAINING the query anywhere, ranked
      * by df (weight) then term. Same narrow 2-column termstats scan as
      * the prefix suggester — an infix match can't use the term-ordered
      * sort, exactly like the reference's separate infix index. */
    /** FuzzySuggester (reference lucene/suggest analyzing/FuzzySuggester
      * .java:54-109 defaults: maxEdits 1, transpositions, nonFuzzyPrefix 1,
      * minFuzzyLength 3): prefix suggestions tolerating edits after the
      * first `nonFuzzyPrefix` chars; queries shorter than `minFuzzyLength`
      * match exactly. A dictionary term matches when SOME prefix of it is
      * within `maxEdits` OSA edits of the query — for maxEdits e that
      * prefix has length within ±e of the query's, so the check is a
      * bounded `least` over 2e+1 Damerau distances (the same
      * automaton-free trick the spell path uses). Pushdown: the
      * non-fuzzy-prefix startsWith and a ±e length floor reach the
      * 2-column termstats scan; ranked (df DESC, term ASC) like suggest.
      */
    def suggestFuzzy(q: String, k: Int, maxEdits: Int = 1,
                     nonFuzzyPrefix: Int = 1, minFuzzyLength: Int = 3): DataFrame = {
      if (q.length < minFuzzyLength) suggest(q, k)
      else {
        val hard = q.substring(0, math.min(nonFuzzyPrefix, q.length))
        val dists = (-maxEdits to maxEdits).map { d =>
          val l = q.length + d
          when(length(col("term")) >= l,
            graft.functions.DamerauLevenshtein(substring(col("term"), 1, l), lit(q)))
            .otherwise(Int.MaxValue)
        }
        termstats
          .filter(col("term").startsWith(hard) &&
            length(col("term")) >= q.length - maxEdits)
          .withColumn("dist", least(dists: _*))
          .filter(col("dist") <= maxEdits)
          .orderBy(desc("df"), asc("term")).limit(k)
          .select(col("term"), col("dist").cast("int").as("dist"), col("df"))
      }
    }

    def suggestInfix(q: String, k: Int): DataFrame =
      termstats.filter(col("term").contains(q))
        .orderBy(desc("df"), asc("term")).limit(k)
        .select(col("term"), col("df"))

    /** BlendedInfixSuggester (reference lucene/suggest/src/java/org/
      * apache/lucene/search/suggest/analyzing/BlendedInfixSuggester
      * .java:62-93, 200-260): document suggestions where every query
      * token must match (the last as a prefix — AnalyzingInfixSuggester's
      * MUST clauses) and the score is weight × a coefficient of the
      * EARLIEST first-occurrence position among matched tokens —
      * `linear` 1 − 0.10·pos, `reciprocal` 1/(pos+1),
      * `exponential_reciprocal` 1/(pos+1)^exponent. Weights default to 1
      * (pass a (docId, weight) frame for dictionary weights). One pruned
      * positions read + one bounded aggregation; TakeOrderedAndProject
      * top-k. Returns (docId, position, score). */
    def suggestBlendedInfix(q: String, k: Int, blender: String = "linear",
                            exponent: Double = 2.0,
                            weights: Option[DataFrame] = None): DataFrame = {
      val toks = analyzeQuery(q)
      require(toks.nonEmpty, "blended-infix: empty query after analysis")
      val exact = toks.init
      val prefix = toks.last
      val matchPred =
        if (exact.nonEmpty) col("term").isin(exact: _*) || col("term").startsWith(prefix)
        else col("term").startsWith(prefix)
      val rows = positions.filter(matchPred)
        .select(col("docId"), col("term"),
          element_at(col("poss"), 1).cast("long").as("first_pos"))
      val agg = rows.groupBy("docId").agg(
        min("first_pos").as("position"),
        count(when(!col("term").startsWith(prefix), col("term"))).as("__n_nonpfx"),
        sum(when(col("term").startsWith(prefix), 1L).otherwise(0L)).as("__n_pfx"))
      // every non-last token exact + at least one prefix completion
      val exactOnly = exact.filterNot(_.startsWith(prefix)).distinct
      val eligible = agg.filter(col("__n_pfx") >= 1)
        .filter(
          if (exactOnly.isEmpty) lit(true)
          else col("__n_nonpfx") >= exactOnly.size)
      val coef = blender match {
        case "linear" => lit(1.0) - lit(0.10) * col("position")
        case "reciprocal" => lit(1.0) / (col("position") + 1)
        case "exponential_reciprocal" =>
          lit(1.0) / pow(col("position") + 1, exponent)
        case other => throw new IllegalArgumentException(
          s"blender '$other' (linear|reciprocal|exponential_reciprocal)")
      }
      val live = liveDocs(eligible)
      val weighted = weights match {
        case Some(w) => live.join(w, Seq("docId"), "left")
          .withColumn("__w", coalesce(col("weight").cast("double"), lit(1.0)))
        case None => live.withColumn("__w", lit(1.0))
      }
      weighted.select(col("docId"), col("position"),
          (col("__w") * coef).as("score"))
        .orderBy(desc("score"), asc("docId")).limit(k)
    }

    /** Word-break spell suggestions (reference
      * suggest/spell/WordBreakSpellChecker.java:90,255 —
      * generateBreakUpSuggestions): split `word` into up to `maxChanges`+1
      * dictionary words, each with df >= `minFreq` and length >= `minLen`,
      * ranked like the reference default sort NUM_CHANGES_THEN_SUMMED_FREQ
      * (fewer breaks first, then higher summed df, then suggestion text).
      *
      * Plan shape: dfs for ALL substrings of `word` come from ONE pushed
      * In(term, ...) probe of the 2-column termstats (O(|word|²) keys, a
      * handful for real words); the split recursion is word-local driver
      * arithmetic over that map — exactly the reference's per-term
      * recursion, never a dictionary scan. */
    def wordBreak(word: String, k: Int, maxChanges: Int = 1,
                  minFreq: Long = 1, minLen: Int = 1): DataFrame = {
      import spark.implicits._
      val subs = (for {
        i <- 0 until word.length
        j <- i + minLen to word.length
      } yield word.substring(i, j)).distinct
      val dfs: Map[String, Long] =
        termstats.filter(col("term").isin(subs: _*))
          .select("term", "df").as[(String, Long)].collect().toMap
      // evaluation budget bounds the recursion on adversarial inputs (a
      // long word over a dense 1-char vocabulary) — the reference's
      // maxEvaluations guard (WordBreakSpellChecker.java:47, default 2000)
      var evals = 0
      def splits(rest: String, breaksLeft: Int): Seq[Seq[String]] =
        if (rest.isEmpty) Seq(Nil)
        else (minLen to rest.length).flatMap { cut =>
          evals += 1
          if (evals > 2000) Nil
          else {
            val head = rest.substring(0, cut)
            if (dfs.getOrElse(head, 0L) < minFreq) Nil
            else if (cut == rest.length) Seq(Seq(head))
            else if (breaksLeft == 0) Nil
            else splits(rest.substring(cut), breaksLeft - 1).map(head +: _)
          }
        }
      val out = splits(word, maxChanges)
        .filter(_.size > 1) // the unbroken word itself is not a suggestion
        .map(parts => (parts.mkString(" "), parts.size - 1, parts.map(dfs).sum))
        .sortBy { case (s, breaks, freq) => (breaks, -freq, s) }
        .take(k)
      out.toDF("suggestion", "num_breaks", "sum_freq")
    }

    /** Word-combination suggestions (reference
      * WordBreakSpellChecker.java:159 — suggestWordCombinations): adjacent
      * query words whose CONCATENATION is a dictionary term with df >=
      * `minFreq` (at most `maxChanges`+1 words joined). One pushed In(...)
      * probe for all candidate concatenations. Output (start_idx, end_idx,
      * combined, df), ranked df DESC then position. */
    def combineWords(words: Seq[String], maxChanges: Int = 1,
                     minFreq: Long = 1): DataFrame = {
      import spark.implicits._
      val cands = for {
        i <- words.indices
        j <- i + 1 until math.min(words.length, i + 1 + maxChanges)
      } yield (i, j, words.slice(i, j + 1).mkString)
      val dfs: Map[String, Long] =
        if (cands.isEmpty) Map.empty
        else termstats.filter(col("term").isin(cands.map(_._3).distinct: _*))
          .select("term", "df").as[(String, Long)].collect().toMap
      cands
        .flatMap { case (i, j, c) =>
          val df = dfs.getOrElse(c, 0L)
          if (df >= minFreq) Some((i, j, c, df)) else None
        }
        .sortBy { case (i, _, _, df) => (-df, i) }
        .toDF("start_idx", "end_idx", "combined", "df")
    }

    /** Spell collation (Solr SpellCheckComponent collate=true): correct
      * each query word to its best dictionary term (edit distance ASC, df
      * DESC, term ASC; exact dictionary words stay as themselves at
      * distance 0), then verify the collated query actually returns hits
      * — one row (collation, n_hits). Candidate generation per word goes
      * through the gram-pruned [[fuzzyCandidates]]; the driver loop is
      * O(#query words), each word a tiny bounded job. */
    def spellCollate(words: Seq[String], maxEdits: Int): DataFrame = {
      import spark.implicits._
      val corrected = words.map { w =>
        val dist = levenshtein(col("term"), lit(w))
        fuzzyCandidates(w, maxEdits)
          .filter(dist <= maxEdits)
          .orderBy(dist.cast("int").asc, desc("df"), asc("term")).limit(1)
          .select("term").as[String].collect().headOption.getOrElse(w)
      }
      val matched = QueryEngine.matchingDocs(spark, blocks, corrected, QueryEngine.And)
      val live = liveDocs(matched)
      val nHits = live.count()
      // "collated", not "collation" — COLLATION is a reserved SQL keyword
      Seq((corrected.mkString(" "), nHits)).toDF("collated", "n_hits")
    }

    /** Term vector of one document (reference index/TermVectors capability,
      * Lucene50TermVectorsFormat): (term, tf, positions CSV) read from the
      * positions tier with the docId predicate pushed into the parquet
      * scan — no other doc's postings are decoded. */
    def termVector(docId: Long): DataFrame =
      positions.filter(col("docId") === docId)
        .select(col("term"), size(col("poss")).cast("long").as("tf"),
          concat_ws(",", col("poss")).as("positions"))

    /** Exact-phrase docIds via the stored positions table. */
    def phrase(terms: Seq[String]): DataFrame = {
      val r = QueryEngine.phraseMatch(positions, terms)
      liveDocs(r)
    }

    /** Doc-values tier (columnar per-doc sort/group fields); empty schema
      * when the index was built without docValueCols. */
    lazy val docvalues: DataFrame = {
      val dvDirs = segDirs.map(_ + "/docvalues")
        .filter(p => Files.exists(Paths.get(p)))
      require(dvDirs.nonEmpty, s"index at $dir has no doc-values tier " +
        "(build with docValueCols = ...)")
      // readers see in-place numeric updates on (lazy) reopen —
      // IndexWriter.updateNumericDocValue semantics
      IndexStore.applyDvPatches(spark, dir, spark.read.parquet(dvDirs: _*))
    }

    /** DocValuesTermsQuery / DocValuesNumbersQuery (reference lucene/
      * sandbox/src/java/org/apache/lucene/search/DocValuesTermsQuery.java:48
      * and DocValuesNumbersQuery.java): docs whose doc-values field holds
      * one of the given values — the post-filter / fq shape for fields
      * that are stored columnar but not inverted. Constant score; the dv
      * scan is a pushed IN-set parquet read, no postings touched. */
    def dvInSet(field: String, values: Seq[Any]): DataFrame = {
      val m = docvalues.filter(col(field).isin(values: _*))
        .select(col("docId")).withColumn("score", lit(1f))
      liveDocs(m)
    }

    /** The sorted-match frame of the field-sorted and facet paths: the
      * live docs matching the terms (constant-score filter; mode And
      * requires all) joined to the doc-values tier, or to only its
      * `fields` when given. */
    private def liveMatchValues(terms: Seq[String], mode: QueryEngine.Mode,
                                fields: Seq[String] = Nil): DataFrame =
      liveDocs(QueryEngine.matchingDocs(spark, blocks, terms, mode)).join(
        if (fields.isEmpty) docvalues else docvalues.select("docId", fields: _*), "docId")

    /** Order by the doc-values sort fields (ascending when true), docId as
      * the final tie-break. */
    private def fieldSorted(matches: DataFrame, sortBys: Seq[(String, Boolean)]): DataFrame = {
      require(sortBys.nonEmpty)
      matches.orderBy(sortBys.map { case (f, up) => if (up) asc(f) else desc(f) } :+ asc("docId"): _*)
    }

    /**
     * Field-sorted top-k (SortField / TopFieldCollector analogue, reference
     * search/SortField.java:35, TopFieldCollector.java:40): docs matching
     * the terms (constant-score filter; mode And requires all), ordered by
     * the doc-values sort fields with docId as the final tie-break, first
     * k. Spark executes this as a bounded per-partition heap + driver merge
     * (TakeOrderedAndProject) over ONLY the narrow docvalues columns.
     */
    def topKByField(terms: Seq[String], sortBys: Seq[(String, Boolean)], k: Int,
                    mode: QueryEngine.Mode = QueryEngine.And): DataFrame =
      fieldSorted(liveMatchValues(terms, mode), sortBys).limit(k)

    /**
     * FeatureField-boosted top-k (reference lucene/core document/
     * FeatureField.java + [[graft.query.FeatureFields]]): text score over
     * the FULL match set + fn(decoded feature) as an additive SHOULD
     * clause, then one bounded top-k. `featureCol` is a doc-values column
     * holding the QUANTIZED feature (store
     * [[graft.query.FeatureFields.encodeFeatureValue]] output at build
     * time — the reference's `freqBits >>> 15` pseudo-tf). Docs without
     * the feature keep their text score (a SHOULD clause that misses).
     * Clause sum is double-accumulated then cast float, the reference's
     * boolean-sum shape. Ranking over the full text-score frame (not a text-only top-k
     * window) is what makes a large static boost able to promote a doc
     * ranked below any window boundary.
     */
    def topKWithFeature(terms: Seq[String], k: Int, featureCol: String,
                        fn: graft.query.FeatureFunction,
                        mode: QueryEngine.Mode = QueryEngine.Or,
                        sim: graft.query.Similarity = null): DataFrame = {
      val text = QueryEngine.run(spark, blocks, termstats, stats,
        QueryEngine.Request(QueryEngine.Terms(terms, sim), QueryEngine.All, mode),
        dfCache = Some(dfCache))
      val feat = docvalues.select(col("docId"), col(featureCol).cast("int").as("__qtf"))
      val boosted = text.join(feat, Seq("docId"), "left")
        .select(col("docId"), col("score"), col("__qtf"))
        .as[(Long, Float, Option[Int])]
        .map { case (id, s, qtf) =>
          val fs = qtf.fold(0f)(t =>
            fn.score(graft.query.FeatureFields.decodeFeatureValue(t.toFloat)))
          (id, (s.toDouble + fs.toDouble).toFloat)
        }
        .toDF("docId", "score")
      run(QueryEngine.Request(QueryEngine.Scored(boosted), k))
    }

    /**
     * CursorMark page (reference solr CursorMark.java / CursorMarkParams;
     * see [[graft.query.Cursor]]): one page of the field-sorted match set
     * strictly after `cursorMark`, plus the next mark. Pass
     * [[graft.query.Cursor.Start]] for page one; when a page comes back
     * empty the returned mark equals the input mark — Solr's
     * end-of-results convention. The page materializes as a local
     * relation (≤ k rows, the sanctioned O(k) driver merge), so computing
     * the next mark costs no second job.
     */
    def cursorPage(terms: Seq[String], sortBys: Seq[(String, Boolean)], k: Int,
                   cursorMark: String = graft.query.Cursor.Start,
                   mode: QueryEngine.Mode = QueryEngine.And): (DataFrame, String) = {
      val page = cursorQuery(terms, sortBys, k, cursorMark, mode)
      val rows = page.collect()
      val next =
        if (rows.isEmpty) cursorMark
        else graft.query.Cursor(
          sortBys.map { case (f, _) => rows.last.getAs[Any](f) } :+
            rows.last.getAs[Any]("docId")).serialize
      (spark.createDataFrame(java.util.Arrays.asList(rows: _*), page.schema), next)
    }

    /** The uncollected page query of [[cursorPage]]. */
    private[index] def cursorQuery(terms: Seq[String], sortBys: Seq[(String, Boolean)], k: Int,
                                   cursorMark: String, mode: QueryEngine.Mode): DataFrame = {
      val matches = liveMatchValues(terms, mode)
      val after = graft.query.Cursor.parse(cursorMark).fold(matches)(c =>
        matches.filter(graft.query.Cursor.afterPredicate(sortBys, c.values)))
      fieldSorted(after, sortBys).limit(k)
    }

    /** Export handler (Solr /export, reference solr/core .../handler/
      * export/ExportWriter.java capability): the FULL match set sorted by
      * doc-values fields — Solr's bulk-retrieval path for streaming
      * expressions. Unlike [[topKByField]] there is no limit, so Spark
      * plans a range-partitioned distributed sort (each partition sorts
      * its range independently; no single-node bottleneck) over ONLY the
      * narrow docvalues columns. */
    def exportSorted(terms: Seq[String], sortBys: Seq[(String, Boolean)],
                     mode: QueryEngine.Mode = QueryEngine.And): DataFrame =
      fieldSorted(liveMatchValues(terms, mode), sortBys)

    /** The sorted doc-values tier for `field` (see
      * [[IndexStore.buildSortedDocValues]]). */
    def sortedDocValues(field: String): DataFrame = {
      val p = s"$dir/dvsorted/$field"
      require(Files.exists(Paths.get(p)),
        s"index at $dir has no sorted doc-values tier for '$field' " +
          "(build with IndexStore.buildSortedDocValues)")
      spark.read.parquet(p)
    }

    /**
     * Early-terminated field-sorted top-k — the analogue of Lucene's
     * index-sort early termination (reference search/TopFieldCollector
     * .java:40 + CollectionTerminatedException in IndexSearcher.java:
     * 705-712: when the INDEX sort equals the query sort, each segment
     * stops collecting after k competitive docs instead of scoring every
     * document). Valid only for ascending sort on the tier's own sort
     * field, exactly like the reference (sort direction is baked into the
     * index layout).
     *
     * Every tier FILE is one ascending run (the writer's range partitioner
     * emits one sorted file per range), so the plan is one scan per file
     * with a LocalLimit k above the (pushed-down) predicate — the limit
     * stops pulling from the columnar reader after its k-th match, so rows
     * READ per file are bounded by the k-th match position plus one reader
     * batch, not the file size (asserted on task input metrics in
     * SortedDvSpec). The per-file heads union into the bounded TakeOrdered
     * merge. A naive per-read-partition take(k) would be WRONG: Spark
     * packs multiple small files into one read split in arbitrary order,
     * so a split's head rows need not be its lowest values — the per-file
     * scan sidesteps exactly that. Range predicates on the sort field
     * additionally prune whole files via parquet min/max.
     */
    def topKByFieldSorted(field: String, k: Int,
                          predicate: Option[org.apache.spark.sql.Column] = None): DataFrame = {
      require(k > 0)
      sortedDocValues(field) // fail fast when the tier is missing
      val tierDir = Paths.get(s"$dir/dvsorted/$field")
      val files = {
        val it = Files.list(tierDir).iterator()
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet")) out += p.toString
        }
        out.toSeq.sorted
      }
      val heads = files.map { f =>
        val scan = spark.read.parquet(f)
        predicate.fold(scan)(scan.filter).limit(k)
      }.reduce(_ unionByName _)
      heads.orderBy(asc(field), asc("docId")).limit(k)
    }

    /** Facet counts over the matching docs of a term query (Solr's
      * core search+facet pattern): constant-score match -> docvalues join
      * -> per-field-value counts, ordered (count DESC, value ASC).
      * Tombstones excluded before counting. */
    def facetByField(terms: Seq[String], field: String,
                     mode: QueryEngine.Mode = QueryEngine.And): DataFrame =
      liveMatchValues(terms, mode, Seq(field))
        .groupBy(field).agg(count("*").as("count"))
        .orderBy(desc("count"), asc(field))

    /** Field facet with the SimpleFacets option set (reference solr/core/
      * src/java/org/apache/solr/request/SimpleFacets.java getFacetTermEnumCounts
      * / getFieldCacheCounts: facet.prefix, facet.contains
      * [.ignoreCase], facet.excludeTerms, facet.mincount, facet.limit /
      * facet.offset, facet.sort=count|index, facet.missing). Value
      * filters push BELOW the aggregation (they gate dictionary terms in
      * the reference, value rows here); `missing` appends the null-value
      * doc count as a NULL bucket, like the reference's trailing missing
      * entry. sort=count is (count DESC, value ASC); index is byte order.
      * limit < 0 = unlimited after `offset`. */
    def facetByFieldOpts(terms: Seq[String], field: String,
                         mode: QueryEngine.Mode = QueryEngine.And,
                         prefix: Option[String] = None,
                         contains: Option[String] = None,
                         containsIgnoreCase: Boolean = false,
                         excludeTerms: Set[String] = Set.empty,
                         minCount: Long = 1, limit: Int = 100, offset: Int = 0,
                         sort: String = "count",
                         missing: Boolean = false): DataFrame = {
      val joined = liveMatchValues(terms, mode, Seq(field))
      var vals = joined.filter(col(field).isNotNull)
      prefix.foreach(p => vals = vals.filter(col(field).startsWith(p)))
      contains.foreach { c =>
        vals =
          if (containsIgnoreCase)
            vals.filter(lower(col(field)).contains(c.toLowerCase))
          else vals.filter(col(field).contains(c))
      }
      if (excludeTerms.nonEmpty)
        vals = vals.filter(!col(field).isin(excludeTerms.toSeq: _*))
      val counted = vals.groupBy(field).agg(count("*").as("count"))
        .filter(col("count") >= minCount)
      val ordered = sort match {
        case "index" => counted.orderBy(asc(field))
        case _ => counted.orderBy(desc("count"), asc(field))
      }
      val paged0 = if (offset > 0) ordered.offset(offset) else ordered
      val paged = if (limit >= 0) paged0.limit(limit) else paged0
      if (!missing) paged
      else paged.unionByName(
        joined.filter(col(field).isNull)
          .agg(count("*").as("count"))
          .select(lit(null).cast("string").as(field), col("count")))
    }

    /** Complex phrase (reference lucene/queryparser complexPhrase/
      * ComplexPhraseQueryParser.java): a quoted phrase whose slots may be
      * groups `(a b)`, wildcards `jo*`, or fuzzies `word~1`; multi-term
      * slots expand against the dictionary (df-ranked, `maxExpansions`
      * cap like the engine's other multi-term paths) and the expanded
      * slot table flows through the SAME multiPhrase plan. A slot with
      * zero dictionary matches matches nothing (empty result, not an
      * error). Exact adjacency (no slop). */
    def complexPhrase(body: String, maxExpansions: Int = 1024): DataFrame = {
      import spark.implicits._
      import graft.query.QueryParser._
      val slots: Seq[Seq[String]] = parseComplexPhrase(body).map {
        case TermSlot(t)   => analyzeQuery(t)
        case GroupSlot(ts) => ts.flatMap(analyzeQuery)
        case WildcardSlot(p) => QueryEngine.expand(termstats,
          col("term").rlike(graft.operators.TextOps.wildcardToRegex(p)), maxExpansions)
        case FuzzySlot(t, e) => fuzzyExpand(t, e).take(maxExpansions)
      }
      if (slots.exists(_.isEmpty)) spark.range(0).select(col("id").as("docId"))
      else multiPhrase(slots)
    }

    /** Multi-phrase (slot = any-of terms) docIds via positions. */
    def multiPhrase(slots: Seq[Seq[String]]): DataFrame = {
      val r = QueryEngine.multiPhraseMatch(positions, slots)
      liveDocs(r)
    }

    /** SynonymQuery top-k: terms scored as one pseudo-term (df = max member
      * df, summed tf, similarity invoked once). Tombstones excluded inside
      * the engine, before the limit. */
    def synonymTopK(synonyms: Seq[String], k: Int): DataFrame =
      QueryEngine.synonymTopK(spark, blocks, termstats, stats, synonyms, k,
        excludeDocs = deletes, dfCache = Some(dfCache))
  }
}

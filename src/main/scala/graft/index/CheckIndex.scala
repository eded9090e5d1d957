package graft.index

import graft.codec.{PostingsCodec, SmallFloat}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One class of integrity violation: how many rows/blocks hit it plus a few
  * concrete examples (capped — the checker never collects data-sized state). */
final case class CheckIssue(check: String, count: Long, examples: Seq[String])

final case class CheckReport(dir: String, segments: Int, docCount: Long,
                             blockCount: Long, termCount: Long,
                             issues: Seq[CheckIssue]) {
  def clean: Boolean = issues.isEmpty
  def toJson: String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val is = issues.map(i =>
      s"""{"check":"${esc(i.check)}","count":${i.count},"examples":[${i.examples.map(e => "\"" + esc(e) + "\"").mkString(",")}]}""")
      .mkString("[", ",", "]")
    s"""{"dir":"${esc(dir)}","clean":$clean,"segments":$segments,"docCount":$docCount,"blockCount":$blockCount,"termCount":$termCount,"issues":$is}"""
  }
}

/**
 * Full-index integrity verifier — the Spark shape of the reference's
 * CheckIndex (lucene/core/src/java/org/apache/lucene/index/CheckIndex.java:
 * cross-checks postings, norms, term dictionary and stored-field counts
 * segment by segment). Every check is a distributed aggregation; the only
 * driver-side state is manifests (O(#segments)) and capped issue examples.
 *
 * Checks, in Lucene's order (segment info -> postings -> norms -> cross):
 *  1. manifest vs data: docstats count / sum(dl) / docId range / content
 *     shaXor and postings block count must match the segment's MANIFEST
 *     (the lineage the north rule requires is thereby VERIFIABLE, not
 *     just recorded);
 *  2. segment docId ranges pairwise disjoint; docIds globally unique;
 *  3. block decode: doc deltas strictly ascending, min/maxDoc consistent,
 *     freqs >= 1, sumTf consistent, norms array sized, competitive impacts
 *     dominate every decoded (freq, norm) pair (WAND's pruning bound is
 *     sound iff this holds — reference CompetitiveImpactAccumulator.java);
 *  4. norms: normByte == SmallFloat.intToByte4(dl) for every doc;
 *  5. postings <-> docstats: no posting for a missing doc; per-doc
 *     sum(tf) == dl for overlap-free chains (>= dl with synonym-style
 *     overlaps); no doc with dl > 0 but zero postings;
 *  6. termstats: df/ttf recomputed from blocks == stats/termstats exactly;
 *  7. corpus.json == aggregate of manifests == aggregate of docstats;
 *  8. positions/offsets tiers (when present): array cardinalities match
 *     the decoded tf, positions ascending, end > start per offset.
 */
object CheckIndex {

  private val ExamplesPerCheck = 5
  /** Per-partition, per-check cap on detailed issue rows emitted from the
    * distributed decode pass; counts are still exact (capped rows carry an
    * empty detail and are only excluded from the EXAMPLES aggregation). */
  private val DetailCap = 10

  private final case class SegMeta(segId: Int, docLo: Long, docHi: Long,
                                   docCount: Long, sumDl: Long,
                                   blockCount: Long, shaXor: String)

  def check(spark: SparkSession, dir: String): CheckReport = {
    import spark.implicits._
    val issues = scala.collection.mutable.ArrayBuffer.empty[CheckIssue]
    def issue(check: String, count: Long, examples: Seq[String] = Nil): Unit =
      if (count != 0) issues += CheckIssue(check, count, examples.take(ExamplesPerCheck))

    val manifests = IndexStore.manifests(dir).map { case (f, js) =>
      def long(k: String) = IndexStore.jsonLong(js, k, f)
      SegMeta(long("segId").toInt, long("docLo"), long("docHi"), long("docCount"),
        long("sumDl"), long("blockCount"), IndexStore.jsonStr(js, "shaXor", f))
    }.sortBy(_.segId)
    require(manifests.nonEmpty, s"no committed segments under $dir")
    val segDirs = manifests.map(m => s"$dir/segments/seg=${m.segId}")

    // -- 2a. segment doc ranges pairwise disjoint (driver-side, O(S log S))
    val byLo = manifests.sortBy(_.docLo)
    byLo.sliding(2).foreach {
      case Seq(a, b) if b.docLo < a.docHi =>
        issue("segment_ranges_overlap", 1,
          Seq(s"seg=${a.segId} [${a.docLo},${a.docHi}) overlaps seg=${b.segId} [${b.docLo},${b.docHi})"))
      case _ =>
    }

    // -- 1. per-segment docstats aggregates vs manifest (one job, seg column)
    val normOf = udf((dl: Int) => SmallFloat.intToByte4(dl))
    val docstats = segDirs.zip(manifests).map { case (sd, m) =>
      spark.read.parquet(s"$sd/docstats").withColumn("seg", lit(m.segId))
    }.reduce(_ unionByName _)
    val perSeg = docstats.groupBy("seg").agg(
      count("*").as("cnt"), sum(col("dl").cast("long")).as("sumDl"),
      min("docId").as("minId"), max("docId").as("maxId"),
      format_string("%016x", bit_xor(xxhash64(col("contentSha256")))).as("shaXor"),
      sum(when(col("normByte") =!= normOf(col("dl")), 1L).otherwise(0L)).as("badNorms"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5), r.getLong(6))).toMap
    manifests.foreach { m =>
      perSeg.get(m.segId) match {
        case None => issue("docstats_missing", 1, Seq(s"seg=${m.segId} has a manifest but no docstats rows"))
        case Some((cnt, sumDl, minId, maxId, shaXor, badNorms)) =>
          if (cnt != m.docCount)
            issue("manifest_doc_count", 1, Seq(s"seg=${m.segId}: manifest docCount=${m.docCount}, docstats rows=$cnt"))
          if (sumDl != m.sumDl)
            issue("manifest_sum_dl", 1, Seq(s"seg=${m.segId}: manifest sumDl=${m.sumDl}, docstats sum(dl)=$sumDl"))
          if (minId < m.docLo || maxId >= m.docHi)
            issue("docid_outside_segment_range", 1,
              Seq(s"seg=${m.segId}: docIds span [$minId,$maxId], manifest range [${m.docLo},${m.docHi})"))
          if (shaXor != m.shaXor && m.shaXor != "0000000000000000")
            issue("manifest_sha_xor", 1, Seq(s"seg=${m.segId}: manifest shaXor=${m.shaXor}, recomputed=$shaXor"))
          // -- 4. norms (per-seg count folded into one distributed pass above)
          if (badNorms != 0)
            issue("norm_byte_mismatch", badNorms, Seq(s"seg=${m.segId}: $badNorms docs where normByte != intToByte4(dl)"))
      }
    }

    // -- 2b. global docId uniqueness (ranges disjoint => only intra-segment
    // duplicates are possible, but check globally anyway: one aggregation)
    val dup = docstats.groupBy("docId").count().filter(col("count") > 1)
    val dupN = dup.count()
    issue("duplicate_doc_ids", dupN,
      if (dupN == 0) Nil
      else dup.orderBy("docId").limit(ExamplesPerCheck).collect().map(r => s"docId=${r.getLong(0)} x${r.getLong(1)}").toSeq)

    // -- 3. block-level decode validation (one distributed pass; exact
    // counts, capped example details)
    val blocks = spark.read.parquet(segDirs.map(_ + "/postings"): _*).as[BlockRow]
    reportBlockIssues(decodeIssues(blocks), issue)

    // per-segment block counts vs manifest
    val segBlockCounts = segDirs.zip(manifests).map { case (sd, m) =>
      spark.read.parquet(s"$sd/postings").select(lit(m.segId).as("seg"))
    }.reduce(_ unionByName _).groupBy("seg").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    manifests.foreach { m =>
      val got = segBlockCounts.getOrElse(m.segId, 0L)
      if (got != m.blockCount)
        issue("manifest_block_count", 1, Seq(s"seg=${m.segId}: manifest blockCount=${m.blockCount}, parquet rows=$got"))
    }
    // -- 5. postings <-> docstats cross-check (the expensive one: a full
    // decode + shuffle by docId — CheckIndex is a full-scan tool by design)
    val postedPerDoc = blocks.flatMap { b =>
      val (docs, tfs) = PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)
      (0 until b.n).iterator.map(i => (docs(i), tfs(i).toLong))
    }.toDF("docId", "tf").groupBy("docId").agg(sum("tf").as("postedTf"))
    val chain = IndexStore.OpenIndex(spark, dir).analyzer
    val overlapFree = !chain.filters.exists {
      case _: graft.analysis.SynonymFilter => true
      case _: graft.analysis.WordDelimiterFilter => true
      case _: graft.analysis.ShingleFilter => true
      case _: graft.analysis.EdgeNGramFilter => true
      case _ => false
    }
    val cross = docstats.select("docId", "dl")
      .join(postedPerDoc, Seq("docId"), "full_outer")
      .select(col("docId"), col("dl"), col("postedTf"))
    val crossAgg = cross.agg(
      sum(when(col("dl").isNull, 1L).otherwise(0L)).as("dangling"),
      sum(when(col("postedTf").isNull && col("dl") > 0, 1L).otherwise(0L)).as("missing"),
      sum(when(col("postedTf").isNotNull && col("dl").isNotNull &&
        (if (overlapFree) col("postedTf") =!= col("dl") else col("postedTf") < col("dl")), 1L)
        .otherwise(0L)).as("tfDl")).head()
    issue("posting_for_unknown_doc", crossAgg.getLong(0))
    issue("doc_without_postings", crossAgg.getLong(1))
    issue(if (overlapFree) "doc_tf_sum_ne_dl" else "doc_tf_sum_lt_dl", crossAgg.getLong(2))

    // -- 6. termstats vs recomputation from blocks
    val recomputed = IndexBuilder.termStats(blocks)
    val stored = spark.read.parquet(s"$dir/stats/termstats")
    val termCount = stored.count()
    val tsJoin = recomputed.withColumnRenamed("df", "rdf").withColumnRenamed("ttf", "rttf")
      .join(stored, Seq("term"), "full_outer")
      .filter(col("rdf").isNull || col("df").isNull ||
        col("rdf") =!= col("df") || col("rttf") =!= col("ttf"))
    val tsBad = tsJoin.count()
    issue("termstats_mismatch", tsBad,
      if (tsBad == 0) Nil
      else tsJoin.orderBy("term").limit(ExamplesPerCheck).collect()
        .map(r => s"term=${r.getString(0)}").toSeq)

    // -- 7. corpus.json vs manifests vs docstats
    val totalDocs = perSeg.values.map(_._1).sum
    val totalDl = perSeg.values.map(_._2).sum
    val stats = IndexStore.OpenIndex(spark, dir).stats
    if (stats.docCount != totalDocs)
      issue("corpus_stats_doc_count", 1, Seq(s"corpus.json docCount=${stats.docCount}, docstats rows=$totalDocs"))
    if (stats.sumTotalTermFreq != totalDl)
      issue("corpus_stats_sum_ttf", 1, Seq(s"corpus.json sumTotalTermFreq=${stats.sumTotalTermFreq}, docstats sum(dl)=$totalDl"))

    // -- deletes sidecar (optional): every tombstone must point into some
    // segment's doc range
    val deletesPath = java.nio.file.Paths.get(s"$dir/deletes")
    if (java.nio.file.Files.exists(deletesPath)) {
      val del = spark.read.parquet(s"$dir/deletes").select(col("docId").cast("long").as("docId"))
      val ranges = manifests.map(m => (m.docLo, m.docHi))
      val inRange = udf((id: Long) => ranges.exists { case (lo, hi) => id >= lo && id < hi })
      issue("delete_outside_doc_ranges", del.filter(!inRange(col("docId"))).count())
    }

    // -- 8. positions / offsets tiers, per segment that has one
    segDirs.zip(manifests).foreach { case (sd, m) =>
      val hasPos = java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sd/positions"))
      val hasOff = java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sd/offsets"))
      if (hasPos || hasOff) {
        val segPosted = spark.read.parquet(s"$sd/postings").as[BlockRow].flatMap { b =>
          val (docs, tfs) = PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)
          (0 until b.n).iterator.map(i => (b.term, docs(i), tfs(i)))
        }.toDF("term", "docId", "tf")
        def tierCheck(tier: String, df: DataFrame, tfCheck: Boolean): Unit = {
          val sorted = udf((ps: Seq[Int]) => ps == ps.sorted)
          issue(s"${tier}_not_ascending",
            df.filter(!sorted(col("poss"))).count(), Seq(s"seg=${m.segId}"))
          if (tfCheck) {
            val badCard = df.select(col("term"), col("docId"), size(col("poss")).as("np"))
              .join(segPosted, Seq("term", "docId"), "full_outer")
              .filter(col("np").isNull || col("tf").isNull || col("np") =!= col("tf"))
              .count()
            issue(s"${tier}_tf_mismatch", badCard, Seq(s"seg=${m.segId}"))
          }
        }
        if (hasPos) tierCheck("positions", spark.read.parquet(s"$sd/positions"), tfCheck = true)
        if (hasOff) {
          val off = spark.read.parquet(s"$sd/offsets")
          // the offsets tier is always standard-chain (offsets index the
          // original text), so its tf cross-check is only meaningful when
          // the postings chain is the bare standard analyzer too
          tierCheck("offsets", off, tfCheck = chain.filters.isEmpty)
          issue("offsets_arrays_misaligned",
            off.filter(size(col("starts")) =!= size(col("poss")) ||
              size(col("ends")) =!= size(col("poss"))).count(), Seq(s"seg=${m.segId}"))
          issue("offsets_end_not_after_start",
            off.filter(exists(zip_with(col("starts"), col("ends"), (s, e) => e <= s), x => x)).count(),
            Seq(s"seg=${m.segId}"))
        }
      }
    }

    // -- sorted doc-values tiers (index-time sort): every file must be one
    // ascending (field, docId) run — early-terminated top-k is only correct
    // under that invariant — and tier docIds must exist in docstats
    val dvsRoot = java.nio.file.Paths.get(s"$dir/dvsorted")
    if (java.nio.file.Files.exists(dvsRoot)) {
      val fields = {
        val it = java.nio.file.Files.list(dvsRoot).iterator()
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) out += it.next().getFileName.toString
        out.toSeq
      }
      fields.foreach { f =>
        val tierDir = java.nio.file.Paths.get(s"$dir/dvsorted/$f")
        val filesIt = java.nio.file.Files.list(tierDir).iterator()
        var unsortedFiles = 0L
        val examples = scala.collection.mutable.ArrayBuffer.empty[String]
        while (filesIt.hasNext) {
          val p = filesIt.next()
          if (p.getFileName.toString.endsWith(".parquet")) {
            // coalesce(1): a split boundary inside the file must not hide a
            // cross-boundary order violation from the per-partition walk
            val df = spark.read.parquet(p.toString).coalesce(1)
            val fi = df.schema.fieldIndex(f)
            val di = df.schema.fieldIndex("docId")
            val bad = df.mapPartitions { it =>
              var prev: Option[(Any, Long)] = None
              var viol = 0L
              it.foreach { r =>
                val v = r.get(fi)
                val d = r.getLong(di)
                prev.foreach { case (pv, pd) =>
                  val c = pv.asInstanceOf[Comparable[Any]].compareTo(v)
                  if (c > 0 || (c == 0 && pd > d)) viol += 1
                }
                prev = Some((v, d))
              }
              Iterator.single(viol)
            }(org.apache.spark.sql.Encoders.scalaLong).reduce(_ + _)
            if (bad > 0) { unsortedFiles += 1; if (examples.size < ExamplesPerCheck) examples += p.getFileName.toString }
          }
        }
        issue(s"dvsorted_${f}_file_not_ascending", unsortedFiles, examples.toSeq)
        val tierIds = spark.read.parquet(tierDir.toString).select("docId")
        issue(s"dvsorted_${f}_unknown_doc",
          tierIds.join(docstats.select("docId"), Seq("docId"), "left_anti").count())
      }
    }

    CheckReport(dir, manifests.size, totalDocs,
      segBlockCounts.values.sum, termCount, issues.toSeq)
  }

  /** Distributed block-decode validation shared by the segment-store and
    * TimeIndex checkers: one pass, exact counts, per-partition-capped
    * example details. Emits (check, detail) rows. */
  private def decodeIssues(blocks: org.apache.spark.sql.Dataset[BlockRow]): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.mapPartitions { it =>
      val emitted = scala.collection.mutable.HashMap.empty[String, Int]
      def row(check: String, detail: => String): (String, String) = {
        val k = emitted.getOrElse(check, 0)
        emitted(check) = k + 1
        (check, if (k < DetailCap) detail else "")
      }
      it.flatMap { b =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        def where = s"term=${b.term} minDoc=${b.minDoc}"
        if (b.n <= 0 || b.n > PostingsCodec.BlockSize)
          out += row("block_bad_cardinality", s"$where n=${b.n}")
        else {
          val (docs, tfs) = PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)
          var asc = true
          var i = 1
          while (i < b.n) { if (docs(i) <= docs(i - 1)) asc = false; i += 1 }
          if (!asc) out += row("block_docs_not_ascending", where)
          if (docs(b.n - 1) != b.maxDoc)
            out += row("block_max_doc_mismatch", s"$where stored maxDoc=${b.maxDoc} decoded=${docs(b.n - 1)}")
          var sum = 0L
          var minF = Int.MaxValue
          i = 0
          while (i < b.n) { sum += tfs(i); if (tfs(i) < minF) minF = tfs(i); i += 1 }
          if (minF < 1) out += row("block_freq_below_one", s"$where minFreq=$minF")
          if (sum != b.sumTf) out += row("block_sum_tf_mismatch", s"$where stored sumTf=${b.sumTf} decoded=$sum")
          if (b.norms.length != b.n)
            out += row("block_norms_cardinality", s"$where norms=${b.norms.length} n=${b.n}")
          else {
            // impacts must dominate every decoded (freq, norm): frontier is
            // freq-ascending with norm ascending; the candidate dominator of
            // (f, u) is the smallest frontier freq >= f
            val fs = b.impactFreqs
            val ns = b.impactNorms
            var covered = true
            i = 0
            while (i < b.n && covered) {
              val f = tfs(i)
              val u = b.norms(i) & 0xFF
              var j = 0
              while (j < fs.length && fs(j) < f) j += 1
              if (j == fs.length || (ns(j) & 0xFF) > u) covered = false
              i += 1
            }
            if (!covered) out += row("block_impacts_not_dominating", where)
          }
        }
        out
      }
    }.toDF("check", "detail")
  }

  /** Aggregate (check, detail) rows into exact counts + capped examples. */
  private def reportBlockIssues(blockIssues: DataFrame,
                                issue: (String, Long, Seq[String]) => Unit): Unit = {
    val biCounts = blockIssues.groupBy("check").count().collect()
    val biExamples = blockIssues.filter(col("detail") =!= "")
      .groupBy("check").agg(slice(sort_array(collect_list("detail")), 1, ExamplesPerCheck).as("ex"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    biCounts.foreach(r => issue(r.getString(0), r.getLong(1), biExamples.getOrElse(r.getString(0), Nil)))
  }

  /**
   * Integrity verification for a [[TimeIndex]] directory (the IVrixDB
   * bucket layout): per committed bucket — manifest docCount/sumDl vs
   * docstats, norm bytes, block decode invariants, per-doc tf↔dl;
   * globally — event ids unique across all buckets, size-rollover cap
   * respected by sub-buckets, and no time bucket that has BOTH an unrolled
   * dir and `.seq` sub-buckets.
   */
  def checkTime(spark: SparkSession, dir: String,
                maxEventsPerBucket: Int = TimeIndex.DefaultMaxEventsPerBucket): CheckReport = {
    import spark.implicits._
    val issues = scala.collection.mutable.ArrayBuffer.empty[CheckIssue]
    def issue(check: String, count: Long, examples: Seq[String] = Nil): Unit =
      if (count != 0) issues += CheckIssue(check, count, examples.take(ExamplesPerCheck))

    val all = TimeIndex.buckets(dir)
    require(all.nonEmpty, s"no committed buckets under $dir")

    // rollover shape: a rolled time bucket must not coexist with its
    // unrolled form, and seq numbering starts at 0
    val bases = all.groupBy(b => if (b.contains('.')) b.substring(0, b.indexOf('.')) else b)
    bases.foreach { case (base, members) =>
      val rolled = members.filter(_.contains('.'))
      if (rolled.nonEmpty && members.exists(!_.contains('.')))
        issue("bucket_rolled_and_unrolled", 1, Seq(s"bucket $base exists both plain and with sub-buckets"))
      if (rolled.nonEmpty && !members.contains(s"$base.0"))
        issue("bucket_missing_seq0", 1, Seq(s"bucket $base has sub-buckets but no .0"))
    }

    val normOf = udf((dl: Int) => SmallFloat.intToByte4(dl))
    var totalDocs = 0L
    var totalBlocks = 0L
    val perBucketDs = all.map { b =>
      val bd = s"$dir/buckets/b=$b"
      spark.read.parquet(s"$bd/docstats").withColumn("bucket", lit(b))
    }.reduce(_ unionByName _)
    val agg = perBucketDs.groupBy("bucket").agg(
      count("*").as("cnt"), sum(col("dl").cast("long")).as("sumDl"),
      sum(when(col("normByte") =!= normOf(col("dl")), 1L).otherwise(0L)).as("badNorms"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2), r.getLong(3))).toMap
    all.foreach { b =>
      val f = s"$dir/buckets/b=$b/MANIFEST.json"
      val m = java.nio.file.Files.readString(java.nio.file.Paths.get(f))
      val (mCount, mSumDl) = (IndexStore.jsonLong(m, "docCount", f), IndexStore.jsonLong(m, "sumDl", f))
      val (cnt, sumDl, badNorms) = agg.getOrElse(b, (0L, 0L, 0L))
      totalDocs += cnt
      if (cnt != mCount)
        issue("bucket_doc_count", 1, Seq(s"b=$b manifest=$mCount docstats=$cnt"))
      if (sumDl != mSumDl)
        issue("bucket_sum_dl", 1, Seq(s"b=$b manifest=$mSumDl docstats=$sumDl"))
      if (badNorms != 0) issue("norm_byte_mismatch", badNorms, Seq(s"b=$b"))
      if (b.contains('.') && cnt > maxEventsPerBucket)
        issue("bucket_over_rollover_cap", 1, Seq(s"b=$b has $cnt > $maxEventsPerBucket events"))
    }

    // event ids unique ACROSS buckets (an event indexed twice would
    // double-count in every range search)
    val dup = perBucketDs.groupBy("docId").count().filter(col("count") > 1)
    val dupN = dup.count()
    issue("duplicate_event_ids", dupN,
      if (dupN == 0) Nil
      else dup.orderBy("docId").limit(ExamplesPerCheck).collect().map(r => s"docId=${r.getLong(0)} x${r.getLong(1)}").toSeq)

    // block decode + per-doc tf<->dl, per bucket (postings are bucket-local)
    val blocks = spark.read.parquet(all.map(b => s"$dir/buckets/b=$b/postings"): _*).as[BlockRow]
    totalBlocks = blocks.count()
    reportBlockIssues(decodeIssues(blocks), issue)
    val postedPerDoc = blocks.flatMap { b =>
      val (docs, tfs) = PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)
      (0 until b.n).iterator.map(i => (docs(i), tfs(i).toLong))
    }.toDF("docId", "tf").groupBy("docId").agg(sum("tf").as("postedTf"))
    val cross = perBucketDs.select("docId", "dl")
      .join(postedPerDoc, Seq("docId"), "full_outer")
      .agg(
        sum(when(col("dl").isNull, 1L).otherwise(0L)).as("dangling"),
        sum(when(col("postedTf").isNull && col("dl") > 0, 1L).otherwise(0L)).as("missing"),
        sum(when(col("postedTf").isNotNull && col("dl").isNotNull &&
          col("postedTf") =!= col("dl"), 1L).otherwise(0L)).as("tfDl")).head()
    issue("posting_for_unknown_doc", cross.getLong(0))
    issue("doc_without_postings", cross.getLong(1))
    issue("doc_tf_sum_ne_dl", cross.getLong(2))

    CheckReport(dir, all.size, totalDocs, totalBlocks, -1L, issues.toSeq)
  }
}

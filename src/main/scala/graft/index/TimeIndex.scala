package graft.index

import graft.query.QueryEngine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * Time-bucketed event index — the IVrixDB model (reference
 * ivrixdb/index/node/HotBucket.java:24, EventIndexer.java:24-30,
 * `IVrixDB Architecture.md:36-51`): the corpus is a stream of events
 * `(eventId, _time, _raw)`; the index is sliced into time buckets, each an
 * independent immutable mini-index (bucket id = `yyyy-MM-dd'T'HH` of the
 * truncated event time; range bounds must use that format); searches open only the buckets
 * overlapping the queried time range (HOT→WARM→COLD = newest-first), and
 * retention is a bucket drop.
 *
 * Spark-first shape:
 *  - one bucket = one partition directory `buckets/b=<yyyy-MM-dd'T'HH>/` holding
 *    packed postings + docstats + a commit manifest (idempotent, resumable
 *    exactly like IndexStore segments);
 *  - bucket assignment is event-time (`date_trunc`), so out-of-order
 *    arrival lands in the right bucket — search results are independent of
 *    arrival order (IVrixDB Architecture.md:51);
 *  - cross-bucket queries merge collection stats (N, avgdl, df) across the
 *    selected buckets BEFORE scorer construction, so scores are
 *    bit-identical to a single index over the same events (tested).
 *
 * docIds are the (globally unique) eventIds — buckets need no remapping,
 * and the per-bucket build has no density requirement.
 */
object TimeIndex {

  /** Size rollover cap — the reference's DEFAULT_MAX_EVENT_COUNT_IN_BUCKET
    * (ivrixdb/index/node/HotBucket.java:24-31): a hot hour must not produce
    * an unbounded bucket, so a time bucket exceeding the cap splits into
    * `<ts>.<seq>` sub-buckets of at most this many events each. */
  val DefaultMaxEventsPerBucket: Int = 401500

  private def bucketDir(dir: String, bucket: String) = s"$dir/buckets/b=$bucket"

  /** Time part of a (possibly rolled) bucket id: "2024-01-08T00.3" -> the
    * hour; '.' never occurs in the yyyy-MM-dd'T'HH format. */
  def baseId(bucket: String): String = {
    val i = bucket.indexOf('.')
    if (i < 0) bucket else bucket.substring(0, i)
  }

  private def seqOf(bucket: String): Long = {
    val i = bucket.indexOf('.')
    if (i < 0) 0L else bucket.substring(i + 1).toLong
  }

  def isCommitted(dir: String, bucket: String): Boolean =
    Files.exists(Paths.get(bucketDir(dir, bucket), "MANIFEST.json"))

  /** Committed bucket ids, ascending by date string. */
  def buckets(dir: String): Seq[String] = {
    val root = Paths.get(s"$dir/buckets")
    if (!Files.exists(root)) return Nil
    val it = Files.list(root).iterator()
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val p = it.next()
      if (Files.exists(p.resolve("MANIFEST.json")))
        out += p.getFileName.toString.stripPrefix("b=")
    }
    out.sorted.toSeq
  }

  /** Bucket/term separator inside the composite shuffle key: NUL never
    * occurs in analyzed terms ([a-z0-9]+) or bucket ids. */
  private val Sep = '\u0000'

  /**
   * Build (or resume) the bucketed index over an event table. Buckets whose
   * manifest exists are skipped — re-running after new events arrive only
   * builds new/missing buckets (the HOT-bucket append pattern; an existing
   * bucket is immutable, late events for an already-committed bucket call
   * for a rebuild of that bucket via `dropBucket` first).
   *
   * Scale shape: ONE analysis pass + ONE (bucket, term, docId) range
   * shuffle + ONE dynamic-partitioned write for ALL uncommitted buckets —
   * not a per-bucket driver loop of job pipelines (at 100 TB / years of
   * hourly buckets, a sequential per-bucket loop is a driver bottleneck;
   * here bucket count never touches the job count). The composite shuffle
   * key is `bucket NUL term`, so a packed block never spans buckets and
   * hot terms still split across partitions within a bucket. Data lands in
   * a staging dir, is moved into each bucket's directory, and only then is
   * the bucket's MANIFEST.json committed — crash-safe exactly like the
   * segment store.
   */
  def build(spark: SparkSession, events: DataFrame, dir: String,
            idCol: String = "event_id", timeCol: String = "ts", rawCol: String = "raw",
            granularity: String = "day", shufflePartitions: Int = 8,
            maxEventsPerBucket: Int = DefaultMaxEventsPerBucket): Unit = {
    import spark.implicits._
    // events without a timestamp cannot be bucketed (IVrixDB requires
    // `_time`); exclude them explicitly rather than corrupting a null bucket.
    // A TIME bucket counts as committed only when its seq-0 (or unrolled)
    // sub-bucket is committed — the commit loop below writes that manifest
    // LAST within each time bucket, so a partially rolled-over time bucket
    // is re-staged whole on resume (sub-bucket contents are deterministic).
    val committedBases = buckets(dir)
      .filter(b => !b.contains('.') || b.endsWith(".0")).map(baseId).toSet
    val withBucket = events
      .filter(col(timeCol).isNotNull)
      .select(
        col(idCol).cast("long").as("docId"),
        col(rawCol).cast("string").as("content"),
        date_format(date_trunc(granularity, col(timeCol)), "yyyy-MM-dd'T'HH").as("bucket"))
      .filter(!col("bucket").isin(committedBases.toSeq: _*))
    // one analysis pass: postings AND doc stats derive from this
    val analyzed0 = withBucket.as[(Long, String, String)]
      .map { case (id, content, bucket) =>
        val (tfs, dl) = graft.analysis.Analyzer.termFreqs(content)
        val terms = new Array[String](tfs.size)
        val freqs = new Array[Int](tfs.size)
        var i = 0
        tfs.foreach { case (t, f) => terms(i) = t; freqs(i) = f; i += 1 }
        (bucket, id, dl, graft.codec.SmallFloat.intToByte4(dl),
          graft.util.Digest.sha256Hex(content), terms, freqs)
      }
      .toDF("bucket", "docId", "dl", "normByte", "contentSha256", "terms", "tfs")
    // size rollover (HotBucket cap): a time bucket over the cap becomes
    // `<ts>.<seq>` sub-buckets of <= cap events, sliced by docId rank —
    // deterministic, so a resumed build re-creates identical sub-buckets.
    // The rank window shuffles only docstats-sized rows (content dropped);
    // the heavy (bucket NUL term, docId) pack shuffle below stays single.
    val analyzed = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy("docId")
      analyzed0
        .withColumn("__seq", ((row_number().over(w) - 1) / maxEventsPerBucket).cast("long"))
        .withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
        .withColumn("bucket",
          when(col("__n") <= maxEventsPerBucket, col("bucket"))
            .otherwise(concat(col("bucket"), lit("."), col("__seq"))))
        .drop("__seq", "__n")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val all = analyzed.select("bucket").distinct().as[String].collect().sorted
    if (all.isEmpty) { analyzed.unpersist(); return }

    val staging = s"$dir/.staging"
    graft.util.Fs.rmTree(staging)
    // postings: composite-key pack, then split the key back out
    val postings = analyzed.select($"bucket", $"docId", $"normByte", $"terms", $"tfs")
      .as[(String, Long, Byte, Array[String], Array[Int])]
      .flatMap { case (bucket, id, nb, terms, tfs) =>
        terms.indices.iterator.map(i => PostingRow(bucket + Sep + terms(i), id, tfs(i), nb))
      }
    IndexBuilder.packBlocks(spark, postings, shufflePartitions)
      .map { b => (b.term.substring(0, b.term.indexOf(Sep)),
        b.copy(term = b.term.substring(b.term.indexOf(Sep) + 1))) }
      .toDF("bucket", "block")
      .select($"bucket", $"block.*")
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$staging/postings")
    analyzed.select($"bucket", $"docId", $"dl", $"normByte", $"contentSha256")
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$staging/docstats")
    // per-bucket stats for the manifests: one small agg, collected
    val perBucket = analyzed.groupBy("bucket")
      .agg(count("*").as("n"), sum(col("dl").cast("long")).as("sumDl"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    analyzed.unpersist()

    // move staged partitions into the bucket layout, then commit manifests.
    // A died-mid-commit bucket (moved files but no MANIFEST) is NOT committed,
    // so a resume re-stages it — clear the target dirs first, otherwise the
    // second generation of uniquely-named part files would sit next to the
    // orphaned first and spark.read.parquet would read both (duplicated
    // postings/doc stats). Parquet overwrite clears its target; moveDir must
    // get the same guarantee here. Order: within a time bucket, higher-seq
    // sub-buckets commit FIRST and seq 0 (the resume sentinel) LAST, so a
    // crash mid-time-bucket always triggers a whole-time-bucket re-stage.
    val ordered = all.sortBy(b => (baseId(b), -seqOf(b)))
    for (b <- ordered) {
      val bd = Paths.get(bucketDir(dir, b))
      Files.createDirectories(bd)
      // a re-staged sub-bucket may carry a manifest from a partial previous
      // run: drop it BEFORE touching data, or a crash between the clears
      // and the new manifest would leave a committed-but-empty bucket
      Files.deleteIfExists(bd.resolve("MANIFEST.json"))
      graft.util.Fs.rmTree(bd.resolve("postings").toString)
      graft.util.Fs.rmTree(bd.resolve("docstats").toString)
      moveDir(Paths.get(s"$staging/postings/bucket=$b"), bd.resolve("postings"))
      moveDir(Paths.get(s"$staging/docstats/bucket=$b"), bd.resolve("docstats"))
      val (n, sumDl) = perBucket(b)
      val json = s"""{"bucket":"$b","docCount":$n,"sumDl":$sumDl,"appId":"${spark.sparkContext.applicationId}"}"""
      val tmp = Paths.get(s"${bucketDir(dir, b)}/MANIFEST.json.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, Paths.get(s"${bucketDir(dir, b)}/MANIFEST.json"), StandardCopyOption.ATOMIC_MOVE)
    }
    graft.util.Fs.rmTree(staging)
  }

  /** Move a staged partition directory into place (rename per file — same
    * filesystem, metadata-only). */
  private def moveDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    require(Files.exists(from), s"staged partition missing: $from")
    Files.createDirectories(to)
    val it = Files.list(from).iterator()
    while (it.hasNext) {
      val f = it.next()
      Files.move(f, to.resolve(f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Retention: drop a whole bucket (IVrixDB COLD detach / partition drop). */
  def dropBucket(dir: String, bucket: String): Unit =
    graft.util.Fs.rmTree(bucketDir(dir, bucket))

  /** Merged collection stats (docCount, sumDl) from the selected buckets'
    * manifests — no data read. */
  def mergedStats(dir: String, sel: Seq[String]): (Long, Long) = {
    var docCount = 0L
    var sumDl = 0L
    sel.foreach { b =>
      val f = s"${bucketDir(dir, b)}/MANIFEST.json"
      val m = Files.readString(Paths.get(f))
      docCount += IndexStore.jsonLong(m, "docCount", f)
      sumDl += IndexStore.jsonLong(m, "sumDl", f)
    }
    (docCount, sumDl)
  }

  /** Packed postings of the selected buckets (bucket-level pruning: only
    * their parquet is opened). */
  def readBlocks(spark: SparkSession, dir: String, sel: Seq[String]): org.apache.spark.sql.Dataset[BlockRow] = {
    import spark.implicits._
    spark.read.parquet(sel.map(b => s"${bucketDir(dir, b)}/postings"): _*).as[BlockRow]
  }

  /**
   * Top-k BM25 over the buckets intersecting [fromBucket, toBucket]
   * (inclusive, bucket-id strings). Only selected buckets' parquet is read
   * (bucket-level pruning = IVrixDB opening only relevant buckets);
   * collection stats merge across them so scores match a monolithic index.
   */
  def topK(spark: SparkSession, dir: String, terms: Seq[String], k: Int,
           fromBucket: String = "", toBucket: String = "￿"): DataFrame = {
    // range-select on the TIME part: rolled sub-buckets `<ts>.<seq>` belong
    // to their hour/day regardless of the suffix
    val sel = buckets(dir).filter(b => { val t = baseId(b); t >= fromBucket && t <= toBucket })
    if (sel.isEmpty) return QueryEngine.noHits(spark)
    val (docCount, sumDl) = mergedStats(dir, sel)
    val blocks = readBlocks(spark, dir, sel)
    QueryEngine.run(spark, blocks, IndexBuilder.termStats(blocks), CorpusStats(docCount, sumDl),
      QueryEngine.Request(QueryEngine.Terms(terms), k))
  }
}

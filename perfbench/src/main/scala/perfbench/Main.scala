package perfbench

import graft.index.{BlockRow, IndexStore}
import graft.index.IndexStore.OpenIndex
import graft.query.QueryEngine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/**
 * The repository benchmark: one workload, one seed, one JSON result line.
 *
 *   perfbench.Main --workload build|query-hot --seed N --seconds S --trace 0|1
 *
 * Each run does a fixed amount of work (a count of builds or queries
 * derived from `--seconds`), checks every timed result, and
 * prints end-to-end metrics (`--trace 0`) or per-layer metrics
 * (`--trace 1`) as the last line of standard output.
 */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean)

  /** Engine settings, identical for every workload and commit. */
  val Cores = 2
  /** Shuffle partitions of the build's own postings shuffle (and of the
    * update probe's). Every other shuffle, the query's `groupBy(docId)`
    * included, and the cached postings (`warm`) use one partition per core:
    * a top-k query over this index is mostly per-task launch and hand-off
    * cost. At one partition Spark drops the query's shuffle altogether. */
  val ShufflePartitions = 4
  val K = 10

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (expected ${Workloads.mkString(", ")})")
    Conf(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1")
  }

  val Workloads = Seq("build", "query-hot")

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val t0 = System.nanoTime()
    val work = Paths.get(sys.props.getOrElse("perfbench.work", ".bench_build/work")).toAbsolutePath
    graft.util.Fs.rmTree(work.toString)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      // The queries and builds of one run generate about 130 distinct
      // classes; at the default cache of 100 the query loop sometimes
      // evicted and recompiled them on every pass.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try {
        val run = new Run(spark, conf, work)
        run.diag("session_s") = ((System.nanoTime() - t0) / 1e9).toString
        conf.workload match {
          case "build" => run.build()
          case "query-hot" => run.queryHot()
        }
        run.result()
      } finally {
        spark.stop()
        graft.util.Fs.rmTree(work.toString)
      }
    println(result)
  }
}

/** State and phases of one benchmark run. */
final class Run(spark: SparkSession, conf: Main.Conf, work: Path) {
  import Main._
  import Inputs._
  import spark.implicits._

  val trace = new Trace(conf.trace, spark.sparkContext)
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  // ---- sizes (fixed; the measured work scales with --seconds) ----
  val corpusDocs: Int = conf.workload match { case "build" => 1200; case _ => 600 }
  val corpusTokens = 40
  val queryPerClass = 4
  /** Setup repetitions; `setup_s` is their median. The build workload's
    * repetitions double as its warm builds, so it runs more of them. */
  val setupReps: Int = conf.workload match { case "build" => 5; case _ => 3 }
  val warmupQueries: Int = conf.workload match { case "query-hot" => 60; case _ => 0 }

  // ---- results ----
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val diag = mutable.LinkedHashMap.empty[String, String]
  private val failures = mutable.ArrayBuffer.empty[String]

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 5) failures += msg
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private var dirSeq = 0
  def freshDir(name: String): String = { dirSeq += 1; work.resolve(s"$name-$dirSeq").toString }

  // ---- inputs ----
  val docs: Array[Doc] = Inputs.corpus(conf.seed, corpusDocs, corpusTokens)
  val contentBytes: Long = docs.iterator.map(_.content.length.toLong).sum
  val pool: IndexedSeq[Query] = Inputs.queryPool(conf.seed, queryPerClass, corpusDocs)

  /** Store the corpus table; returns its path. */
  def storeCorpus(): String = {
    val path = freshDir("corpus")
    spark.createDataset(docs.toSeq).repartition(Cores).write.parquet(path)
    path
  }

  /** (rowCount, content sha xor) of a stored table, computed with Spark SQL
    * functions the way a manifest should record them. */
  def expectedManifest(corpusPath: String): (Long, String) = {
    val r = spark.read.parquet(corpusPath)
      .agg(count(lit(1)), bit_xor(xxhash64(sha2(col("content"), 256)))).head()
    (r.getLong(0), f"${r.getLong(1)}%016x")
  }

  def manifestField(dir: String, key: String): String = {
    val m = IndexStore.readManifests(dir).mkString
    s""""$key":"?([0-9a-f]+)""".r.findFirstMatchIn(m).map(_.group(1)).getOrElse("")
  }

  def buildIndex(corpusPath: String, dir: String): Unit =
    trace.span("index.build", "index") {
      IndexStore.build(spark, spark.read.parquet(corpusPath), dir,
        numSegments = 1, shufflePartitions = ShufflePartitions)
    }

  def checkBuild(dir: String, expected: (Long, String)): Unit = {
    attempted += 1
    val docCount = manifestField(dir, "docCount")
    val sha = manifestField(dir, "shaXor")
    if (docCount != expected._1.toString || sha != expected._2)
      fail(s"build manifest docCount=$docCount shaXor=$sha, expected ${expected._1} ${expected._2}")
  }

  def openWarm(dir: String): OpenIndex = trace.span("index.reopen", "index") {
    val idx = OpenIndex(spark, dir).warm(Cores)
    idx.blocks.count()
    idx
  }

  def cacheMb(): Double =
    spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
      .map(i => i.memSize + i.diskSize).sum / 1e6

  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  val setupTimes = mutable.ArrayBuffer.empty[Double]
  var corpusPath = ""
  var expected: (Long, String) = (0L, "")
  val buildTimes = mutable.ArrayBuffer.empty[Double]

  /** Setup as one repeatable unit, `setupReps` times: store the table,
    * build, open and warm. Returns the last repetition's index. */
  def setup(): (String, OpenIndex) = {
    var last: (String, OpenIndex) = null
    (1 to setupReps).foreach { _ =>
      if (last != null) {
        last._2.blocks.unpersist(blocking = true)
        graft.util.Fs.rmTree(last._1)
        graft.util.Fs.rmTree(corpusPath)
      }
      val t0 = System.nanoTime()
      corpusPath = storeCorpus()
      val dir = freshDir("index")
      val b0 = System.nanoTime()
      buildIndex(corpusPath, dir)
      buildTimes += since(b0)
      val idx = openWarm(dir)
      setupTimes += since(t0)
      if (expected._1 == 0L) expected = expectedManifest(corpusPath)
      checkBuild(dir, expected)
      last = (dir, idx)
    }
    last
  }

  // ---- queries ----
  def runQuery(idx: OpenIndex, q: Query, request: Int): Array[Oracle.Hit] =
    trace.span(s"query.${q.cls.name}", "query", request) {
      if (trace.tracing && q.cls != ParsedQ) planSpan(idx, q)
      val df: DataFrame = q.cls match {
        case TermQ | OrQ => idx.topK(q.terms, K)
        case OrPruneQ => idx.topK(q.terms, K, prune = true)
        case OrWandQ => idx.topK(q.terms, K, wand = true)
        case AndQ => idx.topK(q.terms, K, QueryEngine.And)
        case AndWandQ => idx.topK(q.terms, K, QueryEngine.And, wand = true)
        case ParsedQ => idx.search(q.text, K)
      }
      df.collect().map(r => Oracle.Hit(r.getLong(0), r.getFloat(1)))
    }

  var dfLookups = 0L
  var dfHits = 0L
  val planMs = mutable.ArrayBuffer.empty[Double]

  /** Traced runs plan the query on its own (the query then finds its term
    * statistics memoised), so planning time and df-cache hits show apart. */
  private def planSpan(idx: OpenIndex, q: Query): Unit = {
    val qs = q.terms.distinct
    dfLookups += qs.size
    dfHits += qs.count(idx.dfCache.contains)
    val t0 = System.nanoTime()
    trace.span("query.plan", "query") {
      QueryEngine.plan(idx.termstats, idx.stats, qs, dfCache = Some(idx.dfCache))
    }
    planMs += since(t0) * 1e3
  }

  def oracleAnswer(o: Oracle, q: Query): Seq[Oracle.Hit] = q.cls match {
    case AndQ | AndWandQ => o.topK(q.terms, Nil, Nil, K)
    case ParsedQ => o.topK(Seq(q.terms(0)), Seq(q.terms(1)), Seq(q.terms(2)), K)
    case _ => o.topK(Nil, q.terms, Nil, K)
  }

  def check(q: Query, got: Array[Oracle.Hit], want: Seq[Oracle.Hit]): Unit = {
    attempted += 1
    val same = got.length == want.length && got.indices.forall { i =>
      got(i).docId == want(i).docId &&
        java.lang.Float.floatToIntBits(got(i).score) == java.lang.Float.floatToIntBits(want(i).score)
    }
    if (!same) fail(s"${q.cls.name} '${q.text}': got ${got.take(3).mkString(",")} want ${want.take(3).mkString(",")}")
  }

  /** Per-query record of the measured phase. */
  final case class QRec(cls: String, ms: Double, traced: Boolean, results: Int, postings: Long)
  val qrecs = mutable.ArrayBuffer.empty[QRec]

  /** Closed loop, one client; returns per-query latencies (ms). */
  def queryLoop(idx: OpenIndex, seq: Array[Query], oracle: Oracle, answers: mutable.Map[Int, Seq[Oracle.Hit]],
                record: Boolean, traced: Int => Boolean): Array[Double] = {
    val lat = new Array[Double](seq.length)
    var i = 0
    while (i < seq.length) {
      val q = seq(i)
      trace.tracing = conf.trace && traced(i)
      val t0 = System.nanoTime()
      val got =
        try runQuery(idx, q, i)
        catch { case e: Exception => fail(s"${q.text}: $e"); null }
      lat(i) = since(t0) * 1e3
      if (trace.tracing && record) tracedOps += ((t0, System.nanoTime()))
      trace.tracing = conf.trace
      if (got != null) {
        val want = answers.getOrElseUpdate(q.id, oracleAnswer(oracle, q))
        check(q, got, want)
        if (record) qrecs += QRec(q.cls.name, lat(i), conf.trace && traced(i),
          got.length, oracle.postingsOf(q.terms))
      } else attempted += 1
      i += 1
    }
    lat
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  // ---- host probe (diagnostic only) ----
  val hostProbes = mutable.ArrayBuffer.empty[(Double, Double)]
  def hostProbe(): Unit = {
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 7.toByte)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(buf)
    val c0 = System.nanoTime()
    var i = 0
    while (i < 32) { md.digest(buf); i += 1 }
    val cpu = 32 / since(c0)
    val src = new Array[Byte](8 << 20)
    val dst = new Array[Byte](8 << 20)
    System.arraycopy(src, 0, dst, 0, src.length)
    val m0 = System.nanoTime()
    i = 0
    while (i < 24) { System.arraycopy(src, 0, dst, 0, src.length); i += 1 }
    hostProbes += ((cpu, 24 * 8 / since(m0)))
  }

  /** The measured window, bracketed by host probes; returns its wall seconds. */
  var windowStart = 0L
  var windowEnd = 0L
  def measured(body: => Unit): Double = {
    hostProbe()
    windowStart = System.nanoTime()
    body
    windowEnd = System.nanoTime()
    hostProbe()
    (windowEnd - windowStart) / 1e9
  }

  var warmupDrift = Double.NaN

  /** Wall intervals of the traced operations of the measured window. */
  val tracedOps = mutable.ArrayBuffer.empty[(Long, Long)]

  // =====================================================================
  // build: full builds of one stored table, each into a fresh directory
  // =====================================================================
  def build(): Unit = {
    val (setupDir, setupIdx) = setup()
    setupIdx.blocks.unpersist(blocking = true)
    graft.util.Fs.rmTree(setupDir)
    val builds = math.max(2, conf.seconds / 2)
    // (build seconds, open + warm ms, traced) of each timed build
    val times = mutable.ArrayBuffer.empty[(Double, Double, Boolean)]
    var last: (String, OpenIndex) = null
    val wall = measured {
      (0 until builds).foreach { b =>
        if (last != null) {
          last._2.blocks.unpersist(blocking = true)
          graft.util.Fs.rmTree(last._1)
        }
        val dir = freshDir("index")
        trace.tracing = conf.trace && b % 2 == 0
        val t0 = System.nanoTime()
        var t1 = 0L
        val idx =
          try { buildIndex(corpusPath, dir); t1 = System.nanoTime(); openWarm(dir) }
          catch { case e: Exception => fail(s"build: $e"); null }
        val t2 = System.nanoTime()
        if (idx != null) times += (((t1 - t0) / 1e9, (t2 - t1) / 1e6, trace.tracing))
        if (trace.tracing) tracedOps += ((t0, t2))
        trace.tracing = conf.trace
        checkBuild(dir, expected)
        if (idx != null) last = (dir, idx)
      }
    }
    val (lastDir, idx) = last
    e2e("ops_per_s") = (median(times.map(t => corpusDocs / t._1).toSeq), "1/s")
    e2e("latency_p50_ms") = (median(times.map(t => t._1 * 1e3 + t._2).toSeq), "ms")
    e2e("index_bytes_per_input_byte") = (dirBytes(lastDir).toDouble / contentBytes, "ratio")
    e2e("cache_mb") = (cacheMb(), "MB")
    warmupDrift = buildTimes.last / median(times.map(_._1).toSeq) - 1
    if (conf.trace) {
      overhead(times.filter(_._3).map(t => t._1 + t._2 / 1e3).toSeq,
        times.filterNot(_._3).map(t => t._1 + t._2 / 1e3).toSeq)
      tailProbe(idx, lastDir, queries = true)
      layerReport(lastDir, idx, wall)
    }
  }

  // =====================================================================
  // query-hot: closed loop over a warmed, static index
  // =====================================================================
  def queryHot(): Unit = {
    val (dir, idx) = setup()
    val oracle = new Oracle
    docs.foreach(d => oracle.add(d.docId, d.content))
    val answers = mutable.HashMap.from(pool.map(q => q.id -> oracleAnswer(oracle, q)))
    // every pool query once (fills the df memo), then the seeded sequence
    val w0 = System.nanoTime()
    val warm = queryLoop(idx, pool.toArray ++ Inputs.querySequence(conf.seed, pool, warmupQueries, 1),
      oracle, answers, record = false, traced = _ => false)
    diag("warmup_s") = fmt(since(w0))
    val n = math.max(Inputs.Classes.size * 2, conf.seconds * 7)
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val (cg0, jit0) = (cg.getCount, jit.getTotalCompilationTime)
    var lat: Array[Double] = null
    val wall = measured {
      lat = queryLoop(idx, Inputs.querySequence(conf.seed, pool, n, 2), oracle, answers,
        record = true, traced = _ % 2 == 0)
    }
    diag("window_codegen_compiles") = (cg.getCount - cg0).toString
    diag("window_jit_ms") = (jit.getTotalCompilationTime - jit0).toString
    e2e("ops_per_s") = (n / wall, "1/s")
    e2e("latency_p50_ms") = (median(lat.toSeq), "ms")
    e2e("index_bytes_per_input_byte") = (dirBytes(dir).toDouble / contentBytes, "ratio")
    e2e("cache_mb") = (cacheMb(), "MB")
    val tail = warm.takeRight(math.max(1, warm.length / 4))
    warmupDrift = (n / wall) / (tail.length / (tail.sum / 1e3)) - 1
    if (conf.trace) {
      overhead(qrecs.filter(_.traced).map(_.ms).toSeq, qrecs.filterNot(_.traced).map(_.ms).toSeq)
      layer("query.qps") = (n / wall, "1/s")
      layer("query.latency_p90_ms") = (percentile(lat.toSeq, 0.9), "ms")
      tailProbe(idx, dir, queries = false)
      layerReport(dir, idx, wall)
    }
  }

  /** Traced runs only, after the measured window: exercise the layers the
    * workload itself does not, so every per-layer metric has a value. The
    * update, compaction and reopen figures are one cold sample each. */
  def tailProbe(idx: OpenIndex, dir: String, queries: Boolean): Unit = {
    val oracle = new Oracle
    docs.foreach(d => oracle.add(d.docId, d.content))
    if (queries) {
      val seq = Inputs.querySequence(conf.seed, pool, Inputs.Classes.size * 2, 3)
      queryLoop(idx, seq, oracle, mutable.HashMap.empty, record = true, traced = _ => true)
      val q = qrecs.map(_.ms)
      layer("query.qps") = (q.size / (q.sum / 1e3), "1/s")
      layer("query.latency_p90_ms") = (percentile(q.toSeq, 0.9), "ms")
    }
    // replace doc 0 on a copy, so the workload's index stays as it was
    val copy = freshDir("index")
    IndexStore.snapshot(dir, copy)
    val fresh = Inputs.doc(conf.seed, corpusDocs.toLong, corpusTokens)
    val u0 = System.nanoTime()
    trace.span("index.update", "index") {
      IndexStore.updateDocuments(spark, copy, Seq(0L), Seq((fresh.docId, fresh.content)).toDF("docId", "content"),
        "docId", "content", ShufflePartitions)
    }
    val upd = since(u0) * 1e3
    val c0 = System.nanoTime()
    val out = freshDir("index")
    val compacted = trace.span("index.compact", "index") {
      IndexStore.maybeCompact(spark, copy, out, ShufflePartitions, maxSegments = 1)
    }
    val comp = since(c0)
    val r0 = System.nanoTime()
    val reopened = openWarm(if (compacted) out else copy)
    val reopen = since(r0) * 1e3
    // the reopened searcher must return the new doc and no longer doc 0
    trace.tracing = false
    def hits(t: String) = runQuery(reopened, Query(-1, TermQ, Seq(t)), -1).map(_.docId).toSet
    val freshTerms = mutable.Set.empty[String]
    graft.analysis.Analyzer.foreachTerm(fresh.content)(freshTerms += _)
    attempted += 2
    if (!(0 until 8).map(uniqueTerm(fresh.docId, _)).find(freshTerms).exists(t => hits(t)(fresh.docId)))
      fail(s"update probe: doc ${fresh.docId} not visible after reopen")
    if ((0 until 8).map(uniqueTerm(0L, _)).find(oracle.df(_) > 0).exists(t => hits(t)(0L)))
      fail("update probe: replaced doc 0 still returned after reopen")
    trace.tracing = conf.trace
    reopened.blocks.unpersist(blocking = true)
    layer("index.update_ms") = (upd, "ms")
    layer("index.reopen_ms") = (reopen, "ms")
    layer("index.compact_s") = (comp, "s")
    layer("index.rewrite_bytes_per_input_byte") =
      (if (compacted) dirBytes(out).toDouble / fresh.content.length else 0.0, "ratio")
  }

  def overhead(traced: Seq[Double], untraced: Seq[Double]): Unit =
    layer("trace.overhead_frac") =
      (if (traced.isEmpty || untraced.isEmpty) 0.0
       else (traced.sum / traced.size) / (untraced.sum / untraced.size) - 1, "ratio")

  // =====================================================================
  // per-layer report (traced runs)
  // =====================================================================
  def layerReport(dir: String, idx: OpenIndex, wall: Double): Unit = {
    trace.drain()
    val spans = trace.spans.toSeq
    def inWindow(s: Span) = s.startNs >= windowStart && s.endNs <= windowEnd

    // index: builds, split by the stages inside each build
    val builds = spans.filter(s => s.name == "index.build")
    val timedBuilds = if (conf.workload == "build") builds.filter(inWindow) else builds
    // The postings job is the build's job with the largest shuffle (the
    // analysed postings, range-partitioned by term). Jobs before it (docId
    // check, range sampling, which fills the cached inverted form) and its
    // shuffle-map stages read and analyse the table: invert. Its other
    // stages sort, pack and write blocks: pack_write. From its end to the
    // build's return (doc and term statistics, block count, manifest):
    // stats_commit.
    val perBuild = timedBuilds.map { b =>
      val recs = (b.id +: descendants(b.id)).flatMap(i => trace.sparkOf(i).stageRecs)
      val postingsJob = recs.groupBy(_.jobId).maxBy(_._2.map(_.shuffleBytes).sum)._1
      val job = recs.filter(_.jobId == postingsJob)
      val inv = recs.filter(_.jobId < postingsJob) ++ job.filter(_.shuffleBytes > 0)
      val pk = job.filter(_.shuffleBytes == 0)
      def cov(x: Seq[StageRec]) = trace.coveredNs(x.map(trace.toNs(_, wallOffsetNs)), b.startNs, b.endNs) / 1e9
      val jobEndNs = job.map(trace.toNs(_, wallOffsetNs)._2).max
      ((b.endNs - b.startNs) / 1e9, cov(inv), cov(pk), (b.endNs - math.min(jobEndNs, b.endNs)) / 1e9)
    }
    val buildS = median(perBuild.map(_._1))
    layer("index.build_s") = (buildS, "s")
    layer("index.build_files_per_s") = (corpusDocs / buildS, "files/s")
    layer("index.invert_s") = (median(perBuild.map(_._2)), "s")
    layer("index.pack_write_s") = (median(perBuild.map(_._3)), "s")
    layer("index.stats_commit_s") = (median(perBuild.map(_._4)), "s")

    val blocks = spark.read.parquet(IndexStore.committedSegmentDirs(dir).map(_ + "/postings"): _*)
    val agg = blocks.agg(count(lit(1)), sum(col("n")),
      sum(length(col("docGaps")) + length(col("freqs")) + length(col("norms")))).head()
    layer("index.terms") = (idx.termstats.count().toDouble, "count")
    layer("index.postings") = (agg.getLong(1).toDouble, "count")
    layer("index.blocks") = (agg.getLong(0).toDouble, "count")
    layer("codec.bytes_per_posting") = (agg.getLong(2).toDouble / agg.getLong(1), "bytes")

    // query
    val traced = qrecs.filter(_.traced)
    Inputs.Classes.foreach { c =>
      layer(s"query.${c.name}_p50_ms") = (median(qrecs.filter(_.cls == c.name).map(_.ms).toSeq), "ms")
    }
    layer("query.plan_ms") = (median(planMs.toSeq), "ms")
    layer("query.dfcache_hit_ratio") = (if (dfLookups == 0) 0.0 else dfHits.toDouble / dfLookups, "ratio")
    layer("query.postings_per_result") =
      (traced.map(_.postings).sum.toDouble / math.max(1, traced.map(_.results).sum), "ratio")
    val qspans = spans.filter(s => s.layer == "query" && s.parent == -1 && s.request >= 0)
    val qt = qspans.map(s => (s, (s.id +: descendants(s.id)).map(trace.sparkOf)))
    val nq = math.max(1, qt.size).toDouble
    layer("query.jobs_per_query") = (qt.map(_._2.map(_.jobs).sum).sum / nq, "count")
    layer("query.stages_per_query") = (qt.map(_._2.map(_.stages).sum).sum / nq, "count")
    layer("query.tasks_per_query") = (qt.map(_._2.map(_.tasks).sum).sum / nq, "count")
    layer("query.shuffle_bytes_per_query") = (qt.map(_._2.map(_.shuffleWriteBytes).sum).sum / nq, "bytes")
    layer("query.executor_cpu_ms_per_query") = (qt.map(_._2.map(_.cpuNs).sum).sum / 1e6 / nq, "ms")
    layer("query.driver_ms_per_query") = (qt.map { case (s, ts) =>
      (s.endNs - s.startNs - trace.coveredNs(ts.flatMap(trace.intervalsNs(_, wallOffsetNs)), s.startNs, s.endNs)) / 1e6
    }.sum / nq, "ms")
    layer("query.warmup_drift") = (warmupDrift, "ratio")

    // spark, over the spans of the measured window
    val win = spans.filter(inWindow).map(s => trace.sparkOf(s.id))
    val runMs = win.map(_.runMs).sum.toDouble
    layer("spark.executor_cpu_s") = (win.map(_.cpuNs).sum / 1e9, "s")
    layer("spark.gc_frac") = (if (runMs == 0) 0.0 else win.map(_.gcMs).sum / runMs, "ratio")
    layer("spark.core_util") = (runMs / 1e3 / (wall * Cores), "ratio")
    layer("spark.shuffle_write_mb") = (win.map(_.shuffleWriteBytes).sum / 1e6, "MB")
    layer("spark.spill_mb") = (win.map(_.spillBytes).sum / 1e6, "MB")
    layer("spark.fetch_wait_s") = (win.map(_.fetchWaitMs).sum / 1e3, "s")
    val tasks = win.map(_.tasks).sum
    layer("spark.sched_delay_ms") = (if (tasks == 0) 0.0 else win.map(_.schedDelayMs).sum.toDouble / tasks, "ms")
    val widest = win.map(_.widest).foldLeft(Array.emptyLongArray)((a, b) => if (b.length > a.length) b else a)
    layer("spark.task_skew") =
      (if (widest.isEmpty) 1.0 else widest.max / math.max(1.0, median(widest.map(_.toDouble).toSeq)), "ratio")

    layer("host.cpu_mb_per_s") = (hostProbes.map(_._1).sum / hostProbes.size, "MB/s")
    layer("host.membw_mb_per_s") = (hostProbes.map(_._2).sum / hostProbes.size, "MB/s")

    // coverage: layer self times plus attributed Spark stage time, over the window
    val covered = spans.filter(inWindow).map { s =>
      trace.selfNs(s, wallOffsetNs) +
        trace.coveredNs(trace.intervalsNs(trace.sparkOf(s.id), wallOffsetNs), s.startNs, s.endNs)
    }.sum
    val opsNs = tracedOps.filter(o => o._1 >= windowStart && o._2 <= windowEnd).map(o => o._2 - o._1).sum
    layer("trace.coverage") = (if (opsNs == 0) 0.0 else covered.toDouble / opsNs, "ratio")

    microbenchmarks(dir)
  }

  private def descendants(id: Int): Seq[Int] =
    trace.children(id).flatMap(c => c.id +: descendants(c.id))

  /** Single-thread throughput of the analysis and codec kernels on fixed samples. */
  def microbenchmarks(dir: String): Unit = {
    val sample = docs.iterator.map(_.content).take(400).toArray
    val sampleMb = sample.map(_.length.toLong).sum / 1e6
    def best(reps: Int)(f: => Unit): Double = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; since(t0)
    }.min
    var sink = 0L
    val aSecs = best(5)(sample.foreach(s => graft.analysis.Analyzer.foreachTerm(s)(t => sink += t.length)))
    layer("analysis.mb_per_s") = (sampleMb / aSecs, "MB/s")

    // encode: the sample's postings, term by term, in 128-doc blocks
    val o = new Oracle
    docs.take(400).foreach(d => o.add(d.docId, d.content))
    val arrays = pool.flatMap(_.terms).distinct.map(o.postingsList).filter(_._1.nonEmpty)
    val encPostings = arrays.map(_._1.length.toLong).sum
    val eSecs = best(5) {
      arrays.foreach { case (d, f, n) =>
        var s = 0
        while (s < d.length) {
          val e = math.min(s + graft.codec.PostingsCodec.BlockSize, d.length)
          sink += graft.codec.PostingsCodec.encodeBlock("t", d, f, n, s, e).n
          s = e
        }
      }
    }
    layer("codec.encode_mpostings_per_s") = (encPostings / 1e6 / eSecs, "Mpostings/s")

    // decode: the blocks of the query pool's terms in the index
    val qBlocks = spark.read.parquet(IndexStore.committedSegmentDirs(dir).map(_ + "/postings"): _*)
      .filter(col("term").isin(pool.flatMap(_.terms).distinct: _*)).as[BlockRow].collect()
    val decPostings = qBlocks.map(_.n.toLong).sum
    val dSecs = best(5) {
      qBlocks.foreach { b =>
        sink += graft.codec.PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs)._1.length
      }
    }
    layer("codec.decode_mpostings_per_s") = (decPostings / 1e6 / dSecs, "Mpostings/s")
    diag("sink") = sink.toString // keeps the timed loops' results live
  }

  // =====================================================================
  def result(): String = {
    e2e("setup_s") = (median(setupTimes.toSeq), "s")
    val metrics = if (conf.trace) layer else e2e
    diag("seed") = conf.seed.toString
    diag("workload") = conf.workload
    diag("setup_reps_s") = setupTimes.map(fmt).mkString("[", ",", "]")
    diag("host_cpu_mb_per_s") = hostProbes.map(p => fmt(p._1)).mkString("[", ",", "]")
    diag("host_membw_mb_per_s") = hostProbes.map(p => fmt(p._2)).mkString("[", ",", "]")
    diag("warmup_drift") = fmt(warmupDrift)
    if (failures.nonEmpty) diag("failures") = failures.map(jsonString).mkString("[", ",", "]")
    val diagLine = diag.map { case (k, v) =>
      jsonString(k) + ":" + (if (v.startsWith("[") || v.forall(c => c.isDigit || c == '.' || c == '-' || c == 'E')) v else jsonString(v))
    }.mkString("{", ",", "}")
    val m = metrics.map { case (k, (v, u)) =>
      s"${jsonString(k)}:{\"value\":${fmt(v)},\"unit\":${jsonString(u)}}"
    }.mkString("{", ",", "}")
    s"# $diagLine\n" +
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$m}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

package graft.index

import graft.SparkSpec
import graft.corpus.CorpusGen
import graft.query.{OracleScorer, QueryEngine, Wand}
import graft.query.QueryEngine.{And, Or, Request, Terms}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The one-slice postings cache ([[Wand.slice]], `OpenIndex.warm`): an
  * index under one slice of the kernel's grid is cached as one partition,
  * uncut, and a multi-term request scores it in place, with the same ranks
  * and float bits as the unwarmed index and the brute-force oracle; the
  * cached blocks stay a valid postings table for every other reader. */
class SlicedCacheSpec extends SparkSpec {
  import spark.implicits._

  val N = 600
  lazy val corpusLocal: Seq[OracleScorer.Doc] =
    (0L until N).map(i => CorpusGen.genFile(i))
      .sortBy(f => (f.repo, f.path, f.commit))
      .zipWithIndex.map { case (f, i) => OracleScorer.Doc(i.toLong, f.content) }

  lazy val (dir, idx) = {
    val d = Files.createTempDirectory("graft-sliced").toString
    val withIds = DocIds.assign(CorpusGen.corpus(spark, N, 7).toDF(), Seq("repo", "path", "commit"), 6)
    IndexStore.build(spark, withIds, d, numSegments = 2, shufflePartitions = 4)
    (d, IndexStore.OpenIndex(spark, d))
  }
  /** The unwarmed index's postings: the plain parquet scan. */
  lazy val raw: Dataset[BlockRow] = idx.blocks
  /** The same index warmed: one slice. */
  lazy val warmed: IndexStore.OpenIndex = IndexStore.OpenIndex(spark, dir).warm(2)
  lazy val sliced: Dataset[BlockRow] = warmed.blocks

  def hits(df: DataFrame): Seq[(Long, Float)] = df.collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
  def run(b: Dataset[BlockRow], req: Request): Seq[(Long, Float)] =
    hits(QueryEngine.run(spark, b, idx.termstats, idx.stats, req, idx.tombstones, Some(idx.dfCache)))
  def exchanges(b: Dataset[BlockRow], req: Request): Int =
    "Exchange hashpartitioning".r.findAllIn(
      QueryEngine.run(spark, b, idx.termstats, idx.stats, req).queryExecution.executedPlan.toString).size

  val multi = Seq(Seq("import", "return", "uniq_10_1"), Seq("public", "static", "void"),
    Seq("parseconfig", "handler7"), Seq("12", "buildindex", "def", "queryengine", "val"))

  test("layout: one partition, uncut, each posting once; wider or derived input is no slice") {
    assert(sliced.rdd.getNumPartitions === 1)
    val sums = (b: Dataset[BlockRow]) => b.agg(count(lit(1)), sum($"n"), sum($"sumTf")).head()
    val (r, s) = (sums(raw), sums(sliced))
    assert(s === r, "the slice added or lost a block")
    assert(s.getLong(1) === idx.termstats.agg(sum($"df")).head().getLong(0))
    val sumDl = IndexStore.readManifests(dir).map("\"sumDl\":(\\d+)".r.findFirstMatchIn(_).get.group(1).toLong).sum
    assert(s.getLong(2) === sumDl)
    // sorted by (term, minDoc), so the cache's batch stats prune by term
    val order = sliced.select("term", "minDoc").as[(String, Long)].collect().toSeq
    assert(order === order.sorted)
    // docIds across two slices of a 64-docId grid: no slice
    assert(Wand.slice(raw, 0L, N.toLong, bucketDocs = 64).isEmpty)
    // a Dataset derived from the slice keeps its one partition in the plan,
    // so it scores in place too
    val req = Request(Terms(Seq("public", "import")), 10)
    assert(exchanges(sliced, req) === 0)
    assert(exchanges(sliced.filter($"n" > 0), req) === 0)
    assert(run(sliced.filter($"n" > 0), req) === run(sliced, req))
  }

  test("a one-index MultiIndex.topK over the warmed slice scores in place, with the same hits") {
    for (terms <- multi; mode <- Seq(Or, And)) {
      val fed = MultiIndex.topK(Seq(warmed), terms, 10, mode)
      assert("Exchange hashpartitioning".r.findAllIn(fed.queryExecution.executedPlan.toString).isEmpty,
        fed.queryExecution.executedPlan.toString)
      assert(hits(fed.select("docId", "score")) === run(raw, Request(Terms(terms), 10, mode)), s"terms=$terms mode=$mode")
    }
  }

  test("Or, And, k = All, mustNot: sliced = unwarmed = oracle, bit for bit, with no exchange") {
    for (terms <- multi; mode <- Seq(Or, And); k <- Seq(1, 10, 100)) {
      val got = run(sliced, Request(Terms(terms), k, mode))
      assert(got === run(raw, Request(Terms(terms), k, mode)), s"terms=$terms mode=$mode k=$k")
      assert(got === OracleScorer.topK(corpusLocal, terms, k, mode), s"terms=$terms mode=$mode k=$k")
      assert(exchanges(sliced, Request(Terms(terms), k, mode)) === 0)
    }
    for (terms <- multi; mode <- Seq(Or, And)) {
      val all = run(sliced, Request(Terms(terms), QueryEngine.All, mode)).sortBy { case (d, s) => (-s, d) }
      assert(all === run(raw, Request(Terms(terms), QueryEngine.All, mode)).sortBy { case (d, s) => (-s, d) })
      assert(all === OracleScorer.topK(corpusLocal, terms, N, mode), s"terms=$terms mode=$mode")
    }
    for (neg <- Seq(Seq("uniq_1_0"), Seq("handler3", "class"))) {
      val req = Request(Terms(Seq("public", "import")), 10, Or, neg)
      assert(run(sliced, req) === run(raw, req))
      assert(run(sliced, req) === OracleScorer.topK(corpusLocal, Seq("public", "import"), 10, Or, neg))
    }
  }

  test("tieBreaker and runCounted over the slice equal the unwarmed index") {
    for (terms <- multi; tie <- Seq(0f, 0.1f); k <- Seq(3, 25)) {
      val req = Request(Terms(terms), k, tieBreaker = Some(tie))
      assert(run(sliced, req) === run(raw, req), s"terms=$terms tie=$tie k=$k")
    }
    for (terms <- multi; mode <- Seq(Or, And)) {
      def counted(b: Dataset[BlockRow]) =
        QueryEngine.runCounted(spark, b, idx.termstats, idx.stats, Request(Terms(terms), 10, mode))
      val (h, t) = counted(sliced)
      assert((h, t) === counted(raw), s"terms=$terms mode=$mode")
      assert(h === OracleScorer.topK(corpusLocal, terms, 10, mode))
      assert(t.value === OracleScorer.topK(corpusLocal, terms, N, mode).size)
    }
  }

  test("postings, synonymTopK, matchingDocs and explain read the same postings sliced and unwarmed") {
    for (t <- Seq("public", "import", "uniq_10_1", "handler7")) {
      def postings(b: Dataset[BlockRow]) =
        QueryEngine.postingRows(b.filter($"term" === t)).collect().sortBy(_.docId).toSeq
      assert(postings(sliced) === postings(raw), t)
    }
    val syn = Seq("import", "return", "handler3")
    def synonym(b: Dataset[BlockRow]) = QueryEngine.synonymTopK(spark, b, idx.termstats, idx.stats, syn, 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getFloat(2))).toSeq
    assert(synonym(sliced) === synonym(raw))
    for (mode <- Seq(Or, And)) {
      def docs(b: Dataset[BlockRow]) =
        QueryEngine.matchingDocs(spark, b, syn, mode).collect().map(_.getLong(0)).sorted.toSeq
      assert(docs(sliced) === docs(raw))
    }
    val terms = Seq("public", "import", "class")
    for ((docId, _) <- run(sliced, Request(Terms(terms), 5))) {
      def explain(b: Dataset[BlockRow]) =
        QueryEngine.explain(spark, b, idx.termstats, idx.stats, terms, docId).collect().toSeq
      assert(explain(sliced) === explain(raw), s"doc $docId")
    }
  }

  test("hash-packed (overlapping) blocks as one slice: re-packed in the run, oracle-identical") {
    val withIds = DocIds.assign(CorpusGen.corpus(spark, N, 7).toDF(), Seq("repo", "path", "commit"), 6)
    val hash = IndexBuilder.packPartitions(IndexBuilder.invert(spark, withIds).repartition(4, $"term", $"docId"))
    val hashSliced = Wand.slice(hash, 0L, N.toLong).get.cache()
    val ts = IndexBuilder.termStats(hashSliced)
    for (terms <- multi; mode <- Seq(Or, And); k <- Seq(1, 10, 50)) {
      val got = hits(QueryEngine.run(spark, hashSliced, ts, idx.stats, Request(Terms(terms), k, mode)))
      assert(got === OracleScorer.topK(corpusLocal, terms, k, mode), s"terms=$terms mode=$mode k=$k")
    }
    hashSliced.unpersist()
  }
}

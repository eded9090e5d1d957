package graft.index

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stop-word-skew handling: a term present in EVERY doc must not pile up on
  * one reducer. Range partitioning on (term, docId) splits a hot term's
  * posting list across partitions by docId range — the deterministic
  * equivalent of salting (SURVEY.md §3.4) — and the packer emits
  * self-contained <=128-doc blocks, so no task ever holds a whole hot list. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("hot term postings are split across partitions; blocks stay bounded") {
    val n = 4000
    // every doc contains 'hot'; each doc also has a unique term
    val docs = spark.range(n).select(
      col("id").as("docId"),
      concat(lit("hot hot hot uniq"), col("id"), lit(" filler"), col("id") % 17).as("content"))
    val posts = IndexBuilder.invert(spark, docs)
    val parts = 8
    val packed = IndexBuilder.packBlocks(spark, posts, parts).cache()

    // all blocks bounded at 128 docs
    assert(packed.filter(col("n") > 128).count() === 0)
    // the hot term's list spans ceil(4000/128) blocks, docs complete & unique
    val hot = packed.filter(col("term") === "hot")
    assert(hot.agg(sum("n")).head().getLong(0) === n.toLong)
    assert(hot.count() >= (n / 128).toLong)

    // the hot term is physically spread over >1 shuffle partition
    val perPartition = packed.filter(col("term") === "hot")
      .select(spark_partition_id().as("pid"))
      .distinct().count()
    // cache() preserved partitioning; hot term occupies multiple ranges
    assert(perPartition > 1, s"hot term landed in $perPartition partition(s)")

    // no partition dominates: max partition POSTING-ROW count <= 3x mean
    // (rows, not blocks — the range partitioner balances shuffle rows)
    val counts = packed.groupBy(spark_partition_id().as("pid"))
      .agg(sum("n").as("rows")).select("rows").as[Long].collect()
    val mean = counts.sum.toDouble / counts.length
    assert(counts.max <= (mean * 3).ceil.toLong + 1,
      s"imbalanced partitions: ${counts.mkString(",")}")
  }
}

/** Blocks packed from hash-partitioned postings (a term's docs scattered
  * over partitions, so its blocks overlap) must be query-equivalent to the
  * range-partitioned build's. */
class PackStrategySpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("hash and range pack strategies yield identical query results") {
    val docs = spark.range(500).select(
      col("id").as("docId"),
      concat(lit("hot common word uniq"), col("id")).as("content"))
    val posts = IndexBuilder.invert(spark, docs)
    val range = IndexBuilder.packBlocks(spark, posts, 4).cache()
    val hash = IndexBuilder.packPartitions(posts.repartition(4, $"term", $"docId")).cache()
    // identical term stats
    val tsR = IndexBuilder.termStats(range)
    val tsH = IndexBuilder.termStats(hash).withColumnRenamed("df", "df2").withColumnRenamed("ttf", "ttf2")
    assert(tsR.join(tsH, "term").filter(col("df") =!= col("df2") || col("ttf") =!= col("ttf2")).count() === 0)
    assert(tsR.count() === IndexBuilder.termStats(hash).count())
    // identical top-k
    val stats = IndexBuilder.corpusStats(IndexBuilder.docStats(spark, docs))
    val req = graft.query.QueryEngine.Request(graft.query.QueryEngine.Terms(Seq("hot", "uniq42")), 10)
    val a = graft.query.QueryEngine.run(spark, range, tsR, stats, req)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val b = graft.query.QueryEngine.run(spark, hash, tsR, stats, req)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a === b)
  }
}

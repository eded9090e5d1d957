package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** MinHashQParser fingerprint query: band-size search, band construction
  * with the wrap-around padding band, minimumNumberShouldMatch, and
  * brute-force parity of the banded matching. */
class MinHashSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("spark", "query", "join", "data", "scan",
    "merge", "row", "filter", "sort", "hash", "group", "table")

  private def mkText(id: Long, n: Int): String = {
    // seeded-random tokens: distinct shingle sets per doc (a linear cycle
    // would give every long doc the SAME shingle set and every fingerprint
    // would match every doc)
    val r = new scala.util.Random(id * 7919 + 13)
    (0 until n).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  private lazy val docs = (0L until 60L).map(i => (i, mkText(i, 12 + (i % 9).toInt)))
    .toDF("doc_id", "text").cache()

  test("computeBandSize matches the reference loop on a grid") {
    // independent re-derivation of MinHashQParser.computeBandSize
    def ref(numHash: Int, sim: Double, tp: Double): Int = {
      (1 to numHash).foreach { bands =>
        val rows = numHash / bands
        if (1 - math.pow(1 - math.pow(sim, rows), bands) > tp) return rows
      }
      1
    }
    for (n <- Seq(16, 64, 512); s <- Seq(0.3, 0.5, 0.8, 0.9); t <- Seq(0.5, 0.9, 0.99))
      assert(Dedup.computeBandSize(n, s, t) === ref(n, s, t), s"n=$n s=$s t=$t")
  }

  test("identity query matches every band, including the wrap-around pad") {
    val qtext = mkText(7L, 12 + (7 % 9))
    // numHashes=10, bandSize forced to 3 -> 3 full bands + 1 padded = 4
    val bs = Dedup.computeBandSize(10, 0.6, 0.4)
    assert(bs === 3) // guard: the grid point actually produces a remainder
    val got = Dedup.minHashQuery(docs, "doc_id", "text", qtext,
      numHashes = 10, sim = 0.6, tp = 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(7L) === 4L) // ceil(10/3) bands, pad band matched by identity
  }

  test("sim=1/tp=1: 64 single-hash bands; only the query doc matches all") {
    val qtext = mkText(3L, 12 + (3 % 9))
    val got = Dedup.minHashQuery(docs, "doc_id", "text", qtext)
      .filter(col("matched_bands") === 64).collect().map(_.getLong(0)).toSet
    assert(got === Set(3L))
  }

  test("minimumNumberShouldMatch gates at ceil(numHashes * sim)") {
    val qtext = mkText(5L, 12 + (5 % 9))
    val n = 32
    val got = Dedup.minHashQuery(docs, "doc_id", "text", qtext,
      numHashes = n, sim = 0.5, tp = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ >= math.ceil(n * 0.5).toLong))
    assert(got(5L) === n.toLong)
    // brute force over the same signatures: single-hash bands = component
    // membership in the doc's hash set
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", n)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val qsig = Dedup.minHashSignatures(Seq((0L, qtext)).toDF("doc_id", "text"),
      "doc_id", "text", n).head.getSeq[Long](1)
    val want = sigs.view.mapValues(s => qsig.count(s.contains).toLong)
      .filter(_._2 >= math.ceil(n * 0.5).toLong).toMap
    assert(got === want)
  }

  test("banded matching equals brute-force band-subset checks") {
    val qtext = mkText(9L, 12 + (9 % 9))
    val n = 12
    val got = Dedup.minHashQuery(docs, "doc_id", "text", qtext,
      numHashes = n, sim = 0.8, tp = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bs = Dedup.computeBandSize(n, 0.8, 0.5)
    val qsig = Dedup.minHashSignatures(Seq((0L, qtext)).toDF("doc_id", "text"),
      "doc_id", "text", n).head.getSeq[Long](1).toArray
    val full = qsig.grouped(bs).toArray
    val bands =
      if (full.last.length == bs) full
      else full.dropRight(1) :+ (full.last ++ qsig.take(bs - full.last.length))
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", n)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val want = sigs.view.mapValues(s =>
        bands.count(b => b.toSet.subsetOf(s)).toLong)
      .filter(_._2 >= 1L).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("repeated candidate calls reuse ONE cached intermediate; clearCaches releases") {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    Dedup.clearCaches()
    val base = persisted
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 16)
    Dedup.minHashCandidates(sigs, "doc_id", bands = 4, rowsPerBand = 4,
      threshold = 0.3).count()
    val after1 = persisted
    assert(after1 > base) // the signature table is persisted once
    // second call over the same logical input: memo hit, NO new cache entry
    Dedup.minHashCandidates(Dedup.minHashSignatures(docs, "doc_id", "text", 16),
      "doc_id", bands = 4, rowsPerBand = 4, threshold = 0.3).count()
    assert(persisted === after1)
    // simhash path gets the same treatment
    val hashes = Dedup.simHash(docs, "doc_id", "text")
    Dedup.simHashCandidates(hashes, "doc_id", maxHamming = 3).count()
    val after2 = persisted
    Dedup.simHashCandidates(hashes, "doc_id", maxHamming = 3).count()
    assert(persisted === after2)
    // explicit lifecycle handle: everything the memo holds is released
    Dedup.clearCaches()
    assert(persisted === base)
  }

  test("the persist memo is a bounded LRU: distinct inputs past its capacity unpersist the eldest") {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    Dedup.clearCaches()
    val base = persisted
    // each input is a distinct plan, so each call persists one signature table
    for (i <- 0 until Dedup.MemoCapacity + 4) {
      Dedup.minHashCandidates(Dedup.minHashSignatures(docs.filter($"doc_id" =!= i.toLong), "doc_id", "text", 16),
        "doc_id", bands = 4, rowsPerBand = 4, threshold = 0.3).count()
      assert(persisted - base === math.min(i + 1, Dedup.MemoCapacity), s"after ${i + 1} distinct inputs")
    }
    Dedup.clearCaches()
    assert(persisted === base)
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Skew guards + recall of the LSH dedup family on degenerate corpora.
 *
 * The scale hazard: a boilerplate-heavy corpus puts thousands of docs into
 * ONE LSH bucket, whose self-join goes quadratic (10^5 docs -> 10^10 pairs).
 * `maxBucketSize` caps each bucket's membership deterministically; these
 * tests assert (a) the cap actually bounds the candidate count, (b) planted
 * near-duplicates are still found, (c) embedding near-dup recall survives
 * real perturbation (not just exact copies) via banding.
 */
class DedupSkewSpec extends SparkSpec {
  import spark.implicits._

  private val boiler = "the quick brown fox jumps over the lazy dog again and again " * 5

  test("connectedComponents: chains collapse in O(log n) pointer-jumping rounds") {
    // a 100-node path (worst case for plain propagation), a triangle, a pair
    val edges = ((0 until 99).map(i => (i.toLong, i.toLong + 1)) ++
      Seq((200L, 201L), (201L, 202L), (202L, 200L), (300L, 301L))).toDF("src", "dst")
    val got = Dedup.connectedComponents(edges, "src", "dst", maxIters = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0 until 100).foreach(i => assert(got(i.toLong) === 0L, s"node $i"))
    Seq(200L, 201L, 202L).foreach(n => assert(got(n) === 200L))
    assert(got(300L) === 300L && got(301L) === 300L)
    assert(got.size === 105)
    // convergence inside 12 rounds proves the doubling behavior: plain
    // min-propagation would need ~99 rounds for the path
  }

  test("minHashCandidates: bucket cap bounds the candidate explosion on identical docs") {
    // 400 identical docs + 2 distinct near-dup pairs
    val docs = ((0 until 400).map(i => (i.toLong, boiler)) ++ Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"))).toDF("id", "text")
    val sigs = Dedup.minHashSignatures(docs, "id", "text", numHashes = 64)
    val capped = Dedup.minHashCandidates(sigs, "id", bands = 16, rowsPerBand = 4,
      threshold = 0.5, maxBucketSize = 16)
    val pairs = capped.collect()
    // without the cap: C(400,2) = 79,800 identical-doc pairs; with cap 16:
    // at most 16 bands x C(16,2) = 1,920 — and dedup across bands shrinks it
    // further since every band keeps the SAME lowest-id members
    assert(pairs.length <= 16 * 16 * 15 / 2, s"got ${pairs.length} pairs")
    assert(pairs.length >= 1)
    // the planted near-dup pair still surfaces (its buckets are not skewed)
    assert(pairs.exists(r => r.getLong(0) == 1000L && r.getLong(1) == 1001L))
    // identical docs that survived the cap ARE found as exact candidates
    assert(pairs.exists(r => r.getDouble(2) == 1.0))
  }

  test("simHashCandidates: bucket cap bounds candidates; hamming-0 dups found") {
    val docs = ((0 until 300).map(i => (i.toLong, boiler)) ++ Seq(
      (2000L, "completely different content about spark dataframes and shuffles"),
      (2001L, "completely different content about spark dataframes and shuffles"))).toDF("id", "text")
    // adversarial mega-group: BOTH caps small — candidates stay bounded by
    // chunk-cap pairs + exact-group-cap pairs, and the isolated exact pair
    // is still found (the exact path pairs by full hash, not hot chunks)
    val capped = Dedup.simHashCandidates(Dedup.simHash(docs, "id", "text"), "id",
      maxHamming = 3, maxBucketSize = 16, maxExactGroup = 16)
    val pairs = capped.collect()
    assert(pairs.length <= 4 * 16 * 15 / 2 + 2 * 16 * 15 / 2,
      s"got ${pairs.length} pairs")
    assert(pairs.exists(r => r.getLong(0) == 2000L && r.getLong(1) == 2001L))
    // default exact-group cap: the identical group's pairs are COMPLETE
    // (the sf1 regression: hot chunk buckets must not lose exact dups)
    val full = Dedup.simHashCandidates(Dedup.simHash(docs, "id", "text"), "id",
      maxHamming = 0)
    assert(full.count() === 300L * 299 / 2 + 1)
  }

  test("embeddingNearDup: planted perturbed near-dups found via banding; buckets capped") {
    val dim = 32
    def vec(seed: Int): Array[Float] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    // 60 base vectors; ids 100xx are near-dup copies of 100 bases with ONE
    // element nudged (cosine stays ~0.99+, but 1-2 sketch bits may flip —
    // whole-sketch equality would miss many of these; banding must not)
    val bases = (0 until 60).map(i => (i.toLong, vec(i)))
    val dups = (0 until 60).map { i =>
      val v = vec(i).clone()
      v(i % dim) = v(i % dim) + 0.05f
      (10000L + i, v)
    }
    val embs = (bases ++ dups).toDF("id", "vec")
    val got = Dedup.embeddingNearDup(embs, "id", "vec", planes = 16,
      threshold = 0.98, bands = 4, maxBucketSize = 64)
      .filter(col("id_b") === col("id_a") + 10000)
      .collect().map(_.getLong(0)).toSet
    // brute-force truth: which planted pairs have cosine >= 0.98 (all should)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / math.sqrt(na * nb)
    }
    val truth = bases.indices.filter(i => cos(bases(i)._2, dups(i)._2) >= 0.98).map(_.toLong).toSet
    assert(truth.size >= 50, s"fixture degenerate: only ${truth.size} true near-dups")
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"banded LSH recall $recall < 0.9 (found ${got.size} of ${truth.size})")

    // degenerate skew: 500 copies of one vector — cap keeps the job bounded
    val same = (0 until 500).map(i => (i.toLong, vec(7)))
    val cappedPairs = Dedup.embeddingNearDup(same.toDF("id", "vec"), "id", "vec",
      planes = 16, threshold = 0.99, bands = 4, maxBucketSize = 16).count()
    assert(cappedPairs <= 4 * 16 * 15 / 2, s"got $cappedPairs pairs")
    assert(cappedPairs >= 1)
  }

  test("occupancy law: band bits grow with log2(n), fixed at small scale") {
    // the sf0.001-0.1 driver scales resolve to the historical planes=16
    assert(Dedup.signPlanesFor(400, bands = 4) === 16)
    assert(Dedup.signPlanesFor(4000, bands = 4) === 16)
    // sf1 (40k vectors): 8 bits/band -> 256 buckets, occupancy ~156
    assert(Dedup.signPlanesFor(40000, bands = 4) === 32)
    // growth is logarithmic and clamps at the 64-bit sketch limit
    assert(Dedup.signPlanesFor(400000, bands = 4) === 44)
    assert(Dedup.signPlanesFor(Long.MaxValue, bands = 4) === 64)
    // the per-band clamp keeps any band count within the 64-bit sketch
    assert(Dedup.signPlanesFor(Long.MaxValue, bands = 5) === 60)
    assert(Dedup.signPlanesFor(Long.MaxValue, bands = 8) === 64)
  }

  test("occupancy-law sizing keeps exact-dup recall on a duplicate flood") {
    import spark.implicits._
    // the sf1 tiling shape: 10 identical copies of each base vector plus a
    // same-direction planted copy of each — at fixed 16 planes the 16
    // buckets/band overflow a small cap and drop planted pairs; the law
    // widens the bands so occupancy stays under the cap
    val dim = 8
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextFloat() * 2 - 1)
    }
    val flood = for (base <- 0 until 40; copy <- 0 until 10)
      yield ((base * 10 + copy).toLong, vec(base))
    val planted = flood.map { case (id, v) => (id + 1000000, v.map(_ * 1.25f)) }
    val embs = (flood ++ planted).toDF("id", "vec")
    val planes = Dedup.signPlanesFor(2L * flood.size, bands = 4, targetBucket = 8)
    val found = Dedup.embeddingNearDup(embs, "id", "vec", planes = planes,
      threshold = 0.999, bands = 4, maxBucketSize = 64)
      .filter(col("id_b") === col("id_a") + 1000000).count()
    assert(found === flood.size.toLong,
      s"occupancy-law sizing missed planted pairs: $found of ${flood.size}")
  }
}

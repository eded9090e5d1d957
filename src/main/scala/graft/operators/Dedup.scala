package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale training-data pipelines: exact,
 * n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
 *
 * Scale design: every method is a pure DataFrame pipeline whose only
 * shuffles are keyed groupBys/joins on content-derived keys (hash buckets),
 * so candidate generation is O(n) + a co-partitioned self-join per bucket —
 * never an all-pairs cross join. At 100 TB the bucket join is the standard
 * MinHash-LSH band-bucket pattern; skewed buckets (boilerplate corpora can
 * put 10^5+ docs in one bucket, whose self-join would go quadratic) are
 * bounded by [[capBuckets]]: each bucket keeps at most `maxBucketSize`
 * members (deterministic by id), so a bucket contributes at most
 * C(maxBucketSize, 2) pairs. Docs cut from an oversized bucket can still
 * pair through their OTHER bands — the standard LSH skew guard.
 */
object Dedup {

  /** Cap each bucket at `maxBucketSize` members, kept deterministically by
    * ascending id — the window form, for band tables that carry payload
    * columns beyond (id, keys). Band tables that don't should use
    * [[capBucketsAgg]], which replaces the window's sort with a hash
    * aggregation. */
  private def capBuckets(banded: DataFrame, keyCols: Seq[String], idCol: String,
                         maxBucketSize: Int): DataFrame = {
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    val keys = keyCols.map(col)
    // one window pass: deterministic membership = the maxBucketSize
    // smallest ids of each bucket
    val w = Window.partitionBy(keys: _*).orderBy(col(idCol))
    banded.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucketSize)
      .drop("__rn")
  }

  /** Bounded max-heap of the k SMALLEST longs per group — the sort-free
    * form of [[capBuckets]] for band tables that carry only (id, keys):
    * a hash aggregation (partial min-k per map task, merged) replaces the
    * window's full sort of the banded rows. Same membership: the
    * maxBucketSize smallest ids of each bucket. */
  private final class MinKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, java.util.PriorityQueue[java.lang.Long], Array[Long]] {
    private def maxHeap = new java.util.PriorityQueue[java.lang.Long](
      java.util.Comparator.reverseOrder[java.lang.Long]())
    def zero: java.util.PriorityQueue[java.lang.Long] = maxHeap
    def reduce(q: java.util.PriorityQueue[java.lang.Long], id: Long): java.util.PriorityQueue[java.lang.Long] = {
      if (q.size < k) q.add(id)
      else if (id < q.peek) { q.poll(); q.add(id) }
      q
    }
    def merge(a: java.util.PriorityQueue[java.lang.Long],
              b: java.util.PriorityQueue[java.lang.Long]): java.util.PriorityQueue[java.lang.Long] = {
      val it = b.iterator()
      while (it.hasNext) reduce(a, it.next()): Unit
      a
    }
    def finish(q: java.util.PriorityQueue[java.lang.Long]): Array[Long] = {
      val out = new Array[Long](q.size)
      var i = out.length - 1
      while (i >= 0) { out(i) = q.poll(); i -= 1 }
      out
    }
    def bufferEncoder = org.apache.spark.sql.Encoders.kryo[java.util.PriorityQueue[java.lang.Long]]
    def outputEncoder = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Cap via hash-aggregated min-k (no sort shuffle). `banded` must be
    * exactly (idCol, keyCols...); output column order matches. */
  /** How many entries each memo below keeps: the least recently used one
    * beyond it is dropped (and unpersisted, when persisted). */
  private[operators] val MemoCapacity = 16

  /** A bounded LRU memo: past [[MemoCapacity]] entries the least recently
    * used one is dropped and handed to `evicted`. */
  private final class LruMemo[K, V](evicted: V => Unit) {
    private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
        val evict = size() > MemoCapacity
        if (evict) evicted(e.getValue)
        evict
      }
    }
    def getOrElseUpdate(key: K, make: => V): V = synchronized {
      val hit = entries.get(key)
      if (hit != null) hit else { val v = make; entries.put(key, v); v }
    }
    def clear(): Unit = synchronized { entries.values.forEach(evicted(_)); entries.clear() }
  }

  /** Memoized persist for candidate-generation intermediates (signature /
    * chunk / sketch tables): repeated dedup calls over the same input reuse
    * ONE cached copy instead of stacking a new orphaned RDD per call (the
    * signIndex pattern from [[Similarity]]; on a cluster a written bucketed
    * table plays this role). Keyed by the canonicalized analyzed plan, so
    * parameters baked into the frame distinguish entries. An evicted
    * entry is unpersisted, so many distinct inputs cannot pile up cached
    * blocks. */
  private val persistMemo = new LruMemo[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
    _.unpersist(blocking = false))

  private def memoPersist(df: DataFrame): DataFrame =
    persistMemo.getOrElseUpdate(df.queryExecution.analyzed.canonicalized,
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The typed signature kernels ([[minHashSignatures]], [[simHash]]) embed
    * Scala closures, which canonicalized-plan equality treats as opaque —
    * two calls with identical inputs would build UNEQUAL plans and defeat
    * [[memoPersist]]. So the derivation itself is memoized on (input plan,
    * parameter key): repeated identical calls return the SAME Dataset
    * instance, whose plan then hits the persist memo. Its frames are not
    * persisted themselves, so eviction only forgets them. */
  private val derivedMemo =
    new LruMemo[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String), DataFrame](_ => ())

  private def memoDerived(src: DataFrame, key: String)(make: => DataFrame): DataFrame =
    derivedMemo.getOrElseUpdate((src.queryExecution.analyzed.canonicalized, key), make)

  /** Session-lifecycle hygiene: unpersist every memoized dedup intermediate.
    * The memos are bounded, so this is only needed to release the cache
    * early, e.g. between corpora. */
  def clearCaches(): Unit = {
    persistMemo.clear()
    derivedMemo.clear()
  }

  private def capBucketsAgg(banded: DataFrame, keyCols: Seq[String], idCol: String,
                            maxBucketSize: Int): DataFrame = {
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    val minK = udaf(new MinKAgg(maxBucketSize))
    banded.groupBy(keyCols.map(col): _*)
      .agg(minK(col(idCol)).as("__ids"))
      .select((explode(col("__ids")).as(idCol) +: keyCols.map(col)): _*)
  }

  /** Exact dedup: keep the first doc (by `order`) of each identical-content
    * group, content keyed by md5 of the lowercased text. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    docs.withColumn("content_hash", md5(lower(col(textCol))))
      .withColumn("group_size", count("*").over(Window.partitionBy(col("content_hash"))))
      .withColumn("rn", row_number().over(w))
      .withColumn("is_kept", col("rn") === 1)
      .select(col(idCol), col("content_hash"), col("group_size"), col("is_kept"))
  }

  /** Character n-gram shingle set of a string column (distinct, sorted).
    * Strings shorter than n yield an EMPTY set (guard needed: Spark's
    * sequence(1, 0) counts DOWN, which would yield a bogus shingle). */
  def charShingles(s: Column, n: Int): Column =
    when(length(s) >= n,
      array_sort(array_distinct(transform(
        sequence(lit(1), length(s) - (n - 1)),
        i => s.substr(i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** n-gram Jaccard similarity between two string columns (char shingles). */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = charShingles(a, n)
    val sb = charShingles(b, n)
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** FNV-1a 64 of a string, mixed per-seed with splitmix64 — the cheap
    * deterministic hash family behind the minhash permutations. */
  @inline private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val TokenRe = java.util.regex.Pattern.compile(TextOps.TokenPattern)

  /**
   * MinHash signatures over w-word shingle sets (w=3): permutation p of
   * shingle hash h is mix64(h ^ mix64(p)), minimized over the doc's
   * distinct shingles. Shingles (not unigram token sets) are the scale
   * choice: with a small shared vocabulary, unigram SETS of most documents
   * collide and LSH candidate pairs go quadratic; 3-word shingles keep
   * signatures discriminative. Docs shorter than w hash their full token
   * sequence as one shingle. One typed narrow pass — shingle hashed once,
   * then numHashes cheap mixes (a 128-way nested column-transform tree is
   * codegen-hostile; the typed map is ~10x faster and identical at any
   * parallelism).
   */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleWidth: Int = 3): DataFrame =
    memoDerived(docs, s"minhash:$idCol:$textCol:$numHashes:$shingleWidth") {
      minHashSignaturesUncached(docs, idCol, textCol, numHashes, shingleWidth)
    }

  private def minHashSignaturesUncached(docs: DataFrame, idCol: String, textCol: String,
                                        numHashes: Int, shingleWidth: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = shingleWidth
    val seeds = (0 until numHashes).map(p => mix64(p.toLong)).toArray
    docs.select(col(idCol).cast("long"), lower(coalesce(col(textCol), lit(""))))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sig = Array.fill(numHashes)(Long.MaxValue)
        val toks = new scala.collection.mutable.ArrayBuffer[Long](256)
        val m = TokenRe.matcher(text)
        while (m.find()) toks += fnv64(m.group())
        val seen = new scala.collection.mutable.HashSet[Long]()
        def addShingle(h: Long): Unit = if (seen.add(h)) {
          var p = 0
          while (p < numHashes) {
            val v = mix64(h ^ seeds(p))
            if (v < sig(p)) sig(p) = v
            p += 1
          }
        }
        if (toks.length < w) {
          if (toks.nonEmpty) addShingle(toks.foldLeft(0x51ee7L)((a, t) => mix64(a ^ t)))
        } else {
          var i = 0
          while (i + w <= toks.length) {
            var h = 0x51ee7L
            var j = 0
            while (j < w) { h = mix64(h ^ toks(i + j)); j += 1 }
            addShingle(h)
            i += 1
          }
        }
        (id, sig)
      }
      .toDF(idCol, "minhash")
  }

  /**
   * MinHash-LSH candidate pairs: band the signature (bands × rowsPerBand =
   * numHashes), bucket-join docs sharing any band hash, then verify with the
   * estimated Jaccard (fraction of agreeing minhash components).
   * Returns (idA, idB, est_jaccard) with idA < idB, est >= threshold.
   */
  def minHashCandidates(sigs0: DataFrame, idCol: String, bands: Int,
                        rowsPerBand: Int, threshold: Double,
                        maxBucketSize: Int = 1024): DataFrame = {
    // memo-persisted: the banded self-join and the two signature re-joins
    // would otherwise recompute the full signature pipeline; the memo keeps
    // repeated calls from stacking orphaned cache entries
    val sigs = memoPersist(sigs0)
    // band table carries ONLY (id, band, bucket): the heavy signature array
    // stays out of the shuffle; candidate pairs dedup on bare id pairs
    val banded = capBucketsAgg(sigs.select(
      col(idCol),
      posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("minhash"), b * rowsPerBand + 1, rowsPerBand))
      }: _*)).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), idCol, maxBucketSize)
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    pairs
      .join(sigs.select(col(idCol).as("id_a"), col("minhash").as("mh_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("minhash").as("mh_b")), "id_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("mh_a"), col("mh_b"), (x, y) => x === y), b => b))
          .cast("double") / size(col("mh_a")))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Band-size search of Solr's MinHashQParser (reference solr/core/src/
    * java/org/apache/solr/search/MinHashQParser.java:130-139): smallest
    * rows-per-band whose banded-LSH true-positive probability at the given
    * Jaccard similarity exceeds `expectedTruePositive`. */
  def computeBandSize(numHash: Int, similarity: Double,
                      expectedTruePositive: Double): Int = {
    var bands = 1
    while (bands <= numHash) {
      val rowsInBand = numHash / bands
      val tp = 1 - math.pow(1 - math.pow(similarity, rowsInBand), bands)
      if (tp > expectedTruePositive) return rowsInBand
      bands += 1
    }
    1
  }

  /**
   * Query-time MinHash fingerprint query — Solr's MinHashQParser
   * (reference solr/core/src/java/org/apache/solr/search/MinHashQParser.java:
   * 44-128): the query text is fingerprinted with the SAME minhash
   * "analyzer" as the corpus ([[minHashSignatures]]), the query hashes are
   * banded (band size from `sim`/`tp` when tp < 1, else 1), each band is a
   * conjunction of constant-score term probes against the doc's hash SET,
   * and bands combine as SHOULD clauses — score = number of matching
   * bands. A remainder band wraps around and pads from the head of the
   * hash list, and `tp >= 1 && sim < 1` sets minimumNumberShouldMatch =
   * ceil(numHashes·sim), both exactly as the reference builds the query.
   *
   * Plan shape: doc signatures are ONE narrow pass; the band membership
   * table is a broadcast of ≤ numHashes rows; matching is one
   * groupBy(doc, band) + one groupBy(doc) — only signature components
   * shuffle, never text. Returns (idCol, matched_bands LONG).
   */
  def minHashQuery(docs: DataFrame, idCol: String, textCol: String,
                   queryText: String, numHashes: Int = 64, shingleWidth: Int = 3,
                   sim: Double = 1.0, tp: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qsig: Array[Long] = {
      val one = Seq((0L, queryText)).toDF(idCol, textCol)
      minHashSignatures(one, idCol, textCol, numHashes, shingleWidth)
        .head.getSeq[Long](1).toArray
    }
    val bandSize = if (tp < 1.0) computeBandSize(numHashes, sim, tp) else 1
    val full = qsig.grouped(bandSize).toArray
    val bands: Array[Array[Long]] =
      if (full.last.length == bandSize) full
      else full.dropRight(1) :+
        (full.last ++ qsig.take(bandSize - full.last.length))
    val msm: Long =
      if (tp >= 1.0 && sim < 1.0) math.ceil(numHashes * sim).toLong else 1L
    val bandRows = bands.zipWithIndex.flatMap { case (hs, bi) =>
      val d = hs.distinct
      d.map(h => (h, bi, d.length))
    }.toSeq.toDF("h", "band", "need")
    val docHashes = minHashSignatures(docs, idCol, textCol, numHashes, shingleWidth)
      .select(col(idCol), explode(array_distinct(col("minhash"))).as("h"))
    docHashes.join(broadcast(bandRows), "h")
      .groupBy(col(idCol), col("band"), col("need"))
      .agg(countDistinct("h").as("got"))
      .filter(col("got") === col("need"))
      .groupBy(idCol).agg(count("*").as("matched_bands"))
      .filter(col("matched_bands") >= msm)
  }

  /**
   * SimHash (64-bit) over tokens weighted by tf: sign-sum of per-token
   * xxhash64 bits. Near-dups = pairs within `maxHamming` — candidates found
   * by banding the 64 bits into 4×16-bit chunks (pigeonhole: hamming<=3
   * pairs share at least one exact chunk).
   *
   * One NARROW typed pass: per doc, local tf map → 64 signed accumulators →
   * sign bits. The declarative form (token explode → tf groupBy → 64-column
   * agg) shuffles every token row TWICE before reducing to one long per doc;
   * at 100 TB that is the dominant cost of the whole simhash path, while
   * this map shuffles nothing. Token hash = Spark's `xxhash64` (seed 42,
   * via the same catalyst kernel), so results are bit-identical to the
   * declarative form — asserted by OperatorsSpec's parity test. Docs with
   * no tokens yield no row (matching the aggregation form's semantics).
   */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    memoDerived(docs, s"simhash:$idCol:$textCol") {
      simHashUncached(docs, idCol, textCol)
    }

  private def simHashUncached(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), lower(coalesce(col(textCol), lit(""))))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val tf = new java.util.HashMap[String, Int]()
        val m = TokenRe.matcher(text)
        while (m.find()) tf.merge(m.group(), 1, Integer.sum)
        if (tf.isEmpty) None
        else {
          val acc = new Array[Long](64)
          val it = tf.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
              org.apache.spark.unsafe.types.UTF8String.fromString(e.getKey),
              org.apache.spark.sql.types.StringType, 42L)
            val w = e.getValue.toLong
            var i = 0
            while (i < 64) {
              if (((h >>> i) & 1L) == 1L) acc(i) += w else acc(i) -= w
              i += 1
            }
          }
          var sh = 0L
          var i = 0
          while (i < 64) { if (acc(i) > 0) sh |= (1L << i); i += 1 }
          Some((id, sh))
        }
      }
      .toDF(idCol, "simhash")
  }

  /** Hamming distance between two long columns. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via 16-bit chunk banding (exact for hamming<=3
    * within uncapped buckets; oversized buckets — near-empty docs hash to
    * few distinct simhashes and collide heavily — are capped). */
  def simHashCandidates(hashes: DataFrame, idCol: String, maxHamming: Int,
                        maxBucketSize: Int = 1024,
                        maxExactGroup: Int = 4096): DataFrame = {
    // Identical sketches need NO LSH: pairing within groupBy(full hash) is
    // structural — immune to chunk-bucket heat. The 16-bit chunk buckets
    // are a pigeonhole scheme whose width CANNOT grow with n (4 chunks of
    // a 64-bit hash are what guarantee a hamming<=3 pair shares a chunk),
    // so chunk-bucket occupancy grows linearly with the corpus and a hot
    // bucket's min-id cap systematically evicts high ids: the sf1
    // rehearsal (10x-tiled duplicate-heavy corpus) dropped 4 of 50k
    // planted exact-dup pairs that way. Exact groups carry their own,
    // higher cap: the OUTPUT of a g-member identical group is g(g-1)/2
    // pairs, so an adversarial mega-group (1M bit-identical docs) must be
    // bounded somewhere — cap at maxExactGroup members, i.e. the dedup
    // semantics stay exact up to 4096-way duplication per sketch value.
    val exact = memoPersist(capBuckets(
      hashes.select(col(idCol), col("simhash")), Seq("simhash"), idCol,
      maxExactGroup))
    val exactPairs = exact.as("a").join(exact.as("b"),
        col("a.simhash") === col("b.simhash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        lit(0).as("hamming"))
    if (maxHamming == 0) return exactPairs.distinct()
    val chunked = capBuckets(hashes.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map { c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)
      }: _*)).as(Seq("chunk", "ck"))),
      Seq("chunk", "ck"), idCol, maxBucketSize)
    val chunkedP = memoPersist(chunked)
    chunkedP.as("a").join(chunkedP.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hamming64(col("a.simhash"), col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .unionByName(exactPairs)
      .distinct()
  }

  /**
   * Connected components over a near-duplicate pair graph — the canonical-
   * selection step of a real dedup pipeline (candidate pairs form chains
   * and clusters; every doc must map to ONE surviving representative).
   * Returns (id, component) where component = min id reachable from id.
   *
   * Algorithm: iterative min-label propagation with POINTER JUMPING
   * (rep := rep(rep)) each round, so label distance doubles per iteration
   * — O(log n) rounds even on path graphs (plain propagation would need
   * O(diameter)). Each round is two keyed joins + an aggregation; the
   * driver only sees one convergence scalar per round. This is the
   * standard MapReduce-CC shape (cf. Kiveris et al. large-star/small-star)
   * expressed with DataFrame joins.
   */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    val e2 = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
    val bidir = e2.union(e2.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint per round TRUNCATES the logical plan: the self-join
    // would otherwise double the Catalyst plan tree every iteration
    // (exponential analysis cost — the classic iterative-DataFrame trap)
    var lab = bidir.select(col("a").as("id")).distinct()
      .withColumn("rep", col("id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // neighbor's rep reaches me; then jump: my rep := rep(my rep)
      val viaEdges = bidir.join(lab.withColumnRenamed("id", "a"), "a")
        .select(col("b").as("id"), col("rep"))
      val minLab = lab.select("id", "rep").union(viaEdges)
        .groupBy("id").agg(min("rep").as("rep"))
        .localCheckpoint(true)
      val jumped = minLab.as("x")
        .join(minLab.select(col("id").as("rep"), col("rep").as("rep2")).as("y"), Seq("rep"))
        .select(col("id"), col("rep2").as("rep"))
        .localCheckpoint(true)
      // converged when no row's rep changed this round
      val changed = jumped.as("n").join(lab.as("o"), "id")
        .filter(col("n.rep") =!= col("o.rep")).limit(1).count()
      lab = jumped
      converged = changed == 0
      iter += 1
    }
    bidir.unpersist()
    lab.select(col("id"), col("rep").as("component"))
  }

  /**
   * Occupancy-law sizing for sign-LSH banding: a band with `b` bits has
   * `2^b` buckets, so expected bucket population is `n / 2^b` — constant
   * band bits mean occupancy (and the all-pairs candidate work, and the
   * odds of tripping the skew cap) grow LINEARLY with the corpus. To hold
   * occupancy at `targetBucket` the bits must grow with log2(n):
   * `bits = ceil(log2(n / targetBucket))`, clamped to [4, 16] and to
   * `64 / bands` (the whole sketch packs into one 64-bit long). Recall
   * cost is bounded: at cosine 0.999 (angle 2.56°) a 16-bit band still
   * collides with prob 0.986^16 ≈ 0.80, and identical-direction pairs
   * collide with probability 1 at ANY width, so planted/exact-dup recall
   * is width-independent. Callers at a fixed small scale can keep
   * explicit planes; scale-varying callers (the sf-parameterized driver
   * queries, a 100 TB pipeline) should size via this law.
   */
  def signPlanesFor(n: Long, bands: Int, targetBucket: Int = 256): Int = {
    require(bands >= 1 && bands <= 64, s"bands must be in [1, 64], got $bands")
    val bits = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
      math.log(2.0)).toInt
    bands * math.min(math.min(16, 64 / bands), math.max(4, bits))
  }

  /**
   * Embedding near-dup: pairs with exact cosine >= threshold among sign-LSH
   * candidates. The `planes`-bit sign sketch is split into `bands` chunks;
   * docs sharing ANY chunk are candidates (near-dups that differ in a few
   * sketch bits still collide on an unaffected band — single-whole-sketch
   * equality would miss them). Buckets are capped (see [[capBuckets]]).
   * Size `planes` by the occupancy law ([[signPlanesFor]]) when the input
   * scale varies. Returns (id_a, id_b, cos) with id_a < id_b.
   */
  def embeddingNearDup(embs: DataFrame, idCol: String, vecCol: String,
                       planes: Int, threshold: Double,
                       bands: Int = 1, maxBucketSize: Int = 1024): DataFrame = {
    require(planes % bands == 0, s"bands ($bands) must divide planes ($planes)")
    val bandBits = planes / bands
    val mask = (1L << bandBits) - 1
    val sketched = memoPersist(Similarity.withSignSketch(embs, vecCol, planes))
    val banded = capBucketsAgg(sketched.select(
        col(idCol),
        posexplode(array((0 until bands).map { b =>
          shiftright(col("sketch"), b * bandBits).bitwiseAND(mask)
        }: _*)).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), idCol, maxBucketSize)
    // candidate id pairs carry no vectors through the shuffle; the two
    // re-joins below fetch vectors only for surviving candidates
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    pairs
      .join(sketched.select(col(idCol).as("id_a"), col(vecCol).as("__va")), "id_a")
      .join(sketched.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("__va"), col("__vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}

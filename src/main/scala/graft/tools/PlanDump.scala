package graft.tools

import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexStore}
import graft.operators.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.debug._

/** Regenerates PLANS.md: `explain(formatted)` of the scale-critical
  * queries with commentary — the plan-shape evidence the PlanAuditSpec
  * assertions are distilled from. Run from the repository root:
  * `sbt "runMain graft.tools.PlanDump"`. Everything in PLANS.md from the
  * [[HandWritten]] marker line on is hand-written and kept as it is. */
object PlanDump {
  val HandWritten = "<!-- Hand-written sections below: PlanDump keeps everything from this line on. -->"

  /** The generated text followed by the hand-written tail of `existing`;
    * a file without the marker is refused rather than overwritten. */
  def merge(generated: String, existing: String): String = {
    val at = existing.indexOf(HandWritten)
    require(at >= 0, s"PLANS.md has no marker line '$HandWritten'; refusing to overwrite it")
    generated + "\n" + existing.substring(at)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = "target/plandump-idx"
    graft.util.Fs.rmTree(dir)
    val withIds = DocIds.assign(CorpusGen.corpus(spark, 300, 4).toDF(),
      Seq("repo", "path", "commit"), 4).cache()
    IndexStore.build(spark, withIds, dir, numSegments = 1, shufflePartitions = 8,
      withPositions = true, docValueCols = Seq("lang"), withOffsets = true)
    val idx = IndexStore.OpenIndex(spark, dir)

    val sb = new StringBuilder
    sb.append("""# PLANS — formatted physical plans of the scale-critical paths
                |
                |Generated by `graft.tools.PlanDump` (re-run after plan-affecting
                |changes). Assertions distilled from these shapes live in
                |PlanAuditSpec; this file is the human-readable audit.
                |""".stripMargin)

    def section(title: String, note: String, df: DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      // keep the operator tree + the scan details; drop verbose field lists
      val lines = plan.linesIterator.toSeq
      val cut = lines.indexWhere(_.startsWith("(1) "))
      val tree = if (cut > 0) lines.take(cut) else lines
      val details = lines.filter(l => l.contains("PushedFilters") || l.contains("ReadSchema"))
      sb.append(tree.mkString("\n")).append("\n")
      if (details.nonEmpty) sb.append("\n-- scan details --\n").append(details.mkString("\n")).append("\n")
      sb.append("```\n")
    }

    section("BM25 top-k (the term-scoring kernel)",
      """Over the warmed postings cache (`OpenIndex.warm`) of an index
        |under one doc-range slice, cached as that slice (one partition,
        |sorted by term): the term filter prunes the in-memory batches;
        |the cache's plan reports one partition, so the kernel keys the
        |blocks to their doc-range buckets and scores them in place into
        |one bounded heap, skipping blocks that cannot compete — one
        |stage, no exchange; the final top-k is TakeOrderedAndProject —
        |the per-task heaps merged on the driver, never a global sort.
        |Over an unwarmed or larger index the term filter pushes into the
        |postings parquet scan instead, and the query terms' blocks
        |shuffle once on their bucket (PlanAuditSpec pins both
        |shapes).""".stripMargin,
      IndexStore.OpenIndex(spark, dir).warm(2).topK(Seq("public", "import"), 10))

    section("Parsed boolean `+public import -handler3` (Searcher)",
      """A term-leaf boolean is ONE kernel request with a must, a
        |should and a mustNot slot: the three terms' blocks are keyed to
        |doc-range buckets, and the bucket shuffle of the unwarmed
        |postings is the one exchange. The kernel skips a window with no
        |`public` block undecoded, decodes a `handler3` block only when a
        |candidate falls inside it, and tests tombstones before its top-k
        |queue. No per-doc grouping, no join. Over the warmed one-slice
        |cache it is the Or query's plan: no exchange, one job, one stage
        |(PlanAuditSpec).""".stripMargin,
      idx.search("+public import -handler3", 10))

    section("Field-sorted top-k over doc values",
      """Constant-score match -> join against ONLY the narrow docvalues
        |columns -> bounded TakeOrderedAndProject on the sort fields.""".stripMargin,
      idx.topKByField(Seq("public"), Seq(("lang", true)), 10))

    section("Dictionary expansion (prefix)",
      """The expansion predicate evaluates against the vocab-sized
        |termstats table (pushed StringStartsWith + 2-column ReadSchema),
        |never against the postings.""".stripMargin,
      idx.termstats.filter(col("term").startsWith("pub")).select("term", "df"))

    section("MinHash LSH candidate pairs",
      """Band table carries only (id, band, bucket) through the shuffle
        |(signatures stay out); the self-join is keyed on (band, bucket) —
        |co-partitioned, never a cross join; the bucket cap bounds each
        |bucket's contribution.""".stripMargin,
      Dedup.minHashCandidates(
        Dedup.minHashSignatures(withIds.select($"docId".as("id"), $"content".as("text")),
          "id", "text", 32), "id", bands = 8, rowsPerBand = 4, threshold = 0.5))

    section("IVF probe (nprobe=2 of 8 centroids)",
      """The centroid filter prunes the persisted assignments before the
        |exact rescoring — a keyed scan of ~nprobe/k of the corpus, not a
        |full pass.""".stripMargin, {
        val embs = spark.range(200).select($"id",
          array((0 until 8).map(i => (rand(i) * 2 - 1).cast("float")): _*).as("vec"))
          .cache()
        val (assign, cents) = Similarity.ivfIndex(embs, "id", "vec", k = 8, iters = 1)
        Similarity.ivfTopK(assign, cents, "id", "vec",
          Array.fill(8)(0.1f), 5, nprobe = 2)
      })

    section("Gram-pruned fuzzy dictionary probe",
      """Fuzzy expansion filters the bigram sidecar to the QUERY's own
        |grams + length band (in-memory batch pruning on the persisted
        |sidecar; a written gram-bucketed table prunes files at 100 TB) —
        |candidate terms come out of a keyed probe, never a full-vocabulary
        |levenshtein scan; exact levenshtein runs only on the survivors.""".stripMargin,
      idx.fuzzyCandidates("mergepolicy", 1))

    section("Passage highlighting over the offsets tier",
      """Only the query terms' offset rows are read (pushed In(term, ...));
        |passages aggregate per (doc, window) and the per-doc best-N is a
        |bounded window rank — the doc text itself never enters the plan.""".stripMargin,
      idx.highlightPassages(Seq("public", "import"), window = 16, topPassages = 2))

    section("Phrase frequencies (single shuffle for any phrase length)",
      """All slots' positions come from ONE pruned scan joined to a tiny
        |broadcast (term, slot) table; every slot's adjusted-position list
        |is built by a single groupBy(docId) with conditional collect_list
        |— a 5-term phrase used to cost 5 shuffles + 4 joins.""".stripMargin,
      graft.query.QueryEngine.phraseFreqs(idx.positions,
        Seq(Seq("public"), Seq("static"), Seq("void"))))

    section("Declarative BM25 (oracle-parity path)",
      """Collection stats (N, avgdl) and per-term dfs ride BroadcastExchange;
        |only query-term postings shuffle into the per-doc aggregation.""".stripMargin,
      TextOps.bm25All(withIds.select($"docId".as("id"), $"content".as("text")),
        "id", "text", Seq("public", "import")))

    section("Field collapse (one best doc per group)",
      """Head selection is a max_by aggregation — ONE partial-aggregated
        |grouping exchange (map-side combine reduces every group to one
        |partial per partition), no Window, no sort of the result set.""".stripMargin,
      graft.operators.Relational.collapseOn(
        withIds.select($"docId".as("id"), $"lang".as("grp"),
          ($"docId" % 13).cast("double").as("score")), "grp", "score", "id"))

    section("Pivot facet (two-level, per-level limits)",
      """One data pass: the (A, B) count aggregation feeds both levels —
        |level-1 totals re-aggregate its shuffle output via ReusedExchange,
        |and the facet.limit-sized winners come back as a broadcast join.""".stripMargin,
      graft.operators.Relational.facetPivot(
        withIds.select($"lang", ($"docId" % 7).cast("string").as("bucket")),
        "lang", "bucket", 3, 2))

    section("Re-rank window (second-pass scoring)",
      """The first-pass window is TakeOrderedAndProject (bounded heaps);
        |both passes share one tokenization of the corpus, and the rescore
        |join touches only the reRankDocs-sized window.""".stripMargin,
      TextOps.reRank(withIds.select($"docId".as("id"), $"content".as("text")),
        "id", "text", Seq("public", "static"), Seq("import"), 20, 2.0))

    // lang must VARY (a lit() would constant-fold the sample join's equi-key
    // and degrade the plan to a nested-loop join)
    val docs = withIds.select($"docId".as("doc_id"), $"content".as("text"),
      concat(lit("l"), ($"docId" % 5).cast("string")).as("lang"))
    section("Benchmark decontamination (shingles ⋈ broadcast fragments)",
      """Doc text never enters a shuffle: the n-gram shingle explode is a
        |narrow projection and the tiny eval-fragment set rides a
        |BroadcastHashJoin; only (doc_id, hit) pairs reach the final count
        |aggregation.""".stripMargin,
      graft.operators.Pipeline.decontaminate(docs,
        graft.operators.Pipeline.benchmarkFragments(docs, "doc_id", "text", 97, 3, 2),
        "doc_id", "text", 2))

    section("Stratified sample (broadcast rate table, narrow filter)",
      """The per-stratum rate table is a BroadcastHashJoin build side; the
        |keep predicate is pure hash arithmetic in whole-stage codegen — no
        |shuffle, no rand(), reproducible at any cluster size.""".stripMargin,
      graft.operators.Pipeline.stratifiedSample(docs, "doc_id", "lang",
        Map("l0" -> 0.5, "l1" -> 0.25), 0.1))

    section("LTR rescore (broadcast top-N window ⋈ feature source)",
      """First pass bounds to TakeOrderedAndProject; the N-row window then
        |broadcasts into the feature-source join, so the big table is
        |probed, never shuffled; the linear model is codegen arithmetic.""".stripMargin,
      graft.operators.Ltr.rescore(
        docs.select($"doc_id", ($"doc_id" % 13).cast("double").as("score")),
        "doc_id", "score", docs.withColumn("n_chars", length($"text")),
        Seq(("loglen", log(lit(1.0) + $"n_chars"))),
        graft.operators.Ltr.LinearModel(Seq(("first_pass", 1.0), ("loglen", 0.3))), 40))

    section("Duplicated-span detection (exact-substring dedup signal)",
      """Three narrow exchanges: shingle docfreq (map-side combined),
        |occurrence⋈frequency join on the shingle, per-doc rollup —
        |document text stays out of every exchange.""".stripMargin,
      graft.operators.Pipeline.duplicatedSpans(docs, "doc_id", "text", 3))

    section("Composed training-prep pipeline (clean -> decontaminate -> sample; packing follows as the prefix-sum kernel)",
      """The tp_full_prep chain up to its survivors as ONE declarative
        |plan: langid + quality filters BEFORE the dedup window,
        |contamination removal as a broadcast-fed anti-join, sampling as a
        |narrow hash predicate. The final packing stage is the two-phase
        |prefix-sum kernel (an RDD boundary by design), so its upstream is
        |what matters for the plan audit.""".stripMargin, {
        val cleaned = TextOps.cleanCorpus(docs, "doc_id", "text",
          Seq("en" -> Seq("the", "and", "of", "is")), Seq("en"),
          Seq("the", "a"), 5, 0.9)
        val frags = graft.operators.Pipeline.benchmarkFragments(docs, "doc_id", "text", 97, 3, 2)
        val cont = graft.operators.Pipeline.decontaminate(
          docs.filter($"doc_id" % 97 =!= 3), frags, "doc_id", "text", 2).select("doc_id")
        cleaned.filter($"doc_id" % 97 =!= 3)
          .join(cont, Seq("doc_id"), "left_anti")
          .filter(graft.operators.Pipeline.sampleBucket($"doc_id") <
            0.5 * graft.operators.Pipeline.SampleModulus)
      })

    section("Reverse search (monitor/percolator, broadcast anchor index)",
      """ZERO exchanges: the query registry rides a broadcast variable, the
        |anchor lookup + candidate verification is one narrow
        |SerializeFromObject/MapPartitions over the document scan — monitor
        |throughput is linear in executors at any corpus size.""".stripMargin,
      graft.operators.Monitor.matches(docs, Seq(
        graft.operators.Monitor.TermQ("t", "public"),
        graft.operators.Monitor.AndQ("a", Seq("public", "static")),
        graft.operators.Monitor.PhraseQ("p", Seq("public", "static")))))

    section("Naive Bayes classification (model = aggregate, scoring = join)",
      """Class stats and global constants ride BroadcastExchange; the
        |(class, token) model joins the test docs' term frequencies on its
        |keys (partial+final aggs); the per-doc argmax is a bounded window
        |over #classes rows per doc.""".stripMargin,
      graft.operators.Classify.naiveBayes(
        docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1),
        classCol = "lang"))

    section("kNN classification (shared-token candidate join, df-capped)",
      """The df cap filters stop-word tokens BEFORE the candidate join
        |(the skew control); stats broadcast; neighbor top-k and the vote
        |are bounded windows keyed by test doc.""".stripMargin,
      graft.operators.Classify.knn(
        docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1),
        k = 3, classCol = "lang"))

    val out = java.nio.file.Paths.get("PLANS.md")
    java.nio.file.Files.writeString(out, merge(sb.toString, java.nio.file.Files.readString(out)))
    println(s"PLANS.md written (${sb.length} chars)")
    spark.stop()
  }
}

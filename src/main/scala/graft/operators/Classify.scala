package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Index-backed text classification — the reference's classification module
 * re-expressed as declarative DataFrame plans over token statistics (the
 * reference classifies by issuing term queries against an IndexReader; here
 * the same statistics are aggregates over the corpus table).
 *
 * - [[naiveBayes]]: `SimpleNaiveBayesClassifier.java:140-270` — add-one-
 *   smoothed per-class word likelihoods from within-class document
 *   frequencies, prior = ln(docCount(c)/N).
 * - [[knn]]: `KNearestNeighborClassifier.java` — nearest labeled neighbors
 *   by shared-term BM25 weight, majority vote over the top k.
 *
 * Both train and classify in ONE Catalyst plan: the model is a (class, token)
 * aggregate joined back to the unlabeled docs' tokens — partial+final aggs,
 * broadcast class stats, no driver-side iteration, so the same plan runs at
 * any corpus size.
 */
object Classify {

  /**
   * Naive Bayes prediction for every unlabeled doc. Reference arithmetic
   * (`SimpleNaiveBayesClassifier.java:203-268`):
   *
   *   prior(c)      = ln(docCount(c)) − ln(N)
   *   P(w|c)        = (dfc(w,c) + 1) / (avgUniqueTerms · docCount(c) + N)
   *   llh(d,c)      = Σ_{w occurrences in d} ln P(w|c)     // tf-weighted
   *   predict(d)    = argmax_c prior(c) + llh(d,c)
   *
   * where dfc = docs of class c containing w (`getWordFreqForClass`, a
   * doc-count not a term-frequency) and avgUniqueTerms = distinct (doc,term)
   * pairs / N over the labeled set (`getTextTermFreqForClass`). Unseen words
   * contribute the smoothing floor ln(1/den) — handled by the left join.
   *
   * The argmax rounds log-likelihoods to 6 decimals first: summation order
   * differs between engines (and between cluster sizes), and the tie-break
   * must stay deterministic — ties then resolve to the lexicographically
   * LARGEST class.
   *
   * @return (idCol, predicted) — one row per unlabeled doc with ≥1 token.
   */
  def naiveBayes(labeled: DataFrame, unlabeled: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", classCol: String = "source"): DataFrame = {
    // distinct (doc, token) pairs of the labeled set, with their class
    val docTerms = TextOps.termFreqs(labeled, idCol, textCol)
      .join(labeled.select(col(idCol).cast("long").as(idCol), col(classCol).as("cls")), idCol)
    // per-class stats: docCount(c); global: N, avg distinct terms per doc
    val classStats = labeled.groupBy(col(classCol).as("cls"))
      .agg(count("*").as("class_docs"))
    val global = labeled.agg(count("*").as("n"))
      .crossJoin(docTerms.agg(count("*").as("pairs"))) // termFreqs is distinct per (doc,tok)
      .withColumn("avg_unique", col("pairs") / col("n"))
    // model: within-class doc frequency of each token
    val classDf = docTerms.groupBy("cls", "tok").agg(count("*").as("dfc"))

    // unlabeled token occurrences (tf-weighted) crossed with every class
    val testTf = TextOps.termFreqs(unlabeled, idCol, textCol)
    val scored = testTf
      .crossJoin(broadcast(classStats))
      .join(classDf, Seq("cls", "tok"), "left")
      .crossJoin(broadcast(global))
      .withColumn("den", col("avg_unique") * col("class_docs") + col("n"))
      .withColumn("lp", col("tf") * log((coalesce(col("dfc"), lit(0L)) + lit(1.0)) / col("den")))
      .groupBy(col(idCol), col("cls"))
      .agg(sum("lp").as("llh"), first("class_docs").as("class_docs"), first("n").as("n"))
      .withColumn("score", round(col("llh") + log(col("class_docs") / col("n")), 6))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("cls").desc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("cls").as("predicted"))
  }

  /**
   * BM25-weighted Naive Bayes (`BM25NBClassifier.java:205-268`): the term
   * "probability" for (word, class) is the TOP-1 score of a BooleanQuery
   * (class term MUST + word SHOULD) under BM25Similarity — i.e. the class
   * term's own BM25 score plus the best BM25 score of the word over the
   * class's docs (just the class-term score when the class never contains
   * the word, since MUST alone still matches). The class field holds one
   * token per doc, so its BM25 score is the per-class constant
   * idf(docCount(c)) / (1 + k1):  tf = 1, dl = avgdl = 1 collapses the
   * norm factor. Log-likelihood sums over token OCCURRENCES of the input
   * (tf-weighted), prior = ln of the class-term score.
   *
   * Same determinism contract as [[naiveBayes]]: scores rounded to 6
   * decimals before the argmax, ties to the lexicographically largest
   * class. One Catalyst plan: per-(class, word) max is a partial+final
   * aggregate, class constants broadcast.
   */
  def bm25nb(labeled: DataFrame, unlabeled: DataFrame, idCol: String = "doc_id",
             textCol: String = "text", classCol: String = "source"): DataFrame = {
    val tr = TextOps.termRows(labeled, idCol, textCol, lit(true))
    val cls = labeled.select(col(idCol).cast("long").as(idCol), col(classCol).as("cls"))
    // class-term constant: idf over the class "field" (one token per doc)
    val classConst = cls.groupBy("cls").agg(count("*").as("class_docs"))
      .crossJoin(broadcast(tr.stats.select("n")))
      .withColumn("sc", TextOps.bm25Idf(col("n"), col("class_docs")) / (lit(1.0) + TextOps.K1))
      .select("cls", "sc")
    // per (class, word): best BM25 score of the word across the class docs
    val wordBest = tr.vocabulary.join(cls, idCol)
      .groupBy("cls", "tok").agg(max(TextOps.Bm25.score(col("dl"))).as("sw"))

    val testTf = TextOps.termFreqs(unlabeled, idCol, textCol)
    val scored = testTf
      .crossJoin(broadcast(classConst))
      .join(wordBest, Seq("cls", "tok"), "left")
      .withColumn("lp", col("tf") * log(col("sc") + coalesce(col("sw"), lit(0.0))))
      .groupBy(col(idCol), col("cls"))
      .agg(sum("lp").as("llh"), first("sc").as("sc"))
      .withColumn("score", round(col("llh") + log(col("sc")), 6))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("cls").desc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("cls").as("predicted"))
  }

  /**
   * k-nearest-neighbor classification: each unlabeled doc's distinct tokens
   * form an OR query over the labeled corpus, neighbors are ranked by the
   * summed BM25 term weight (`KNearestNeighborClassifier.java` runs the
   * equivalent MLT query), and the top-k vote — majority count first, summed
   * score as the tie-break, then class name (reference
   * `classifyFromTopDocs`: max count, then max score).
   *
   * `maxDfRatio` drops query tokens present in more than that fraction of
   * labeled docs BEFORE the candidate join — the skew control that keeps the
   * token join bounded at corpus scale (stop-word tokens would otherwise
   * pair every test doc with every labeled doc; MLT's minDocFreq/maxQueryTerms
   * serve the same purpose in the reference).
   */
  def knn(labeled: DataFrame, unlabeled: DataFrame, k: Int, idCol: String = "doc_id",
          textCol: String = "text", classCol: String = "source",
          maxDfRatio: Double = 0.5): DataFrame = {
    // BM25 weight of every labeled (doc, token), stop-word tokens dropped
    val weights = TextOps.termRows(labeled, idCol, textCol, lit(true)).vocabulary
      .filter(col("df") <= col("n") * maxDfRatio) // stop-word guard
      .select(col(idCol).as("train_id"), col("tok"), TextOps.Bm25.score(col("dl")).as("s"))
    // query terms: DISTINCT tokens of each test doc (the MLT term set)
    val scoredPairs = TextOps.termFreqs(unlabeled, idCol, textCol)
      .select(col(idCol).as("test_id"), col("tok"))
      .join(weights, "tok")
      .groupBy("test_id", "train_id").agg(round(sum("s"), 6).as("sim"))
    val topK = scoredPairs
      .withColumn("rn", row_number().over(
        Window.partitionBy("test_id").orderBy(col("sim").desc, col("train_id"))))
      .filter(col("rn") <= k)
    // labels join on train_id: topK is k rows per test doc (small side at any
    // scale relative to the labeled corpus) — leave the strategy to Catalyst
    topK
      .join(labeled.select(col(idCol).cast("long").as("train_id"),
        col(classCol).as("cls")), "train_id")
      .groupBy("test_id", "cls")
      .agg(count("*").as("votes"), round(sum("sim"), 6).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("test_id").orderBy(col("votes").desc, col("score").desc, col("cls").desc)))
      .filter(col("rn") === 1)
      .select(col("test_id").as(idCol), col("cls").as("predicted"))
  }

  /** Information-gain feature selection (reference solr/core
    * search/IGainTermsQParserPlugin.java:156-205 + solrj io/stream
    * FeaturesSelectionStream.java:355-374 — the `features()` streaming
    * expression): per term, the reduction in outcome entropy from
    * splitting the corpus on term presence,
    *
    *   score = H(p⁺) − (df/n)·H(x⁺/df) − (1 − df/n)·H((n⁺−x⁺)/(n−df+1))
    *
    * (the reference's +1 denominator quirk included; H(0)=H(1)=0), ranked
    * score DESC (ties: term ASC), each with idf = ln(n/(df+1)) — the
    * feature weights [[trainLogistic]] consumes. One distinct-token pass,
    * one per-term aggregation; collection stats broadcast.
    */
  def featuresIGain(docs: DataFrame, idCol: String, textCol: String,
                    outcomeCol: String, positiveLabel: Int,
                    numTerms: Int): DataFrame = {
    def h(p: org.apache.spark.sql.Column) =
      when(p <= 0.0d || p >= 1.0d, 0.0d)
        .otherwise(-p * log(p) - (lit(1.0d) - p) * log(lit(1.0d) - p))
    val outcome = (col(outcomeCol) === positiveLabel).cast("int")
    val labeled = docs.select(col(idCol), col(textCol), outcome.as("__y"))
    val totals = labeled.agg(count(lit(1)).cast("double").as("__n"),
      sum("__y").cast("double").as("__npos"))
    val perDocTerms = labeled
      .select(col(idCol), col("__y"), explode(TextOps.tokensOf(textCol)).as("term"))
      .distinct()
    perDocTerms.groupBy("term")
      .agg(count(lit(1)).cast("double").as("docFreq"),
        sum("__y").cast("double").as("__xc"))
      .crossJoin(broadcast(totals))
      .withColumn("score",
        h(col("__npos") / col("__n")) -
          ((col("docFreq") / col("__n")) * h(col("__xc") / col("docFreq")) +
            (lit(1.0d) - col("docFreq") / col("__n")) *
              h((col("__npos") - col("__xc")) / (col("__n") - col("docFreq") + 1.0d))))
      .withColumn("idf", log(col("__n") / (col("docFreq") + 1.0d)))
      .orderBy(col("score").desc, col("term").asc)
      .limit(numTerms)
      .select(col("term"), col("score"), col("docFreq").cast("long").as("docFreq"),
        col("idf"))
  }

  /** One training iteration's state. */
  final case class LogitModel(terms: Seq[String], idfs: Seq[Double],
                              weights: Seq[Double], error: Double)

  /** Text logistic regression (reference solr/core
    * search/TextLogisticRegressionQParserPlugin.java:125-240 + solrj
    * io/stream TextLogitStream.java:426-487 — the `train()` streaming
    * expression). Feature vector per doc: x₀ = 1 (bias), xⱼ =
    * idfⱼ·(1 + ln tfⱼ); initial weights all 1.0; sigmoid error.
    *
    * Distribution substitution (documented deviation): the reference runs
    * per-doc SGD inside each shard and AVERAGES shard weights per
    * iteration — a result that depends on doc order within shards, which
    * no deterministic distributed plan can reproduce. Here each iteration
    * is full-batch gradient descent (w -= α·Σ_docs (σ(x·w) − y)·x / n),
    * the order-free limit of that averaging: deterministic on any cluster
    * size. Per iteration: ONE narrow pass over the cached vectors + a
    * (numTerms+1)-row gradient aggregate; doc text never re-tokenized.
    * Error reported like the reference: Σ|σ(x·w_pre) − y| over docs.
    */
  def trainLogistic(docs: DataFrame, idCol: String, textCol: String,
                    outcomeCol: String, positiveLabel: Int,
                    features: Seq[(String, Double)],
                    iterations: Int = 10, alpha: Double = 0.01): Seq[LogitModel] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = features.map(_._1)
    val idfs = features.map(_._2)
    val termIdf = terms.zip(idfs).toMap
    val outcome = (col(outcomeCol) === positiveLabel).cast("double")
    val bTerms = spark.sparkContext.broadcast(termIdf)
    // one narrow pass builds (y, x) vectors; cached across iterations
    val vecs = docs.select(col(idCol), col(textCol), outcome.as("__y"))
      .select(col("__y"), TextOps.tokensOf(textCol).as("__toks"))
      .as[(Double, Seq[String])]
      .map { case (y, toks) =>
        val ti = bTerms.value
        val tf = scala.collection.mutable.HashMap.empty[String, Int]
        toks.foreach(t => if (ti.contains(t)) tf.update(t, tf.getOrElse(t, 0) + 1))
        val x = new Array[Double](terms.length + 1)
        x(0) = 1.0
        var j = 0
        while (j < terms.length) {
          val f = tf.getOrElse(terms(j), 0)
          if (f > 0) x(j + 1) = termIdf(terms(j)) * (1.0 + math.log(f.toDouble))
          j += 1
        }
        (y, x)
      }.toDF("y", "x")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = vecs.count().toDouble
      var w = Array.fill(terms.length + 1)(1.0)
      val out = scala.collection.mutable.ArrayBuffer.empty[LogitModel]
      (1 to iterations).foreach { _ =>
        val wLit = array(w.map(lit): _*)
        val dot = aggregate(zip_with(col("x"), wLit, (a, b) => a * b),
          lit(0.0d), (acc, v) => acc + v)
        val sig = lit(1.0d) / (lit(1.0d) + exp(-dot))
        val err = sig - col("y")
        // gradient: one (numTerms+1)-row aggregate; |err| folded alongside
        val grad = vecs
          .select(err.as("__e"), posexplode(col("x")).as(Seq("__j", "__v")))
          .groupBy("__j")
          .agg(sum(col("__e") * col("__v")).as("__g"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        val totalError = vecs.select(sum(abs(err))).head().getDouble(0)
        w = w.indices.map(j => w(j) - alpha * grad.getOrElse(j, 0.0) / n).toArray
        out += LogitModel(terms, idfs, w.toSeq, totalError)
      }
      out.toSeq
    } finally vecs.unpersist()
  }

  /** Score docs with a trained [[LogitModel]]: (idCol, prob, predicted). */
  def logitPredict(docs: DataFrame, idCol: String, textCol: String,
                   model: LogitModel, threshold: Double = 0.5): DataFrame = {
    val toks = TextOps.tokensOf(textCol)
    val x: Seq[org.apache.spark.sql.Column] =
      model.terms.zip(model.idfs).map { case (t, idf) =>
        val tf = size(filter(toks, e => e === t))
        when(tf > 0, lit(idf) * (lit(1.0d) + log(tf.cast("double")))).otherwise(0.0d)
      }
    val dot = (Seq(lit(model.weights.head)) ++
      x.zip(model.weights.tail).map { case (c, wj) => c * wj }).reduce(_ + _)
    val prob = lit(1.0d) / (lit(1.0d) + exp(-dot))
    docs.select(col(idCol), prob.as("prob"),
      (prob >= threshold).cast("int").as("predicted"))
  }
}

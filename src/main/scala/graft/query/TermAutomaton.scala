package graft.query

import graft.index.IndexStore.OpenIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * TermAutomatonQuery — the reference sandbox graph-phrase query
 * (lucene/sandbox/src/java/org/apache/lucene/search/TermAutomatonQuery.java:
 * 60-180 and TermAutomatonScorer.java:225-345): a token-level automaton
 * whose transitions are labeled with terms (plus an ANY wildcard symbol),
 * intersected against each document's position graph. `freq` counts accept
 * events over "threads": at every occurrence of a query term, live states
 * at that position step on the term (and a fresh thread starts from the
 * initial state); ANY transitions advance threads across gap positions.
 * The per-doc score is the similarity on (freq, norm) with the summed idf
 * of the automaton's member terms — exactly the reference's
 * TermAutomatonWeight stats.
 *
 * Build with the same API as the reference ([[Builder.createState]] /
 * [[Builder.setAccept]] / [[Builder.addTransition]] /
 * [[Builder.addAnyTransition]], then [[Builder.finish]] which expands ANY
 * arcs over the full term alphabet, determinizes by subset construction,
 * and applies the reference's validity checks: no leading/trailing ANY, no
 * empty-string acceptance).
 *
 * Spark-first shape: only the automaton's member-term postings are read
 * (pushed term filter on the positions tier), grouped once per doc; the
 * automaton intersection is a per-doc kernel inside one narrow flatMap —
 * the same shape as the sloppy-phrase and interval kernels.
 */
object TermAutomaton {

  /** Determinized automaton over term ids 0..terms.size-1 (the ANY symbol,
    * if used, is id terms.size; after expansion every arc is per-symbol).
    * `step(state)(symbol)` = next state or -1. State 0 is initial. */
  final case class Compiled(terms: IndexedSeq[String],
                            step: Array[Array[Int]],
                            accept: Array[Boolean],
                            hasAny: Boolean)

  final class Builder {
    private var numStates = 0
    private val acceptStates = scala.collection.mutable.Set[Int]()
    private val termIds = scala.collection.mutable.LinkedHashMap[String, Int]()
    // (from, to, symbol) with symbol = -1 for ANY
    private val arcs = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()

    def createState(): Int = { numStates += 1; numStates - 1 }

    def setAccept(state: Int, accept: Boolean): Unit =
      if (accept) acceptStates += state else acceptStates -= state

    def addTransition(from: Int, to: Int, term: String): Unit =
      arcs += ((from, to, termIds.getOrElseUpdate(term, termIds.size)))

    def addAnyTransition(from: Int, to: Int): Unit = arcs += ((from, to, -1))

    /** Expand ANY, validate, determinize (subset construction). */
    def finish(): Compiled = {
      require(numStates > 0, "automaton has no states")
      val hasAny = arcs.exists(_._3 == -1)
      if (hasAny) {
        // reference finish(): ANY may not leave the initial state nor
        // enter an accept state
        require(!arcs.exists(a => a._3 == -1 && a._1 == 0),
          "automaton cannot lead with an ANY transition")
        require(!arcs.exists(a => a._3 == -1 && acceptStates(a._2)),
          "automaton cannot end with an ANY transition")
      }
      val nSym = termIds.size + (if (hasAny) 1 else 0)
      // NFA table after ANY expansion: ANY arcs match EVERY symbol
      // (reference translates [any] to [0, termCount-1])
      val nfa = Array.fill(numStates, nSym)(List.empty[Int])
      arcs.foreach { case (f, t, sym) =>
        if (sym == -1) (0 until nSym).foreach(s => nfa(f)(s) ::= t)
        else nfa(f)(sym) ::= t
      }
      // subset construction from {0}
      val dfaStates = scala.collection.mutable.ArrayBuffer[Set[Int]](Set(0))
      val index = scala.collection.mutable.Map(Set(0) -> 0)
      val table = scala.collection.mutable.ArrayBuffer[Array[Int]]()
      var i = 0
      while (i < dfaStates.length) {
        val row = new Array[Int](nSym)
        (0 until nSym).foreach { s =>
          val next = dfaStates(i).flatMap(st => nfa(st)(s))
          row(s) =
            if (next.isEmpty) -1
            else index.getOrElseUpdate(next, { dfaStates += next; dfaStates.length - 1 })
        }
        table += row
        i += 1
      }
      val acc = dfaStates.map(_.exists(acceptStates)).toArray
      require(!acc(0), "cannot accept the empty string")
      Compiled(termIds.keys.toIndexedSeq, table.toArray, acc, hasAny)
    }
  }

  /** The reference countMatches kernel: tokens = (position, termId) of the
    * automaton's member terms in this doc, ascending position. */
  def countMatches(tokens: Seq[(Int, Int)], q: Compiled): Int = {
    val anyId = q.terms.size // symbol id of ANY after expansion
    val states = scala.collection.mutable.Map[Int, List[Int]]().withDefaultValue(Nil)
    var freq = 0
    var lastPos = -1
    tokens.foreach { case (pos, tid) =>
      if (lastPos != -1 && q.hasAny) {
        // advance threads across the gap via ANY steps; peter out on an
        // empty position after the first step (reference lines 264-291)
        val start = lastPos
        var lp = lastPos
        var go = true
        while (go && lp < pos) {
          val ps = states(lp)
          if (ps.isEmpty && lp > start) go = false
          else {
            ps.foreach { st =>
              val s2 = q.step(st)(anyId)
              if (s2 != -1) states(lp + 1) ::= s2
            }
            lp += 1
          }
        }
      }
      states(pos).foreach { st =>
        val s2 = q.step(st)(tid)
        if (s2 != -1) {
          states(pos + 1) ::= s2
          if (q.accept(s2)) freq += 1
        }
      }
      val s0 = q.step(0)(tid)
      if (s0 != -1) {
        states(pos + 1) ::= s0
        if (q.accept(s0)) freq += 1
      }
      lastPos = pos
    }
    freq
  }

  /** All matching docs: (docId LONG, freq INT, score FLOAT). Requires a
    * positions-tier index. */
  def matches(idx: OpenIndex, q: Compiled): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val dfs = QueryEngine.lookupDfs(idx.termstats, q.terms, Some(idx.dfCache))
    val present = q.terms.zipWithIndex.filter { case (t, _) => dfs.contains(t) }
    if (present.isEmpty)
      return spark.range(0).select($"id".as("docId"),
        lit(0).as("freq"), lit(0f).as("score"))
    // summed idf over existing member terms, in term-id order (the
    // reference's allTermStats accumulation)
    var w = 0.0
    present.foreach { case (t, _) => w += BM25.idf(dfs(t), idx.stats.docCount).toDouble }
    val scorer = BM25.TermScorer(w.toFloat,
      BM25.normCache(BM25.DefaultK1, BM25.DefaultB,
        BM25.avgFieldLength(idx.stats.sumTotalTermFreq, idx.stats.docCount)))
    val parts = present.map { case (t, tid) =>
      idx.positions.filter(col("term") === t)
        .select(col("docId"), lit(tid).as("tid"), col("poss"))
    }.reduce(_.unionByName(_))
    val qb = q
    parts.groupBy("docId")
      .agg(collect_list(struct(col("tid"), col("poss"))).as("parts"))
      .as[(Long, Seq[(Int, Seq[Int])])]
      .flatMap { case (docId, ps) =>
        val tokens = ps.flatMap { case (tid, poss) => poss.map(p => (p, tid)) }
          .sortBy(t => (t._1, t._2))
        val f = countMatches(tokens, qb)
        if (f > 0) Iterator.single((docId, f)) else Iterator.empty
      }
      .toDF("docId", "freq")
      .join(idx.docstats.select(col("docId"), col("normByte")), "docId")
      .select(col("docId"), col("freq"),
        graft.functions.Bm25Score(col("freq"), col("normByte").cast("byte"),
          scorer.weight, scorer.cache).as("score"))
  }

  /** Parse-and-rank convenience: top-k by (score DESC, docId ASC). */
  def topK(idx: OpenIndex, q: Compiled, k: Int): DataFrame = {
    idx.run(QueryEngine.Request(QueryEngine.Scored(matches(idx, q)), k))
  }
}

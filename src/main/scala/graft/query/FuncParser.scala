package graft.query

import graft.functions.{JvmDiv, StrDist}
import graft.index.IndexStore.OpenIndex
import graft.operators.{DateMath, Geo}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The Solr named function-query surface (`{!func}`, `fl=f(...)`,
 * `sort=f(...) desc`, bf/boost arguments) — reference
 * solr/core/src/java/org/apache/solr/search/{FunctionQParser,
 * ValueSourceParser}.java (the ~80-entry `addParser` registry) compiled to
 * Catalyst Columns instead of per-doc FunctionValues.
 *
 * Architecture: `compile` parses the Solr function syntax into an AST and
 * lowers every node to a codegen'd Spark expression over the doc table.
 * Scalar functions (`recip`, `map`, `strdist`, `geodist`, ...) become pure
 * Column expressions — whole-stage codegen, no UDFs. Functions whose
 * reference implementation reads per-index state become *augmentations*:
 * the compiler left-joins the needed frame once and returns the joined
 * column —
 *
 *  - `scale(x,min,max)` (ScaleFloatFunction.java:58-118): global min/max
 *    of the source — a 1-row aggregate broadcast-cross-joined (the
 *    reference computes the same bounds in createScaleInfo by scanning
 *    all readers; here it is one partial-aggregated pass, no single-point
 *    shuffle).
 *  - `ord`/`rord` (solr/.../function/{OrdFieldSource:104-141,
 *    ReverseOrdFieldSource:104-115}.java): global value ordinals — the
 *    sorted distinct dictionary ranked and joined back (the dictionary is
 *    the same bounded vocabulary Lucene's global ords hold; on a cluster
 *    it broadcasts when small and shuffle-joins when not).
 *  - `termfreq`/`tf` (TermFreqValueSource, TFValueSource): the term's
 *    postings decoded from the index and joined by docId; absent rows
 *    read 0 like a doc that lacks the term.
 *  - `query(subq[,def])` (QueryValueSource): the sub-query's scores
 *    joined by docId with the default for non-matches.
 *
 * Index-global constants (`docfreq`, `idf`, `ttf`, `sttf`, `maxdoc`,
 * `numdocs` — reference {DocFreqValueSource,IDFValueSource,
 * TotalTermFreqValueSource,SumTotalTermFreqValueSource,MaxDocValueSource,
 * NumDocsValueSource}.java) fold to literals from the index's committed
 * stats — the same values the reference reads from IndexReader, resolved
 * once at plan time instead of per-doc.
 *
 * Out of scope by design: `currency` (needs an exchange-rate provider
 * config), `joindf` (cross-core join state), `childfield` (covered by the
 * block-join operators in Relational), `agg_*` (the facet aggregation
 * registry — SURVEY §2.5 paths), and the RNG `testfunc`/`threadid`/
 * `sleep` debug hooks (non-deterministic; violate replayability).
 */
object FuncParser {

  // ------------------------------------------------------------------ AST
  sealed trait Node
  final case class NumN(v: Double) extends Node
  final case class StrN(v: String) extends Node
  /** Bare word: a field reference, or a special token (NOW..., pi, e,
    * true, false, strdist method names) resolved by context. */
  final case class WordN(name: String) extends Node
  final case class CallN(name: String, args: List[Node]) extends Node

  private val NumRe = """[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?""".r

  /** Parse one function-query expression. `$ref` arguments dereference
    * into `request` and are re-parsed (FunctionQParser.parseValueSource's
    * param substitution). */
  def parse(src: String, request: Map[String, String] = Map.empty): Node = {
    val (node, rest) = parseNode(src.trim, request)
    require(rest.trim.isEmpty, s"trailing input after function: '${rest.trim}' in '$src'")
    node
  }

  private def parseNode(s0: String, request: Map[String, String]): (Node, String) = {
    val s = s0.dropWhile(_.isWhitespace)
    require(s.nonEmpty, "empty function expression")
    s.head match {
      case '\'' | '"' =>
        val q = s.head
        val end = s.indexOf(q, 1)
        require(end > 0, s"unterminated string in function: $s")
        (StrN(s.substring(1, end)), s.substring(end + 1))
      case '$' =>
        val word = s.drop(1).takeWhile(c => !",() \t".contains(c))
        val sub = request.getOrElse(word,
          throw new IllegalArgumentException(s"no request param '$word'"))
        // a param that parses as a function substitutes structurally
        // (FunctionQParser's parseValueSource recursion); one that does
        // not (e.g. a full query string for query($q)) passes through as
        // a string literal for the consuming function to interpret
        val node =
          try {
            val (n, rest) = parseNode(sub, request)
            if (rest.trim.isEmpty) n else StrN(sub)
          } catch { case _: IllegalArgumentException => StrN(sub) }
        (node, s.drop(1 + word.length))
      case _ =>
        val word = s.takeWhile(c => !",()".contains(c) && !c.isWhitespace)
        require(word.nonEmpty, s"unexpected '${s.head}' in function expression")
        val rest = s.drop(word.length)
        if (rest.startsWith("(")) {
          var r = rest.drop(1).dropWhile(_.isWhitespace)
          val args = List.newBuilder[Node]
          if (r.startsWith(")")) r = r.drop(1)
          else {
            var done = false
            while (!done) {
              val (a, r2) = parseNode(r, request)
              args += a
              val r3 = r2.dropWhile(_.isWhitespace)
              require(r3.nonEmpty, s"unterminated argument list in '$s0'")
              if (r3.head == ')') { r = r3.drop(1); done = true }
              else if (r3.head == ',') r = r3.drop(1)
              else throw new IllegalArgumentException(
                s"expected ',' or ')' at '${r3.take(10)}' in '$s0'")
            }
          }
          (CallN(word, args.result()), r)
        } else if (NumRe.pattern.matcher(word).matches())
          (NumN(word.toDouble), rest)
        else (WordN(word), rest)
    }
  }

  // ------------------------------------------------------------- compiler

  /** Compilation context. `now` anchors NOW-relative date math (callers
    * pass a literal timestamp for deterministic plans); `index` powers the
    * index-stat functions; `scorer` powers `query(...)` (given the inner
    * query string, return a (idCol, score) frame). */
  final case class Env(
      request: Map[String, String] = Map.empty,
      now: Column = current_timestamp(),
      idCol: String = "doc_id",
      index: Option[OpenIndex] = None,
      scorer: Option[String => DataFrame] = None,
      payloads: Option[DataFrame] = None)

  /** A compiled function: the (possibly join-augmented) frame plus the
    * value column. Downstream code selects/sorts/filters on `value`
    * against `df`. */
  final case class Compiled(df: DataFrame, value: Column)

  def compile(df: DataFrame, src: String, env: Env = Env()): Compiled = {
    val c = new Comp(df, env)
    val v = c.lower(parse(src, env.request))
    Compiled(c.df, v)
  }

  /** Top-k docs by function value — the `{!func}` query parser's ranking
    * semantics (FunctionQParser: every doc matches, score = the value). */
  def topK(df: DataFrame, src: String, k: Int, env: Env = Env()): DataFrame = {
    val Compiled(aug, v) = compile(df, src, env)
    aug.select(col(env.idCol), v.cast("double").as("score"))
      .orderBy(desc("score"), asc(env.idCol)).limit(k)
  }

  /** `{!frange l=.. u=.. incl=.. incu=..}func` — FunctionRangeQuery
    * (solr/.../FunctionRangeQParserPlugin.java): keep docs whose value
    * lies in the range. */
  def frange(df: DataFrame, src: String, l: Option[Double], u: Option[Double],
             incl: Boolean = true, incu: Boolean = true, env: Env = Env()): DataFrame = {
    val Compiled(aug, v) = compile(df, src, env)
    val lo = l.map(b => if (incl) v >= b else v > b).getOrElse(lit(true))
    val hi = u.map(b => if (incu) v <= b else v < b).getOrElse(lit(true))
    aug.filter(lo && hi)
  }

  /** Local-params dispatch for the two function-query parsers —
    * `{!func}f(...)` ranks every doc by the value (FunctionQParserPlugin),
    * `{!frange l=.. u=.. incl= incu=}f(...)` filters on it
    * (FunctionRangeQParserPlugin). These route here rather than through
    * [[LocalParams.search]] because they evaluate against the DOC TABLE
    * (the source-of-truth doc store), not a posting-list index. */
  def localParamsSearch(docs: DataFrame, q: String, k: Int,
                        request: Map[String, String] = Map.empty,
                        env: Env = Env()): DataFrame = {
    val p = LocalParams.parse(q, request).getOrElse(
      throw new IllegalArgumentException(s"expected {!func} or {!frange}: $q"))
    val envR = env.copy(request = env.request ++ p.params ++ request)
    p.qtype match {
      case "func" => topK(docs, p.body, k, envR)
      case "frange" =>
        frange(docs, p.body,
          p.params.get("l").map(_.toDouble), p.params.get("u").map(_.toDouble),
          incl = p.params.get("incl").forall(_.toBoolean),
          incu = p.params.get("incu").forall(_.toBoolean), envR)
          .select(col(env.idCol)).orderBy(col(env.idCol)).limit(k)
      case other => throw new IllegalArgumentException(
        s"localParamsSearch handles func/frange, got {!$other}")
    }
  }

  /** Generated-column counter — JVM-global so repeated compile() calls
    * over an already-augmented frame can never collide on join-column
    * names. */
  private val freshCounter = new java.util.concurrent.atomic.AtomicLong()

  private final class Comp(var df: DataFrame, env: Env) {
    private def fresh(p: String): String =
      s"__fq_${p}_${freshCounter.incrementAndGet()}" 

    private def idx: OpenIndex = env.index.getOrElse(
      throw new IllegalArgumentException("this function needs an index context"))

    private def d(node: Node): Column = lower(node).cast("double")
    private def b(node: Node): Column = lower(node).cast("boolean")
    private def str(node: Node): String = node match {
      case StrN(s) => s
      case WordN(s) => s
      case NumN(v) => if (v == v.floor && !v.isInfinite) v.toLong.toString else v.toString
      case other => throw new IllegalArgumentException(s"expected a literal, got $other")
    }
    private def num(node: Node): Double = node match {
      case NumN(v) => v
      case other => throw new IllegalArgumentException(s"expected a number, got $other")
    }

    /** Millisecond value of an `ms()` argument: a NOW-anchored date-math
      * string, an ISO instant literal, or a date field
      * (DateValueSourceParser.getDate: NOW-prefixed or digit-at-index-1
      * strings are constants, everything else is a field). */
    private def msArg(node: Node): Column = node match {
      case WordN(s) if s.startsWith("NOW") =>
        unix_millis(DateMath.parse(s, env.now))
      case WordN(s) if s.length > 1 && s.charAt(1).isDigit =>
        unix_millis(to_timestamp(lit(s.stripSuffix("Z"))))
      case StrN(s) if s.startsWith("NOW") || (s.length > 1 && s.charAt(1).isDigit) =>
        msArg(WordN(s))
      case other => unix_millis(lower(other).cast("timestamp"))
    }

    private def jdiv(a: Column, bb: Column): Column = {
      import org.apache.spark.sql.graftbridge.{columnOf, exprOf}
      // reference float division: x/0 = Infinity, not NULL/exception
      columnOf(JvmDiv(exprOf(a.cast("double")), exprOf(bb.cast("double"))))
    }

    def lower(node: Node): Column = node match {
      case NumN(v) => lit(v)
      case StrN(s) => lit(s)
      case WordN(w) => w match {
        case "pi" => lit(math.Pi)
        case "e" => lit(math.E)
        case "true" => lit(true)
        case "false" => lit(false)
        case name => col(name)
      }
      case CallN(name, args) => call(name, args)
    }

    private def call(name: String, args: List[Node]): Column = (name, args) match {
      // ---- arithmetic (SumFloatFunction, ProductFloatFunction, ...)
      case ("sum" | "add", as) => as.map(d).reduce(_ + _)
      case ("product" | "mul", as) => as.map(d).reduce(_ * _)
      case ("sub", List(a, bb)) => d(a) - d(bb)
      case ("div", List(a, bb)) => jdiv(d(a), d(bb))
      case ("mod", List(a, bb)) => d(a) % d(bb)
      case ("abs", List(a)) => abs(d(a))
      case ("rad", List(a)) => radians(d(a))
      case ("deg", List(a)) => degrees(d(a))
      case ("sqrt", List(a)) => sqrt(d(a))
      case ("cbrt", List(a)) => cbrt(d(a))
      case ("log", List(a)) => log10(d(a))   // Solr log is base 10; ln is natural
      case ("ln", List(a)) => log(d(a))
      case ("exp", List(a)) => exp(d(a))
      case ("sin", List(a)) => sin(d(a))
      case ("cos", List(a)) => cos(d(a))
      case ("tan", List(a)) => tan(d(a))
      case ("asin", List(a)) => asin(d(a))
      case ("acos", List(a)) => acos(d(a))
      case ("atan", List(a)) => atan(d(a))
      case ("sinh", List(a)) => sinh(d(a))
      case ("cosh", List(a)) => cosh(d(a))
      case ("tanh", List(a)) => tanh(d(a))
      case ("ceil", List(a)) => ceil(d(a)).cast("double")
      case ("floor", List(a)) => floor(d(a)).cast("double")
      case ("rint", List(a)) => bround(d(a), 0) // HALF_EVEN, like Math.rint
      case ("pow", List(a, bb)) => pow(d(a), d(bb))
      case ("hypot", List(a, bb)) => hypot(d(a), d(bb))
      case ("atan2", List(a, bb)) => atan2(d(a), d(bb))
      // Solr max/min are Math.max/Math.min (Double2Parser): NaN PROPAGATES.
      // Spark's greatest/least instead order NaN above everything, so a
      // NaN argument must short-circuit explicitly (caught by fuzz:
      // least(NaN, -12) would return -12, Math.min returns NaN)
      case ("max", as) if as.size >= 2 =>
        val cs = as.map(d)
        when(cs.map(_.isNaN).reduce(_ || _), lit(Double.NaN))
          .otherwise(greatest(cs: _*))
      case ("min", as) if as.size >= 2 =>
        val cs = as.map(d)
        when(cs.map(_.isNaN).reduce(_ || _), lit(Double.NaN))
          .otherwise(least(cs: _*))

      // ---- mapping (RangeMapFloatFunction.java:65-70, ScaleFloatFunction,
      //      ReciprocalFloatFunction.java:68, LinearFloatFunction)
      case ("map", src :: mn :: mx :: target :: rest) if rest.size <= 1 =>
        val x = d(src)
        val inRange = x >= num(mn) && x <= num(mx)
        rest match {
          case List(dv) => when(inRange, d(target)).otherwise(d(dv))
          case Nil => when(inRange, d(target)).otherwise(x)
        }
      case ("scale", List(src, mn, mx)) =>
        val x = d(src)
        val (minT, maxT) = (num(mn), num(mx))
        val sName = fresh("scale")
        val stats = df.agg(
          coalesce(min(x), lit(0.0)).as(s"${sName}_min"),
          coalesce(max(x), lit(0.0)).as(s"${sName}_max"))
        df = df.crossJoin(broadcast(stats))
        val (loS, hiS) = (col(s"${sName}_min"), col(s"${sName}_max"))
        val scaleF = when(hiS === loS, lit(0.0))
          .otherwise(lit(maxT - minT) / (hiS - loS))
        (x - loS) * scaleF + lit(minT)
      case ("recip", List(src, m, a, bb)) =>
        jdiv(lit(num(a)), lit(num(m)) * d(src) + lit(num(bb)))
      case ("linear", List(src, m, c)) => lit(num(m)) * d(src) + lit(num(c))

      // ---- dates (DateValueSourceParser: d/v/dd/dv/vd/vv)
      case ("ms", Nil) => unix_millis(env.now)
      case ("ms", List(a)) => msArg(a)
      case ("ms", List(a, bb)) => msArg(a) - msArg(bb)

      // ---- strings
      case ("concat", as) if as.nonEmpty => concat(as.map(lower): _*)
      case ("strdist", s1 :: s2 :: method :: rest) =>
        val (a, bb) = (lower(s1).cast("string"), lower(s2).cast("string"))
        str(method) match {
          case "edit" =>
            // LevenshteinDistance.java:106: 1 - dist / max(len)
            lit(1.0) - levenshtein(a, bb).cast("double") /
              greatest(length(a), length(bb)).cast("double")
          case "jw" => StrDist.jw(a, bb).cast("double")
          case "ngram" =>
            val ngramN = rest match {
              case List(nn) => num(nn).toInt
              case Nil => 2
              case _ => throw new IllegalArgumentException("strdist: too many args")
            }
            StrDist.ngramSim(a, bb, ngramN).cast("double")
          case other => throw new IllegalArgumentException(
            s"strdist: unknown method '$other' (jw|edit|ngram)")
        }

      // ---- geo (GeoDistValueSourceParser, HaversineFunction,
      //      SquaredEuclideanFunction, VectorDistanceFunction.java:149-180)
      case ("geodist", List(lat1, lon1, lat2, lon2)) =>
        Geo.haversineMeters(d(lat1), d(lon1), d(lat2), d(lon2)) / 1000.0 // km
      case ("hsin", radius :: convert :: List(x1, y1, x2, y2)) =>
        val toRad: Column => Column =
          if (str(convert).toBoolean) radians else identity
        val (la1, lo1, la2, lo2) = (toRad(d(x1)), toRad(d(y1)), toRad(d(x2)), toRad(d(y2)))
        val h = pow(sin((la2 - la1) / 2), 2) +
          cos(la1) * cos(la2) * pow(sin((lo2 - lo1) / 2), 2)
        lit(2 * num(radius)) * asin(sqrt(h))
      case ("sqedist", as) if as.size % 2 == 0 && as.nonEmpty =>
        val (v1, v2) = as.map(d).splitAt(as.size / 2)
        v1.zip(v2).map { case (a, bb) => (a - bb) * (a - bb) }.reduce(_ + _)
      case ("dist", power :: rest) if rest.size % 2 == 0 && rest.nonEmpty =>
        val p = num(power)
        val (v1, v2) = rest.map(d).splitAt(rest.size / 2)
        val pairs = v1.zip(v2)
        if (p == 0) pairs.map { case (a, bb) => when(a === bb, 0.0).otherwise(1.0) }.reduce(_ + _)
        else if (p == 1) pairs.map { case (a, bb) => abs(a - bb) }.reduce(_ + _)
        else if (p == 2) sqrt(pairs.map { case (a, bb) => (a - bb) * (a - bb) }.reduce(_ + _))
        else pow(pairs.map { case (a, bb) => pow(a - bb, p) }.reduce(_ + _), 1.0 / p)

      // ---- booleans / conditionals (SolrComparisonBoolFunction, IfFunction,
      //      DefFunction — if() takes the value when the test is true OR the
      //      def when the source doesn't exist)
      case ("exists", List(a)) => lower(a).isNotNull
      case ("not", List(a)) => !b(a)
      case ("and", as) if as.size >= 2 => as.map(b).reduce(_ && _)
      case ("or", as) if as.size >= 2 => as.map(b).reduce(_ || _)
      case ("xor", as) if as.size >= 2 => as.map(b).reduce(_ =!= _)
      case ("if", List(t, a, bb)) => when(b(t), lower(a)).otherwise(lower(bb))
      case ("gt", List(a, bb)) => d(a) > d(bb)
      case ("lt", List(a, bb)) => d(a) < d(bb)
      case ("gte", List(a, bb)) => d(a) >= d(bb)
      case ("lte", List(a, bb)) => d(a) <= d(bb)
      case ("eq", List(a, bb)) => lower(a) === lower(bb)
      case ("def", List(a, dv)) => coalesce(lower(a), lower(dv))

      // ---- field access (FieldValueSourceParser, LiteralValueSource; top()
      //      is the reader-level wrapper — a global-ords no-op here)
      case ("literal", List(a)) => lit(str(a))
      case ("field", List(a)) => col(str(a))
      case ("top", List(a)) => lower(a)

      // ---- global ordinals (OrdFieldSource.java:104-141 — 0-based ord in
      //      value order, -1 when the doc has no value; ReverseOrdFieldSource
      //      .java:104-115 — end - ord - 1, end when missing)
      case ("ord" | "rord", List(f)) =>
        val fieldName = str(f)
        val vName = fresh("ordv")
        val oName = fresh("ord")
        import org.apache.spark.sql.expressions.Window
        val dict = df.select(col(fieldName).as(vName)).na.drop().distinct()
          .withColumn(oName,
            (row_number().over(Window.orderBy(col(vName))) - 1).cast("long"))
        df = df.join(broadcast(dict), df(fieldName) === dict(vName), "left")
          .drop(vName)
        if (name == "ord") coalesce(col(oName), lit(-1L))
        else {
          val eName = fresh("ordend")
          val cnt = dict.agg(count("*").as(eName))
          df = df.crossJoin(broadcast(cnt))
          coalesce(col(eName) - col(oName) - 1L, col(eName))
        }

      // ---- index stats (TermFreqValueSource, TFValueSource, IDFValueSource,
      //      DocFreqValueSource, TotalTermFreqValueSource,
      //      SumTotalTermFreqValueSource, MaxDocValueSource, NumDocsValueSource,
      //      NormValueSource). Field arg is accepted for parser fidelity; this
      //      engine's OpenIndex is single-field (FieldedIndex callers pass the
      //      per-field index as env.index).
      case ("termfreq", List(_, term)) => termFreqCol(str(term))
      case ("tf", List(_, term)) =>
        // ClassicSimilarity.tf = sqrt(freq)
        sqrt(termFreqCol(str(term)).cast("double"))
      case ("docfreq", List(_, term)) => lit(termStat(str(term))._1)
      case ("idf", List(_, term)) =>
        // ClassicSimilarity.idf = ln((docCount+1)/(df+1)) + 1
        val dfv = termStat(str(term))._1
        lit(math.log((idx.stats.docCount + 1).toDouble / (dfv + 1)) + 1.0)
      case ("totaltermfreq" | "ttf", List(_, term)) => lit(termStat(str(term))._2)
      case ("sumtotaltermfreq" | "sttf", List(_)) => lit(idx.stats.sumTotalTermFreq)
      case ("maxdoc", Nil) => lit(idx.stats.docCount)
      case ("numdocs", Nil) =>
        lit(idx.stats.docCount - idx.tombstones.map(_.getLongCardinality).getOrElse(0L))
      case ("norm", List(_)) =>
        // SmallFloat-decoded doc length, the scorer's own norm byte
        // (NormValueSource reads the same byte) — decoded through a
        // 256-entry literal map, exactly codec.SmallFloat.byte4ToInt
        val nName = fresh("norm")
        val lut = typedLit((-128 until 128).map(i =>
          i -> graft.codec.SmallFloat.byte4ToInt(i.toByte).toLong).toMap)
        val norms = idx.docstats.select(col("docId").as(env.idCol),
          col("normByte").cast("int").as(nName))
        df = df.join(norms, Seq(env.idCol), "left")
        element_at(lut, col(nName))

      // ---- payload(field,value[,default[,min|max|average|first]])
      //      (FloatPayloadValueSource via ValueSourceParser "payload":
      //      per-doc fold of the term's payloads, default 0.0/average;
      //      "first" takes the earliest position's payload)
      case ("payload", fieldArg :: value :: rest) if rest.size <= 2 =>
        val pt = env.payloads.getOrElse(throw new IllegalArgumentException(
          "payload(...) needs an Env.payloads table (TextOps.payloadTable)"))
        val term = str(value)
        val default = rest.headOption.map(num).getOrElse(0.0)
        val fn = rest.lift(1).map(str).getOrElse("average")
        val vName = fresh("payload")
        val base = pt.filter(col("term") === term && col("payload").isNotNull)
        val agg = fn match {
          case "average" => avg(col("payload"))
          case "min" => min(col("payload"))
          case "max" => max(col("payload"))
          case "first" => min_by(col("payload"), col("pos"))
          case other => throw new IllegalArgumentException(
            s"Invalid payload function: $other") // reference error text
        }
        val scores = base.groupBy(col(env.idCol)).agg(agg.cast("double").as(vName))
        df = df.join(scores, Seq(env.idCol), "left")
        coalesce(col(vName), lit(default))

      // ---- query(...) (QueryValueSource: sub-query score, default for
      //      non-matching docs)
      case ("query", q :: rest) if rest.size <= 1 =>
        val scorer = env.scorer.getOrElse(throw new IllegalArgumentException(
          "query(...) needs an Env.scorer"))
        val default = rest match {
          case List(dv) => num(dv)
          case Nil => 0.0
        }
        val qs = q match {
          case StrN(s) => s
          case WordN(s) => s
          case other => throw new IllegalArgumentException(
            s"query(): expected a query string or $$param, got $other")
        }
        val sName = fresh("qscore")
        val scores = scorer(qs)
        val scoreCol = scores.columns.last
        df = df.join(
          scores.select(col(scores.columns.head).as(env.idCol),
            col(scoreCol).as(sName)), Seq(env.idCol), "left")
        coalesce(col(sName).cast("double"), lit(default))

      case (other, as) =>
        throw new IllegalArgumentException(
          s"unknown function '$other'/${as.size} (currency/joindf/childfield/agg_* are out of scope by design)")
    }

    private def termFreqCol(term: String): Column = {
      val tName = fresh("tf")
      val posts = idx.postings(term).groupBy(col("docId").as(env.idCol))
        .agg(sum("tf").cast("long").as(tName))
      df = df.join(posts, Seq(env.idCol), "left")
      coalesce(col(tName), lit(0L))
    }

    /** (df, ttf) of a term from the committed global termstats — bounded:
      * one filtered row collected per distinct term in the function. */
    private def termStat(term: String): (Long, Long) = {
      val rows = idx.termstats.filter(col("term") === term)
        .select(col("df").cast("long"), col("ttf").cast("long")).collect()
      if (rows.isEmpty) (0L, 0L) else (rows(0).getLong(0), rows(0).getLong(1))
    }
  }
}

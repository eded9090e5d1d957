package perfbench

/**
 * Seeded inputs. Every table, query and update the benchmark hands to the
 * engine is a pure function of the run's seed, so the same seed gives the
 * same inputs on every commit.
 */
object Inputs {

  /** splitmix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s = mix(s); s }
    def nextInt(bound: Int): Int = Math.floorMod(nextLong(), bound.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    /** Zipf-like rank in [0, n): rank r with probability ~ 1/(r+1). */
    def zipf(n: Int): Int = math.min(n - 1, (math.exp(nextDouble() * math.log(n + 1.0)) - 1.0).toInt)
  }

  /** Keywords of the source-code vocabulary, most popular first. */
  val Keywords: Array[String] = Array(
    "public", "import", "def", "class", "return", "val", "var", "if", "else",
    "for", "while", "new", "static", "void", "int", "string", "match", "case",
    "object", "extends", "override", "private", "final", "try", "catch")

  /** Mid-frequency identifiers; camel case, so the analyzer lowercases them. */
  val Idents: Array[String] = Array(
    "parseConfig", "handler", "buildIndex", "queryEngine", "tokenStream",
    "mergePolicy", "flushBuffer", "scoreDocs", "readBlock", "writeShard",
    "checkpoint", "manifest", "rowCount", "shaDigest", "postings", "normValue")

  private val Langs = Array("java", "scala", "py", "c", "md")

  /** One row of the stored source table. */
  final case class Doc(docId: Long, repo: String, path: String, commit: String,
                       lang: String, content: String)

  /** The k-th unique word of document `docId` (the analyzer keeps it whole). */
  def uniqueTerm(docId: Long, k: Int): String = s"u${docId}x$k"

  /**
   * Document `docId` for `seed` (the traced runs' update probe uses an id
   * past the corpus). `tokens` is the mean token budget of a small file;
   * three size classes (1x, 10x, 100x, by id in a fixed 6:3:1 mix) give
   * the long-tailed file sizes of a source repository while keeping the
   * corpus size nearly the same for every seed.
   */
  def doc(seed: Long, docId: Long, tokens: Int): Doc = {
    val rng = new Rng(mix(seed * 0x632be59bd9b4e019L ^ docId))
    val cls = (docId % 10).toInt match { case c if c < 6 => 1; case c if c < 9 => 10; case _ => 100 }
    val budget = tokens * cls
    val n = budget * 3 / 4 + rng.nextInt(budget / 2 + 1)
    val sb = new java.lang.StringBuilder(n * 8)
    var t = 0
    while (t < n) {
      val r = rng.nextInt(100)
      if (r < 55) sb.append(Keywords(rng.zipf(Keywords.length)))
      else if (r < 75) {
        sb.append(Idents(rng.nextInt(Idents.length)))
        if (rng.nextInt(4) == 0) sb.append(rng.nextInt(16))
      } else if (r < 85) sb.append(rng.nextInt(100000))
      else if (r < 95) sb.append(uniqueTerm(docId, rng.nextInt(8)))
      else if (r < 98) {
        val w = Idents(rng.nextInt(Idents.length))
        sb.append(if (rng.nextInt(2) == 0) w.toUpperCase else w.capitalize)
      } else {
        // longer than the analyzer's 255-char token limit: chopped
        var k = 260 + rng.nextInt(20)
        while (k > 0) { sb.append('x'); k -= 1 }
      }
      sb.append(if (rng.nextInt(12) == 0) '\n' else ' ')
      t += 1
    }
    val repo = f"org${rng.nextInt(37)}%04d/repo${rng.nextInt(101)}%04d"
    val lang = Langs(rng.nextInt(Langs.length))
    val path = s"src/main/pkg${rng.nextInt(13)}/File$docId.$lang"
    val commit = f"${rng.nextLong()}%016x${rng.nextLong()}%016x${rng.nextLong() >>> 32}%08x"
    Doc(docId, repo, path, commit, lang, sb.toString)
  }

  /** The corpus: documents 0 until `n`. */
  def corpus(seed: Long, n: Int, tokens: Int): Array[Doc] =
    Array.tabulate(n)(i => doc(seed, i.toLong, tokens))

  /** Query classes; each maps to one engine entry point. */
  sealed abstract class QClass(val name: String)
  case object TermQ extends QClass("term")
  case object OrQ extends QClass("or")
  case object OrPruneQ extends QClass("or_prune")
  case object OrWandQ extends QClass("or_wand")
  case object AndQ extends QClass("and")
  case object AndWandQ extends QClass("and_wand")
  case object ParsedQ extends QClass("parsed")
  val Classes: Seq[QClass] = Seq(TermQ, OrQ, OrPruneQ, OrWandQ, AndQ, AndWandQ, ParsedQ)

  /** One query: `terms` (analyzed, in query order); `parsed` terms use
    * `+must should -not` = terms(0), terms(1), terms(2). */
  final case class Query(id: Int, cls: QClass, terms: Seq[String]) {
    def text: String = cls match {
      case ParsedQ => s"+${terms(0)} ${terms(1)} -${terms(2)}"
      case _ => terms.mkString(" ")
    }
  }

  private def kw(rng: Rng): String = Keywords(rng.zipf(Keywords.length))
  private def ident(rng: Rng): String = {
    val w = Idents(rng.nextInt(Idents.length)).toLowerCase
    if (rng.nextInt(3) == 0) w + rng.nextInt(16) else w
  }
  private def anyTerm(rng: Rng, corpusSize: Int): String = rng.nextInt(3) match {
    case 0 => kw(rng)
    case 1 => ident(rng)
    case _ => uniqueTerm(rng.nextInt(corpusSize).toLong, rng.nextInt(8))
  }

  /** `perClass` distinct queries per class, drawn from the corpus vocabulary. */
  def queryPool(seed: Long, perClass: Int, corpusSize: Int): IndexedSeq[Query] = {
    val rng = new Rng(mix(seed ^ 0x5eed00L))
    var id = 0
    Classes.flatMap { c =>
      (0 until perClass).map { _ =>
        val terms: Seq[String] = c match {
          case TermQ => Seq(anyTerm(rng, corpusSize))
          case OrQ | OrPruneQ | OrWandQ =>
            Seq(kw(rng), ident(rng), anyTerm(rng, corpusSize)).distinct
          case AndQ | AndWandQ => Seq(kw(rng), ident(rng)).distinct
          case ParsedQ => Seq(kw(rng), ident(rng), Idents(rng.nextInt(Idents.length)).toLowerCase + rng.nextInt(16))
        }
        id += 1
        Query(id - 1, c, terms)
      }
    }.toIndexedSeq
  }

  /**
   * The closed-loop query sequence: classes cycle in a fixed order (fixed
   * class shares), and within a class a query is picked with Zipf
   * popularity over that class's pool.
   */
  def querySequence(seed: Long, pool: IndexedSeq[Query], count: Int, stream: Long): Array[Query] = {
    val rng = new Rng(mix(seed ^ (0x9a11L + stream)))
    val byClass = Classes.map(c => pool.filter(_.cls == c))
    Array.tabulate(count) { i =>
      val qs = byClass(i % byClass.size)
      qs(rng.zipf(qs.size))
    }
  }
}

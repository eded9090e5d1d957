package graft.analysis

/**
 * Dictionary-driven Viterbi lattice segmentation — the first increment of
 * the capability the reference ships as its morphological CJK modules
 * (lucene/analysis/kuromoji JapaneseTokenizer.java: dictionary lattice +
 * min-cost Viterbi path; nori KoreanTokenizer.java; smartcn HHMMSegmenter),
 * re-derived from the published MeCab/kuromoji lattice formulation. NOT a
 * port: no FST, no compiled mecab binary matrices — a prefix-hash
 * dictionary with a per-POS transition map, sized for the bundled demo
 * lexicon and accepting the full mecab-ipadic-style TSV as drop-in data.
 *
 * Model: every dictionary entry matching the text at offset i contributes a
 * lattice node (i, i+len); unknown characters contribute single-char nodes
 * (plus one grouped node per maximal katakana run — kuromoji's unknown-word
 * grouping); path cost = Σ word cost + Σ transition(prevPOS, POS); the
 * segmentation is the min-cost BOS→EOS path, computed left-to-right with a
 * per-(position, POS) Viterbi table. Ties break deterministically (first
 * relaxation wins, candidates visited in sorted order).
 */
object Lattice {

  /** `parts` non-empty marks a compound entry (nori's compound-noun model,
    * nori KoreanTokenizer.java decompound): the decompounded morpheme
    * surfaces, emitted instead of (DISCARD) or alongside (MIXED) the
    * compound by [[MorphSegmentFilter]]. */
  final case class Entry(surface: String, cost: Int, pos: String,
                         parts: Seq[String] = Nil)

  final case class Node(start: Int, end: Int, surface: String, pos: String,
                        cost: Int, parts: Seq[String] = Nil)

  final class Dict(entries: Seq[Entry],
                   transitions: Map[(String, String), Int],
                   val defaultTransition: Int,
                   val unkCost: Int) extends Serializable {
    require(entries.nonEmpty, "empty dictionary")
    private val bySurface: Map[String, Seq[Entry]] =
      entries.groupBy(_.surface).view.mapValues(_.sortBy(e => (e.cost, e.pos))).toMap
    val maxLen: Int = entries.map(_.surface.length).max

    def lookup(s: String): Seq[Entry] = bySurface.getOrElse(s, Nil)
    def trans(prevPos: String, pos: String): Int =
      transitions.getOrElse((prevPos, pos), defaultTransition)
  }

  /** Parse the dictionary TSV shape `surface<TAB>cost<TAB>pos[<TAB>p1+p2]`
    * (the lexical fields of a mecab-ipadic CSV row; the optional 4th
    * column is the decompound split — nori's ipadic-neologd `+`-joined
    * compound expression). Extra columns ignored. */
  def parseDict(lines: Iterator[String],
                transitions: Map[(String, String), Int] = DemoTransitions,
                defaultTransition: Int = 800,
                unkCost: Int = 10000): Dict = {
    val entries = lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split('\t')
        require(f.length >= 3, s"bad dict line: $l")
        val parts = if (f.length >= 4 && f(3).nonEmpty)
          f(3).split('+').toSeq else Nil
        Entry(f(0), f(1).toInt, f(2), parts)
      }.toSeq
    new Dict(entries, transitions, defaultTransition, unkCost)
  }

  /** Demo transition costs over the coarse POS set of the bundled lexicon
    * (noun 名詞, particle 助詞, verb 動詞, aux 助動詞, adj 形容詞, suffix
    * 接尾, pronoun 代名詞): particles attach cheaply to content words,
    * particle chains and noun-noun splits are discouraged (compound
    * entries should win), aux verbs glue to verb stems. */
  val DemoTransitions: Map[(String, String), Int] = Map(
    ("BOS", "名詞") -> 300, ("BOS", "代名詞") -> 300, ("BOS", "動詞") -> 500,
    ("BOS", "形容詞") -> 500,
    ("名詞", "助詞") -> 100, ("代名詞", "助詞") -> 100, ("形容詞", "名詞") -> 300,
    ("助詞", "名詞") -> 200, ("助詞", "代名詞") -> 300, ("助詞", "動詞") -> 200,
    ("助詞", "形容詞") -> 300,
    ("動詞", "助動詞") -> 100, ("形容詞", "助動詞") -> 200,
    ("名詞", "接尾") -> 200,
    ("名詞", "名詞") -> 1200, ("助詞", "助詞") -> 1500,
    ("名詞", "EOS") -> 200, ("動詞", "EOS") -> 100, ("助動詞", "EOS") -> 100,
    ("形容詞", "EOS") -> 200)

  /** The bundled demo lexicon (src/main/resources/graft/ja_demo_dict.tsv):
    * a few hundred common Japanese words with hand-assigned costs — enough
    * to demonstrate real lattice behavior (compound-vs-split, particle
    * attachment, unknown grouping); a full ipadic TSV drops in via
    * [[parseDict]]. */
  lazy val demoJa: Dict = {
    val in = getClass.getResourceAsStream("/graft/ja_demo_dict.tsv")
    require(in != null, "missing ja_demo_dict.tsv resource")
    try parseDict(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** Korean transition costs over a simplified nori tagset (N noun, PN
    * pronoun, J particle, V verb final form, X verbal suffix — the 하다
    * family, C copula, E ending, M adverb): particles/suffixes/copulas
    * attach cheaply to nominals, noun-noun splits are discouraged so
    * compound entries (which DECOMPOUND on emission) win their splits. */
  val KoTransitions: Map[(String, String), Int] = Map(
    ("BOS", "N") -> 300, ("BOS", "PN") -> 300, ("BOS", "M") -> 400,
    ("BOS", "V") -> 600,
    ("N", "J") -> 100, ("PN", "J") -> 100, ("N", "X") -> 150,
    ("N", "C") -> 150, ("N", "N") -> 1200,
    ("J", "N") -> 300, ("J", "PN") -> 400, ("J", "V") -> 300,
    ("M", "V") -> 300, ("M", "N") -> 500,
    ("J", "EOS") -> 150, ("N", "EOS") -> 300, ("V", "EOS") -> 100,
    ("X", "EOS") -> 100, ("C", "EOS") -> 100, ("E", "EOS") -> 100)

  /** Chinese transition costs (smartcn's HHMM bigram role, collapsed to a
    * word/function-word grade): the per-entry costs carry the length
    * preference (2-char words cheapest per char), transitions are nearly
    * uniform — the published word-bigram model degenerates to this when
    * the demo lexicon has no per-pair statistics. */
  val ZhTransitions: Map[(String, String), Int] = Map(
    ("BOS", "W") -> 300, ("BOS", "F") -> 400,
    ("W", "W") -> 300, ("W", "F") -> 200, ("F", "W") -> 200,
    ("F", "F") -> 500,
    ("W", "EOS") -> 100, ("F", "EOS") -> 200)

  /** Bundled demo Korean lexicon (nori-capability demo: compounds carry
    * decompound parts; particles/suffixes tagged for POS-stop). */
  lazy val demoKo: Dict = fromResource("/graft/ko_demo_dict.tsv", KoTransitions)

  /** Bundled demo Chinese lexicon (smartcn-capability demo: max-matching
    * via length-graded costs; function words tagged F). */
  lazy val demoZh: Dict = fromResource("/graft/zh_demo_dict.tsv", ZhTransitions)

  private def fromResource(path: String,
                           transitions: Map[(String, String), Int]): Dict = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing dict resource: $path")
    try parseDict(scala.io.Source.fromInputStream(in, "UTF-8").getLines(),
      transitions)
    finally in.close()
  }

  @inline private def isKatakana(c: Char): Boolean =
    (c >= 0x30A1 && c <= 0x30FF) || (c >= 0x31F0 && c <= 0x31FF)

  /** Min-cost segmentation of `text` into lattice nodes. */
  def segmentNodes(text: String, dict: Dict): Seq[Node] = {
    val n = text.length
    if (n == 0) return Nil
    // candidate nodes starting at each offset: dictionary matches up to
    // maxLen, one unknown single-char node, one grouped katakana-run node
    val starts = Array.tabulate(n) { i =>
      val b = List.newBuilder[Node]
      val lim = math.min(dict.maxLen, n - i)
      var len = 1
      while (len <= lim) {
        val s = text.substring(i, i + len)
        dict.lookup(s).foreach(e => b += Node(i, i + len, s, e.pos, e.cost, e.parts))
        len += 1
      }
      b += Node(i, i + 1, text.substring(i, i + 1), "UNK", dict.unkCost)
      if (isKatakana(text.charAt(i)) && (i == 0 || !isKatakana(text.charAt(i - 1)))) {
        var j = i + 1
        while (j < n && isKatakana(text.charAt(j))) j += 1
        if (j > i + 1) b += Node(i, j, text.substring(i, j), "UNK", dict.unkCost)
      }
      // deterministic relaxation order: dict nodes by (end, pos), then UNKs
      b.result().sortBy(nd => (nd.end, nd.pos, nd.cost))
    }
    // Viterbi over (position, POS): pos -> (cost, node ending here, prevPOS)
    val best = Array.fill(n + 1)(
      collection.mutable.SortedMap.empty[String, (Int, Node, String)])
    best(0)("BOS") = (0, null, null)
    var i = 0
    while (i < n) {
      if (best(i).nonEmpty) {
        for (node <- starts(i); (ppos, (c, _, _)) <- best(i)) {
          val nc = c + dict.trans(ppos, node.pos) + node.cost
          val cur = best(node.end).get(node.pos)
          if (cur.isEmpty || nc < cur.get._1) best(node.end)(node.pos) = (nc, node, ppos)
        }
      }
      i += 1
    }
    // terminal: min over POS states at n with the POS->EOS transition
    val endStates = best(n)
    require(endStates.nonEmpty, s"lattice disconnected for <$text>") // UNK nodes make this unreachable
    val (lastPos, _) = endStates.toSeq.minBy { case (p, (c, _, _)) =>
      (c + dict.trans(p, "EOS"), p)
    }
    // backtrack via (node, prevPOS) chains
    var out = List.empty[Node]
    var posKey = lastPos
    var at = n
    while (at > 0) {
      val (_, node, ppos) = best(at)(posKey)
      out ::= node
      at = node.start
      posKey = ppos
    }
    out
  }

  /** Segmented surfaces only. */
  def segment(text: String, dict: Dict): Seq[String] =
    segmentNodes(text, dict).map(_.surface)
}

/**
 * Morphological segmentation as a chain filter (the kuromoji
 * JapaneseAnalyzer position in the stack): maximal runs of adjacent CJK
 * tokens — the same adjacency rule as [[CJKBigramFilter]]: consecutive
 * positions where at least one side is a single Han/Hiragana char, the
 * shapes the tokenizer emits one-per-character — are re-joined and
 * re-emitted as the lattice's min-cost word segmentation. Non-CJK tokens
 * pass through unchanged; positions stay dense (a run of n chars becomes
 * k word tokens occupying k positions; downstream tokens slide).
 */
final case class MorphSegmentFilter(dictName: String = "ja_demo",
                                    stopPos: Set[String] = Set.empty,
                                    decompound: String = "none") extends TokenFilter {
  require(Set("none", "discard", "mixed")(decompound),
    s"decompound mode must be none|discard|mixed: $decompound")
  // dictionaries resolve by NAME so the filter stays serializable-by-value
  // and chain configs persist as strings (IndexStore chain manifests)
  @transient private lazy val dict: Lattice.Dict = dictName match {
    case "ja_demo" => Lattice.demoJa
    case "ko_demo" => Lattice.demoKo
    case "zh_demo" => Lattice.demoZh
    case other => throw new IllegalArgumentException(s"unknown morph dict: $other")
  }

  @inline private def isCjkCp(cp: Int): Boolean =
    Character.isIdeographic(cp) ||
    (cp >= 0x3040 && cp <= 0x30FF) || (cp >= 0x31F0 && cp <= 0x31FF) ||
    (cp >= 0xAC00 && cp <= 0xD7AF) || (cp >= 0x1100 && cp <= 0x11FF)
  private def isCjkToken(term: String): Boolean = {
    var i = 0
    while (i < term.length) {
      val cp = term.codePointAt(i)
      if (!isCjkCp(cp)) return false
      i += Character.charCount(cp)
    }
    term.nonEmpty
  }
  @inline private def joinableSingle(term: String): Boolean =
    term.codePointCount(0, term.length) == 1 && {
      val cp = term.codePointAt(0)
      Character.isIdeographic(cp) || (cp >= 0x3041 && cp <= 0x309E)
    }

  def apply(tokens: Seq[Token], overlaps: Seq[Boolean]): (Seq[Token], Seq[Boolean]) = {
    val outT = Vector.newBuilder[Token]
    val outO = Vector.newBuilder[Boolean]
    var shift = 0
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      if (!isCjkToken(t.term) || overlaps(i)) {
        outT += t.copy(pos = t.pos + shift); outO += overlaps(i)
        i += 1
      } else {
        // maximal joinable run (the CJKBigramFilter adjacency rule)
        var k = i
        val run = new StringBuilder(t.term)
        while (k + 1 < tokens.length && !overlaps(k + 1) &&
               tokens(k + 1).pos == tokens(k).pos + 1 && isCjkToken(tokens(k + 1).term) &&
               (joinableSingle(tokens(k).term) || joinableSingle(tokens(k + 1).term))) {
          k += 1
          run.append(tokens(k).term)
        }
        // POS-stop drops nodes by tag (nori KoreanPartOfSpeechStopFilter:
        // particles/endings/suffixes removed AT the segmenter, positions
        // compact densely); decompound expands compound entries into their
        // morpheme parts (DISCARD replaces; MIXED emits the compound first,
        // then its parts with the first part overlapping it, as nori does)
        val nodes = Lattice.segmentNodes(run.toString, dict)
          .filterNot(nd => stopPos(nd.pos))
        val emitted: Seq[(String, Boolean)] = nodes.flatMap { nd =>
          if (decompound == "none" || nd.parts.isEmpty) Seq(nd.surface -> false)
          else if (decompound == "discard") nd.parts.map(_ -> false)
          else (nd.surface -> false) +: (nd.parts.head -> true) +:
            nd.parts.tail.map(_ -> false)
        }
        val base = t.pos + shift
        val consumed = tokens(k).pos - t.pos + 1
        var p = base - 1
        emitted.foreach { case (w, ov) =>
          if (!ov) p += 1
          outT += Token(w, p); outO += ov
        }
        shift += emitted.count(!_._2) - consumed
        i = k + 1
      }
    }
    (outT.result(), outO.result())
  }
}

package graft.analysis

import org.scalatest.funsuite.AnyFunSuite

/** Viterbi lattice segmentation (the kuromoji-capability first increment):
  * compound-vs-split resolution by path cost, particle attachment, unknown
  * katakana grouping, chain integration and persisted-chain round-trip. */
class LatticeSpec extends AnyFunSuite {
  private val d = Lattice.demoJa
  private def seg(s: String): Seq[String] = Lattice.segment(s, d)

  test("compound entry beats its split when the lattice says so") {
    // 東京都 (2500) vs 東京+都 (3000+4000 + noun-noun transition)
    assert(seg("東京都") === Seq("東京都"))
    assert(seg("東京都に行きます") === Seq("東京都", "に", "行き", "ます"))
    // without the compound in range, the split still wins over unknowns
    assert(seg("京都に行きます") === Seq("京都", "に", "行き", "ます"))
  }

  test("particle attachment segments SOV sentences") {
    assert(seg("私は水を飲む") === Seq("私", "は", "水", "を", "飲む"))
    assert(seg("犬が魚を食べる") === Seq("犬", "が", "魚", "を", "食べる"))
    assert(seg("日本語の本を読む") === Seq("日本語", "の", "本", "を", "読む"))
  }

  test("unknown katakana runs group into one token") {
    assert(seg("ソフトウェアを検索する") === Seq("ソフトウェア", "を", "検索", "する"))
    // unknown han chars fall back to single-char nodes
    assert(seg("鰻を食べる") === Seq("鰻", "を", "食べる"))
  }

  test("segmentation is deterministic and total") {
    assert(seg("") === Nil)
    assert(seg("猫") === Seq("猫"))
    val s = "会社員は電車で会社に行きます"
    assert(seg(s) === seg(s))
    assert(seg(s) === Seq("会社員", "は", "電車", "で", "会社", "に", "行き", "ます"))
    // every segmentation reassembles to the input (no loss, no overlap)
    for (t <- Seq("東京都に行きます", "ソフトウェアを検索する", "鰻を食べる"))
      assert(seg(t).mkString === t)
  }

  test("chain filter re-joins CJK runs, segments, keeps positions dense") {
    val chain = AnalyzerChain(Seq(MorphSegmentFilter()))
    assert(chain.terms("東京都に行きます") === Seq("東京都", "に", "行き", "ます"))
    val toks = chain.analyze("東京都に行きます")
    assert(toks.map(_.pos) === Seq(0, 1, 2, 3))
    // mixed script: latin token passes through, CJK run segments
    assert(chain.terms("spark処理を分散する") ===
      Seq("spark", "処理", "を", "分散", "する"))
    // katakana run token from the tokenizer joins adjacent singles
    assert(chain.terms("データを処理する") === Seq("データ", "を", "処理", "する"))
  }

  test("ja analyzer preset: width fold + segmentation + stop list") {
    val ja = Analyzers.forLanguage("ja")
    assert(ja.terms("私は水を飲む") === Seq("私", "水", "飲む"))
    // fullwidth latin folds before segmentation
    assert(ja.terms("ＪＡＶＡで検索する") === Seq("java", "検索"))
  }

  test("morph filter survives the persisted-chain JSON round-trip") {
    val chain = AnalyzerChain(Seq(CJKWidthFilter, MorphSegmentFilter()))
    val back = AnalyzerChain.fromJson(AnalyzerChain.toJson(chain))
    assert(back.terms("東京都に行きます") === Seq("東京都", "に", "行き", "ます"))
    assert(back.filters.exists(_.isInstanceOf[MorphSegmentFilter]))
  }

  // ------------------------------------------------------------ Korean (nori)

  test("korean lattice: eojeol splits into morphemes, compound beats split") {
    val ko = Lattice.demoKo
    assert(Lattice.segment("삼성전자는", ko) === Seq("삼성전자", "는"))
    assert(Lattice.segment("한국의", ko) === Seq("한국", "의"))
    assert(Lattice.segment("회사이다", ko) === Seq("회사", "이다"))
    assert(Lattice.segment("서울대학교에서", ko) === Seq("서울대학교", "에서"))
    // compound carries its decompound parts on the node
    val nodes = Lattice.segmentNodes("삼성전자는", ko)
    assert(nodes.head.parts === Seq("삼성", "전자"))
  }

  test("korean filter: POS-stop drops particles/suffixes, DISCARD decompounds") {
    val f = MorphSegmentFilter("ko_demo", Set("J", "X", "C", "E"), "discard")
    val chain = AnalyzerChain(Seq(f))
    assert(chain.terms("삼성전자는 한국의 회사이다") ===
      Seq("삼성", "전자", "한국", "회사"))
    assert(chain.terms("데이터를 분석한다") === Seq("데이터", "분석"))
    // positions stay dense after stop+decompound
    assert(chain.analyze("삼성전자는 한국의 회사이다").map(_.pos) === Seq(0, 1, 2, 3))
  }

  test("korean MIXED decompound emits the compound as an overlap") {
    val chain = AnalyzerChain(Seq(
      MorphSegmentFilter("ko_demo", Set("J", "X", "C", "E"), "mixed")))
    val toks = chain.analyze("삼성전자는")
    assert(toks.map(_.term) === Seq("삼성전자", "삼성", "전자"))
    // compound overlaps the first part; second part advances
    assert(toks.map(_.pos) === Seq(0, 0, 1))
  }

  test("ko analyzer preset end-to-end") {
    val ko = Analyzers.forLanguage("ko")
    assert(ko.terms("나는 학교에 간다") === Seq("나", "학교", "간다"))
    assert(ko.terms("기계학습과 데이터마이닝") ===
      Seq("기계", "학습", "데이터", "마이닝"))
    assert(ko.terms("인공지능 기술이 발전했다") === Seq("인공", "지능", "기술", "발전"))
  }

  // --------------------------------------------------------- Chinese (smartcn)

  test("chinese lattice: longest dictionary match wins over singles") {
    val zh = Lattice.demoZh
    assert(Lattice.segment("我爱北京天安门", zh) === Seq("我", "爱", "北京", "天安门"))
    assert(Lattice.segment("他在图书馆看书", zh) === Seq("他", "在", "图书馆", "看书"))
    assert(Lattice.segment("北京大学的学生", zh) === Seq("北京", "大学", "的", "学生"))
    assert(Lattice.segment("人工智能", zh) === Seq("人工智能"))
  }

  test("zh analyzer preset: segmentation + function-word stop list") {
    val zh = Analyzers.forLanguage("zh")
    assert(zh.terms("机器学习和数据分析") === Seq("机器", "学习", "数据", "分析"))
    assert(zh.terms("北京大学的学生") === Seq("北京", "大学", "学生"))
    assert(zh.terms("今天天气很好") === Seq("今天", "天气", "很", "好"))
  }

  test("ko/zh morph filters survive the persisted-chain JSON round-trip") {
    val chain = AnalyzerChain(Seq(CJKWidthFilter,
      MorphSegmentFilter("ko_demo", Set("J", "X", "C", "E"), "discard")))
    val back = AnalyzerChain.fromJson(AnalyzerChain.toJson(chain))
    assert(back.terms("삼성전자는 한국의 회사이다") === Seq("삼성", "전자", "한국", "회사"))
    back.filters.collect { case m: MorphSegmentFilter => m } match {
      case Seq(m) =>
        assert(m.dictName === "ko_demo")
        assert(m.stopPos === Set("J", "X", "C", "E"))
        assert(m.decompound === "discard")
      case other => fail(s"unexpected filters: $other")
    }
    val zhChain = AnalyzerChain(Seq(MorphSegmentFilter("zh_demo")))
    val zhBack = AnalyzerChain.fromJson(AnalyzerChain.toJson(zhChain))
    assert(zhBack.terms("中文分词系统") === Seq("中文", "分词", "系统"))
  }
}

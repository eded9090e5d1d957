package graft.tools

import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexStore}
import graft.query.QueryEngine
import org.apache.spark.sql.SparkSession

/**
 * Minimal CLI surface for the engine:
 *
 *   build <indexDir> <numDocs> [segments] [--pos] build/resume an index over the
 *                                                 deterministic synthetic corpus
 *   buildParquet <indexDir> <parquet> <idCol> <contentCol> [segments]
 *   query <indexDir> <k> [--and] [--wand] [--not t1,t2] term...
 *   search <indexDir> <k> <classic query string>  (+a -b "c d"~2 pre* f~1 [x TO y])
 *   collate <indexDir> word...        did-you-mean with verified hit count
 *   infix <indexDir> <k> <substring>  infix suggester
 *   termvec <indexDir> <docId>        term vector from the positions tier
 *   manifests <indexDir>
 */
object IndexCli {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList) finally spark.stop()
  }

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "build" :: dir :: n :: rest =>
      val segs = rest.filterNot(_.startsWith("--")).headOption.map(_.toInt).getOrElse(4)
      val corpus = CorpusGen.corpus(spark, n.toLong, math.max(8, spark.sparkContext.defaultParallelism)).toDF()
      // cached: build's density check + each segment slice re-scan the ids
      val withIds = DocIds.assign(corpus, Seq("repo", "path", "commit"), math.max(8, spark.sparkContext.defaultParallelism))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // --english: StopFilter + PorterStemFilter chain (persisted with the
      // index; query/search/spell then analyze through it automatically);
      // --code: camelCase/alnum identifier splitting (WordDelimiterFilter
      // with preserveOriginal) — the source-code analyzer
      // --snowball <german|spanish|french|english>: Snowball-stemmed chain
      val base =
        if (rest.contains("--kstem"))
          // Krovetz dictionary-validated stemming (KStemFilter)
          graft.analysis.AnalyzerChain(Seq(graft.analysis.KStemFilter))
        else if (rest.contains("--hunspell"))
          // Hunspell affix-dictionary stemming; --hunspell-dict <aff>,<dic>
          // points at an on-disk dictionary pair, else the built-in sample
          graft.analysis.AnalyzerChain(Seq(
            rest.dropWhile(_ != "--hunspell-dict").drop(1).headOption match {
              case Some(paths) if !paths.startsWith("--") && paths.contains(",") =>
                val Array(aff, dic) = paths.split(",", 2)
                graft.analysis.HunspellStemFilter(
                  new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(aff)), "UTF-8"),
                  new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dic)), "UTF-8"))
              case _ =>
                graft.analysis.HunspellStemFilter(
                  graft.analysis.Hunspell.sampleEnglishAff,
                  graft.analysis.Hunspell.sampleEnglishDic)
            }))
        else if (rest.contains("--english"))
          graft.analysis.AnalyzerChain.english(Set("the", "a", "of", "and"))
        else rest.dropWhile(_ != "--snowball").drop(1).headOption match {
          case Some(lang) if !lang.startsWith("--") =>
            graft.analysis.AnalyzerChain(Seq(graft.analysis.SnowballStemFilter(lang)))
          case _ =>
            // --light <de_light|fr_minimal|pt_rslp|ckb|...>: CLEF light/
            // minimal (Savoy/RSLP/Sorani) stemmed chain
            rest.dropWhile(_ != "--light").drop(1).headOption match {
              case Some(lang) if !lang.startsWith("--") =>
                graft.analysis.AnalyzerChain(Seq(graft.analysis.LightStemFilter(lang)))
              case _ =>
                // --phonetic <soundex|metaphone|dmetaphone|rsoundex|
                //   caverphone|cologne|nysiis|dmsoundex>: phonetic codes
                //   injected alongside the originals (name matching)
                rest.dropWhile(_ != "--phonetic").drop(1).headOption match {
                  case Some(enc) if !enc.startsWith("--") =>
                    graft.analysis.AnalyzerChain(
                      Seq(graft.analysis.PhoneticFilter(inject = true, encoder = enc)))
                  case _ =>
                    // --lang <ar|de|fr|...>: the reference XXAnalyzer stack
                    // (elision/normalizer/stopwords/stemmer) for a language
                    rest.dropWhile(_ != "--lang").drop(1).headOption match {
                      case Some(code) if !code.startsWith("--") =>
                        graft.analysis.Analyzers.forLanguage(code)
                      case _ => graft.analysis.AnalyzerChain.standard
                    }
                }
            }
        }
      // --folded: AsciiFolding + Length(2,255) preset (accent-insensitive
      // matching; cafe finds café) composable with the stem presets
      val folded =
        if (rest.contains("--folded"))
          base.copy(filters = graft.analysis.AsciiFoldingFilter +:
            graft.analysis.LengthFilter(2, 255) +: base.filters)
        else base
      // --cjk: CJKAnalyzer preset (width folding + character bigrams —
      // analysis/cjk/CJKAnalyzer.java's width→lowercase→bigram stack)
      val cjk =
        if (rest.contains("--cjk"))
          folded.copy(filters = graft.analysis.CJKWidthFilter +:
            graft.analysis.CJKBigramFilter() +: folded.filters)
        else folded
      val chain =
        if (rest.contains("--code"))
          cjk.copy(wordDelimiter = Some(graft.analysis.WordDelimiterFilter()))
        else cjk
      val t0 = System.nanoTime()
      IndexStore.build(spark, withIds, dir, segs, spark.sparkContext.defaultParallelism,
        withPositions = rest.contains("--pos"), withOffsets = rest.contains("--offsets"),
        // --dv: lang doc-values tier (field sorts, cursor paging, contexts)
        docValueCols = if (rest.contains("--dv")) Seq("lang") else Nil,
        analyzer = chain)
      val secs = (System.nanoTime() - t0) / 1e9
      val idx = IndexStore.OpenIndex(spark, dir)
      println(f"built: docs=${idx.stats.docCount} sumTtf=${idx.stats.sumTotalTermFreq} terms=${idx.termstats.count()} blocks=${idx.blocks.count()} in $secs%.1fs (${n.toLong / secs}%.0f files/s)")

    case "buildParquet" :: dir :: parquet :: idCol :: contentCol :: rest =>
      val segs = rest.headOption.map(_.toInt).getOrElse(4)
      val corpus = spark.read.parquet(parquet)
        .withColumnRenamed(idCol, "docId").withColumnRenamed(contentCol, "content")
      IndexStore.build(spark, corpus, dir, segs, spark.sparkContext.defaultParallelism)
      val idx = IndexStore.OpenIndex(spark, dir)
      println(s"built: docs=${idx.stats.docCount} terms=${idx.termstats.count()}")

    case "query" :: dir :: k :: rest =>
      val (flags, terms0) = rest.partition(a => a.startsWith("--"))
      val notIdx = rest.indexOf("--not")
      val (mustNot, terms) =
        if (notIdx >= 0 && notIdx + 1 < rest.length)
          (rest(notIdx + 1).split(",").toSeq, terms0.filterNot(_ == rest(notIdx + 1)))
        else (Nil, terms0)
      val mode = if (flags.contains("--and")) QueryEngine.And else QueryEngine.Or
      val idx = IndexStore.OpenIndex(spark, dir)
      // --after <score>,<docId>: positional paging (searchAfter)
      val afterIdx = rest.indexOf("--after")
      val after = if (afterIdx >= 0 && afterIdx + 1 < rest.length) {
        val Array(sc, id) = rest(afterIdx + 1).split(",")
        Some((sc.toFloat, id.toLong))
      } else None
      // query text goes through the INDEX's own analysis chain (identity
      // for standard indexes; stems/stops for an --english one)
      val qTerms = terms.filterNot(_.contains(",")).flatMap(idx.analyzeQuery)
      val qNot = mustNot.flatMap(idx.analyzeQuery)
      // --sim classic|lmdirichlet: rank with a non-default similarity
      // (same index, same norms — Similarity.scorer() pluggability)
      val sim: graft.query.Similarity =
        if (flags.contains("--sim-classic")) graft.query.ClassicSim
        else if (flags.contains("--sim-lmd")) graft.query.LMDirichletSim()
        else if (flags.contains("--sim-lmjm")) graft.query.LMJelinekMercerSim()
        else if (flags.contains("--sim-dfr")) graft.query.DfrInL2Sim()
        else if (flags.contains("--sim-bool")) graft.query.BooleanSim
        else if (flags.contains("--sim-dfi")) graft.query.DfiSim()
        else if (flags.contains("--sim-ib")) graft.query.IBSim()
        else if (flags.contains("--sim-ax")) graft.query.AxiomaticF2ExpSim()
        else if (flags.contains("--sim-sweet")) graft.query.SweetSpotSim(lnMin = 8, lnMax = 64)
        else null
      val t0 = System.nanoTime()
      val hits = idx.run(QueryEngine.Request(QueryEngine.Terms(qTerms, sim), k.toInt, mode, qNot,
        wand = flags.contains("--wand"), after = after)).collect()
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"top-${k} for ${terms.mkString(" ")} (mode=$mode wand=${flags.contains("--wand")}) in $ms%.0f ms:")
      hits.foreach(r => println(s"  doc=${r.getLong(0)} score=${r.getFloat(1)}"))

    // search <indexDir> <k> <classic query string...>
    // e.g.: search /tmp/idx 5 +public (static OR void) -handler7 "import java"~2 pre*
    case "search" :: dir :: k :: queryParts if queryParts.nonEmpty =>
      val q = queryParts.mkString(" ")
      val t0 = System.nanoTime()
      val hits = IndexStore.OpenIndex(spark, dir).search(q, k.toInt).collect()
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"""search "$q" top-$k in $ms%.0f ms:""")
      hits.foreach(r => println(s"  doc=${r.getLong(0)} score=${r.getFloat(1)}"))

    // xmlsearch <dir> <k> <xml...> : CoreParser XML query dialect
    case "xmlsearch" :: dir :: k :: xmlParts if xmlParts.nonEmpty =>
      val xml = xmlParts.mkString(" ")
      val hits = IndexStore.OpenIndex(spark, dir).searchXml(xml, k.toInt).collect()
      println(s"xmlsearch top-$k:")
      hits.foreach(r => println(s"  doc=${r.getLong(0)} score=${r.getFloat(1)}"))

    // jsonsearch <dir> <k> <json...> : JSON Request API query object
    // (single-quoted JSON accepted — sbt strips double quotes)
    case "jsonsearch" :: dir :: k :: jsonParts if jsonParts.nonEmpty =>
      val idx = IndexStore.OpenIndex(spark, dir)
      val hits = graft.query.JsonDsl.search(Map("content" -> idx), "content",
        jsonParts.mkString(" "), k.toInt).collect()
      println(s"jsonsearch top-$k:")
      hits.foreach(r => println(s"  doc=${r.getLong(0)} score=${r.getFloat(1)}"))

    // funcsearch <dir> <k> <func...> : {!func} ranking — function of the
    // per-doc stats (dl) and index-stat functions (termfreq/norm/...)
    case "funcsearch" :: dir :: k :: funcParts if funcParts.nonEmpty =>
      import org.apache.spark.sql.functions.col
      val idx = IndexStore.OpenIndex(spark, dir)
      val env = graft.query.FuncParser.Env(idCol = "docId", index = Some(idx))
      val top = graft.query.FuncParser.topK(
        idx.docstats.select(col("docId"), col("dl")),
        funcParts.mkString(" "), k.toInt, env).collect()
      println(s"funcsearch top-$k:")
      top.foreach(r => println(s"  doc=${r.getLong(0)} value=${r.getDouble(1)}"))

    // dataimport <dir> full <parquet> <pkCol> <contentCol> <startTime>
    // dataimport <dir> delta <parquet> <pkCol> <contentCol> <stampCol> <startTime> [deletedPks,csv]
    case "dataimport" :: dir :: "full" :: parquet :: pkCol :: contentCol :: startTime :: Nil =>
      val st = graft.sources.DataImport.fullImport(spark,
        spark.read.parquet(parquet), pkCol, contentCol, dir, startTime)
      println(s"dataimport ${st.mode}: imported=${st.imported} deleted=${st.deleted} last_index_time=${st.lastIndexTime}")
    case "dataimport" :: dir :: "delta" :: parquet :: pkCol :: contentCol :: stampCol :: startTime :: rest =>
      val deleted = rest.headOption.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      val st = graft.sources.DataImport.deltaImport(spark,
        spark.read.parquet(parquet), pkCol, contentCol, stampCol, dir,
        startTime, deletedPks = deleted)
      println(s"dataimport ${st.mode}: imported=${st.imported} deleted=${st.deleted} last_index_time=${st.lastIndexTime}")

    // addindexes <dstDir> <srcDir> : import srcDir's segments into dstDir
    // (doc ids rebased, merged stats — IndexWriter.addIndexes)
    case "addindexes" :: dst :: src :: Nil =>
      val n = IndexStore.addIndexes(spark, dst, src)
      val idx = IndexStore.OpenIndex(spark, dst)
      println(s"imported $n segments; merged docs=${idx.stats.docCount} " +
        s"sumTtf=${idx.stats.sumTotalTermFreq}")

    // simplesearch <indexDir> <k> <query...> : SimpleQueryParser dialect
    // (lenient end-user syntax: a + b | c, -neg, "phrase"~2, pre*, fuzzy~1)
    case "simplesearch" :: dir :: k :: queryParts if queryParts.nonEmpty =>
      val q = queryParts.mkString(" ")
      val hits = graft.query.Searcher
        .searchSimple(IndexStore.OpenIndex(spark, dir), q, k.toInt).collect()
      println(s"""simple "$q" top-$k:""")
      hits.foreach(r => println(s"  doc=${r.getLong(0)} score=${r.getFloat(1)}"))

    // cursor <indexDir> <k> <sortField> <mark|*> term... : CursorMark page
    // over a doc-values sort; prints the next opaque mark
    case "cursor" :: dir :: k :: sortField :: mark :: terms if terms.nonEmpty =>
      val (page, next) = IndexStore.OpenIndex(spark, dir)
        .cursorPage(terms, Seq((sortField, true)), k.toInt, mark)
      page.collect().foreach(r =>
        println(s"  doc=${r.getAs[Long]("docId")} $sortField=${r.getAs[Any](sortField)}"))
      println(s"nextCursorMark: $next")

    // blended <indexDir> <k> term... : BlendedTermQuery (df = max blend,
    // dismax rewrite)
    case "blended" :: dir :: k :: terms if terms.nonEmpty =>
      IndexStore.OpenIndex(spark, dir)
        .run(QueryEngine.Request(QueryEngine.Blended(terms.map(t => (t, 1f))), k.toInt,
          tieBreaker = Some(0.01f))).collect()
        .foreach(r => println(s"  doc=${r.getLong(0)} score=${r.getFloat(1)}"))

    // cphrase <indexDir> <complex phrase body...>: groups/wildcards/fuzzies
    // inside a phrase, e.g.: cphrase /tmp/idx (public private) stat*
    case "cphrase" :: dir :: body if body.nonEmpty =>
      val docs = IndexStore.OpenIndex(spark, dir).complexPhrase(body.mkString(" "))
        .orderBy("docId").collect()
      println(s"complex phrase matched ${docs.length} docs:")
      docs.take(20).foreach(r => println(s"  doc=${r.getLong(0)}"))

    case "mlt" :: dir :: k :: text =>
      val hits = IndexStore.OpenIndex(spark, dir).moreLikeThis(text.mkString(" "), k.toInt).collect()
      println(s"more-like-this top-$k:")
      hits.foreach(r => println(s"  doc=${r.getLong(0)} score=${r.getFloat(1)}"))

    case "budget" :: dir :: k :: ms :: terms if terms.nonEmpty =>
      val (hits, partial) = IndexStore.OpenIndex(spark, dir)
        .topKBudgeted(terms, k.toInt, ms.toLong)
      println(s"budgeted top-$k (${ms}ms, partial=$partial):")
      hits.foreach { case (id, s) => println(s"  doc=$id score=$s") }

    case "fuzzysuggest" :: dir :: k :: q :: Nil =>
      IndexStore.OpenIndex(spark, dir).suggestFuzzy(q, k.toInt).collect()
        .foreach(r => println(s"  ${r.getString(0)} (dist=${r.getInt(1)} df=${r.getLong(2)})"))

    case "suggest" :: dir :: k :: prefix :: Nil =>
      IndexStore.OpenIndex(spark, dir).suggest(prefix, k.toInt).collect()
        .foreach(r => println(s"  ${r.getString(0)} (df=${r.getLong(1)})"))

    case "spell" :: dir :: k :: word :: Nil =>
      IndexStore.OpenIndex(spark, dir).spellCorrect(word, 2, k.toInt).collect()
        .foreach(r => println(s"  ${r.getString(0)} (dist=${r.getInt(1)} df=${r.getLong(2)})"))

    // collate <indexDir> word... : spell-correct every word + verified hit count
    case "collate" :: dir :: words if words.nonEmpty =>
      val r = IndexStore.OpenIndex(spark, dir).spellCollate(words, 2).head()
      println(s"  did-you-mean: '${r.getString(0)}' (${r.getLong(1)} hits)")

    // wordbreak <indexDir> <k> <word> : split run-together words
    case "wordbreak" :: dir :: k :: word :: Nil =>
      IndexStore.OpenIndex(spark, dir).wordBreak(word, k.toInt).collect()
        .foreach(r => println(s"  '${r.getString(0)}' (breaks=${r.getInt(1)} sumdf=${r.getLong(2)})"))

    // combine <indexDir> word... : join adjacent words into dictionary terms
    case "combine" :: dir :: words if words.nonEmpty =>
      IndexStore.OpenIndex(spark, dir).combineWords(words).collect()
        .foreach(r => println(s"  [${r.getInt(0)}..${r.getInt(1)}] -> '${r.getString(2)}' (df=${r.getLong(3)})"))

    // infix <indexDir> <k> <substring> : infix suggester
    case "infix" :: dir :: k :: q :: Nil =>
      IndexStore.OpenIndex(spark, dir).suggestInfix(q, k.toInt).collect()
        .foreach(r => println(s"  ${r.getString(0)} (df=${r.getLong(1)})"))

    // termvec <indexDir> <docId> : term vector from the positions tier
    case "termvec" :: dir :: docId :: Nil =>
      IndexStore.OpenIndex(spark, dir).termVector(docId.toLong).collect()
        .sortBy(_.getString(0))
        .foreach(r => println(s"  ${r.getString(0)} tf=${r.getLong(1)} pos=[${r.getString(2)}]"))

    // searchjob <timeIndexDir> <k> <from> <to> term... : submit + poll previews
    case "searchjob" :: dir :: k :: from :: to :: terms if terms.nonEmpty =>
      val job = graft.streaming.SearchJobs.submit(spark, dir, terms, k.toInt, from, to)
      println(s"job ${job.jobId} submitted")
      var lastDone = -1
      while (!job.isFinished) {
        val p = job.preview
        if (p.bucketsDone != lastDone) {
          lastDone = p.bucketsDone
          println(s"  preview: ${p.bucketsDone}/${p.totalBuckets} buckets, ${p.hitCount} hits, top=${p.hits.take(3).mkString(",")}")
        }
        Thread.sleep(50)
      }
      println(s"  ${job.status} in ${job.durationMs} ms; final top-$k:")
      job.result().foreach { case (id, s) => println(s"  doc=$id score=$s") }

    case "timebuild" :: dir :: parquet :: rest =>
      // timebuild <dir> <parquet> [granularity] [rawSqlExpr]
      val gran = rest.headOption.getOrElse("day")
      val rawExpr = rest.drop(1).headOption.getOrElse("raw")
      val events = spark.read.parquet(parquet)
        .withColumn("raw", org.apache.spark.sql.functions.expr(rawExpr))
      graft.index.TimeIndex.build(spark, events, dir, granularity = gran,
        shufflePartitions = spark.sparkContext.defaultParallelism)
      println(s"timebuild: buckets=${graft.index.TimeIndex.buckets(dir).mkString(",")}")

    case "timequery" :: dir :: k :: from :: to :: terms =>
      val hits = graft.index.TimeIndex.topK(spark, dir, terms, k.toInt, from, to).collect()
      println(s"top-$k for ${terms.mkString(" ")} in [$from, $to]:")
      hits.foreach(r => println(s"  doc=${r.getLong(0)} score=${r.getFloat(1)}"))

    case "delete" :: dir :: ids =>
      IndexStore.delete(spark, dir, ids.map(_.toLong))
      println(s"deleted: ${ids.size} tombstones (reclaim via compact)")

    case "compact" :: dir :: out :: Nil =>
      IndexStore.compact(spark, dir, out, spark.sparkContext.defaultParallelism)
      val idx = IndexStore.OpenIndex(spark, out)
      println(s"compacted: docs=${idx.stats.docCount} segments=${IndexStore.readManifests(out).size}")

    // snapshot <indexDir> <destDir>: commit-point backup (committed
    // segments + stats/deletes/dvpatch); the destination is itself a
    // complete, queryable index directory
    case "snapshot" :: dir :: dest :: Nil =>
      IndexStore.snapshot(dir, dest)
      val idx = IndexStore.OpenIndex(spark, dest)
      println(s"snapshot: docs=${idx.stats.docCount} segments=${IndexStore.readManifests(dest).size} at $dest")

    // replicate <srcIndexDir> <replicaDir>: one lucene/replicator-style
    // pass — only files missing at the replica travel, segments commit
    // manifest-last, stale segments are dropped; re-run any time to
    // converge on the source's commit point
    case "replicate" :: srcDir :: dest :: Nil =>
      val r = graft.index.Replicator.replicate(srcDir, dest)
      println(s"replicate: ${r.toJson}")

    // highlight <indexDir> <window> <topPassages> term... : passage-ranked
    // highlighting over the offsets tier (build with --offsets)
    case "highlight" :: dir :: window :: top :: terms if terms.nonEmpty =>
      val idx = IndexStore.OpenIndex(spark, dir)
      val analyzed = terms.flatMap(idx.analyzeQuery)
      val rows = idx.highlightPassages(analyzed, window.toInt, top.toInt)
        .orderBy(org.apache.spark.sql.functions.col("docId"),
          org.apache.spark.sql.functions.col("passage"))
        .limit(20).collect()
      println(s"passages for ${analyzed.mkString(" ")} (window=$window top=$top, first 20):")
      rows.foreach(r => println(s"  doc=${r.getLong(0)} passage=${r.getInt(1)} " +
        s"matches=${r.getLong(2)} chars=[${r.getInt(3)},${r.getInt(4)})"))

    // fuzzy <indexDir> <k> <word> [maxEdits] : gram-pruned fuzzy expansion
    case "fuzzy" :: dir :: k :: word :: rest =>
      val e = rest.filterNot(_.startsWith("--")).headOption.map(_.toInt).getOrElse(2)
      val idx = IndexStore.OpenIndex(spark, dir)
      // --transpose: OSA metric (adjacent swap = 1 edit, the Lucene default)
      if (rest.contains("--transpose")) {
        idx.spellCorrect(word, e, k.toInt, transpositions = true).collect()
          .foreach(r => println(s"  ${r.getString(0)} (osa=${r.getInt(1)} df=${r.getLong(2)})"))
      } else {
        val expanded = idx.fuzzyExpand(word, e).take(k.toInt)
        println(s"fuzzy $word~$e -> ${expanded.size} terms (df-ranked):")
        expanded.foreach(t => println(s"  $t"))
      }

    case "manifests" :: dir :: Nil =>
      IndexStore.readManifests(dir).foreach(println)

    // check <indexDir>: full integrity verification (the reference's
    // CheckIndex) — exits nonzero when any invariant is violated
    case "check" :: dir :: Nil =>
      val report = graft.index.CheckIndex.check(spark, dir)
      println(report.toJson)
      if (!report.clean) sys.exit(1)

    // checktime <timeIndexDir>: TimeIndex bucket-layout integrity
    case "checktime" :: dir :: Nil =>
      val report = graft.index.CheckIndex.checkTime(spark, dir)
      println(report.toJson)
      if (!report.clean) sys.exit(1)

    // multisearch <k> <dirA> <dirB> [dirC...] -- term... : federated
    // search over several indexes with exact merged stats (MultiReader
    // docBase + ExactStatsCache semantics)
    case "multisearch" :: k :: rest if rest.contains("--") =>
      val (dirs, terms) = rest.span(_ != "--")
      val indexes = dirs.map(d => IndexStore.OpenIndex(spark, d))
      graft.index.MultiIndex.topK(indexes, terms.drop(1), k.toInt).collect()
        .foreach(r => println(s"  doc=${r.getLong(0)} score=${r.getFloat(1)} " +
          s"shard=${r.getInt(2)} local=${r.getLong(3)}"))

    case other =>
      System.err.println(s"unknown args: $other"); sys.exit(2)
  }
}

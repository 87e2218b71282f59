package graft

import graft.core.CorpusGen
import graft.index.IndexBuilder
import graft.query.{QueryEngine, SearchIndex, SearchService}
import graft.query.QueryEngine.SearchOpts
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end query lifecycle (SURVEY §3.1): validation -> correction ->
  * intent/entities -> search -> fallback -> insights -> summary. */
class SearchServiceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val index: SearchIndex = {
    val dir = "/tmp/graft-test/service-index"
    IndexBuilder.build(spark,
      CorpusGen.generateDF(spark, 800L, seed = 29L, partitions = 3), dir,
      IndexBuilder.Params(blockSize = 64, docGroupSize = 256L,
        fields = Seq("content", "path")))
    new SearchIndex(spark, dir)
  }

  test("full lifecycle: corrected, classified, searched, summarized") {
    val r = SearchService.search(index, "pyton tutorail basics").get
    assert(r.correctedQuery == "python tutorial basics")
    assert(r.intent.intent == "learning")
    assert(r.entities.technologies == Seq("python"))
    assert(!r.usedFallback)
    assert(r.totalResults > 0)
    assert(r.summary.contains("python tutorial basics"))
    assert(r.results.columns.contains("rank"))
    // the result page equals a direct engine search for the same query
    val direct = QueryEngine.search(index, "python tutorial basics", SearchOpts())
      .collect().map(_.toSeq).toSeq
    assert(r.results.collect().map(_.toSeq).toSeq == direct)
  }

  test("query-result LRU cache: hit flags fromCache, evicts beyond capacity") {
    val cache = SearchService.newCache(maxEntries = 2)
    val first = SearchService.search(index, "python tutorial",
      cache = Some(cache)).get
    assert(!first.fromCache)
    val second = SearchService.search(index, "python tutorial",
      cache = Some(cache)).get
    assert(second.fromCache) // reference integration matrix's from_cache flag
    assert(second.totalResults == first.totalResults &&
      second.summary == first.summary)
    // distinct k -> distinct key (reference key = search:{query}:{limit})
    val otherK = SearchService.search(index, "python tutorial",
      SearchOpts(k = 5), cache = Some(cache)).get
    assert(!otherK.fromCache)
    // any option that changes the page keys separately too
    val otherOpts = SearchService.search(index, "python tutorial",
      SearchOpts(diversity = false), cache = Some(cache)).get
    assert(!otherOpts.fromCache, "differing SearchOpts shared a cache entry")
    val expanded = SearchService.search(index, "python tutorial",
      expand = true, cache = Some(cache)).get
    assert(!expanded.fromCache, "expand=true shared the non-expanded entry")
    // capacity 2, third distinct key evicts the least-recently-used
    SearchService.search(index, "machine learning", cache = Some(cache))
    assert(cache.size == 2)
  }

  test("invalid queries are rejected by the gate (F9)") {
    assert(SearchService.search(index, "").isEmpty)
    assert(SearchService.search(index, "@#$%").isEmpty)
    assert(SearchService.search(index, "x" * 600).isEmpty)
  }

  test("fallback path fires when the primary search is empty (R6)") {
    // a term that exists only in paths ("src" appears in every path)
    val r = SearchService.search(index, "zzzznotindexed src").get
    assert(r.usedFallback)
    assert(r.totalResults > 0)
  }

  test("no cached DataFrame is left behind: 20 calls with and without a " +
      "query cache, fallback included; totals are the insights of the page") {
    spark.catalog.clearCache()
    val cache = SearchService.newCache()
    val qs = Seq("python tutorial", "machine learning", "zzzznotindexed src",
      "database performance tuning", "react hooks")
    val responses = (0 until 20).map { i =>
      SearchService.search(index, qs(i % qs.size),
        cache = if (i % 2 == 0) Some(cache) else None).get
    }
    assert(responses.exists(_.usedFallback) && responses.exists(!_.usedFallback))
    assert(responses.exists(_.fromCache))
    assert(spark.sharedState.cacheManager.isEmpty,
      "SearchService left cached DataFrames registered")
    responses.foreach { r =>
      val ins = graft.pipeline.Insights.searchInsights(r.results, "repo", "qualityScore", "lang")
        .collect()(0)
      assert(r.totalResults == ins.getAs[Long]("total_results") &&
        r.uniqueRepos == ins.getAs[Long]("unique_domains"), s"'${r.query}': totals")
    }
  }

  test("expansion pulls synonym and fuzzy terms into the term set") {
    val r = SearchService.search(index, "pythn", expand = true, fuzzy = true).get
    assert(r.expandedTerms.contains("python"), s"terms=${r.expandedTerms}")
  }

  test("chunk-level lifecycle: sentence-chunk index, domain diversity, chunk-precedence doc merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.query.ChunkSearch

    // crafted punctuated docs -> the REAL sentence chunker splits each into
    // one chunk per sentence (maxChars below a two-sentence pack)
    val docsAll = Seq(
      ("doc_a1", 0L, "a.org", "Doc A1",
        "alpha alpha alpha beta gamma delta epsilon zeta eta theta iota kappa. " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi stop. " +
        "two three four five six seven eight nine ten eleven twelve thirteen."),
      ("doc_a2", 1L, "a.org", "Doc A2",
        "alpha alpha beta gamma delta epsilon zeta eta theta iota kappa lambda. " +
        "alpha mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega."),
      ("doc_b1", 2L, "b.org", "Doc B1",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu."),
      ("doc_c1", 3L, "c.org", "Doc C1",
        "alpha alpha alpha alpha beta gamma delta epsilon zeta eta theta iota."),
      ("doc_d1", 4L, "d.org", "Doc D1",
        "one two three four five six seven eight nine ten eleven twelve more. " +
        "blue red green yellow purple orange brown black white gray pink cyan. " +
        "north south east west upper lower inner outer first second third last. " +
        "iron gold silver copper zinc nickel cobalt lead tin carbon helium neon.")
    ).toDF("document_id", "num", "domain", "title", "text")

    val chunks = graft.pipeline.TextPipeline.sentenceChunks(
      docsAll, "document_id", "text", maxChars = 90, minChars = 20)
    // 3 + 2 + 1 + 1 + 4 = 11 chunks; 'alpha' appears in 5 -> positive idf
    assert(chunks.count() == 11L, "sentence chunker produced an unexpected chunk count")

    val meta = chunks.join(
      docsAll.select($"document_id", $"num", $"domain"), "document_id")
    val corpus = meta.select(
      ChunkSearch.chunkDocId($"num", $"chunk_index").as("docId"),
      $"domain".as("repo"),
      concat_ws("/", $"domain", $"document_id", $"chunk_index").as("path"),
      lit("en").as("lang"), $"text_chunk".as("content"))
    val dir = "/tmp/graft-test/chunk-service-index"
    IndexBuilder.deleteDir(spark, dir)
    IndexBuilder.build(spark, corpus, dir,
      IndexBuilder.Params(blockSize = 16, docGroupSize = 64L, fields = Seq("content")))
    val cidx = new SearchIndex(spark, dir)

    val chunkMeta = meta.select(
      ChunkSearch.chunkDocId($"num", $"chunk_index").as("docId"),
      $"document_id", $"chunk_index".cast("long").as("chunk_index"),
      $"text_chunk", $"word_count".cast("long").as("word_count"))
    // parent table WITHOUT doc_c1 (merge must drop its hits, the
    // `if document_data:` guard) and with a deliberately wrong doc-level
    // word_count the chunk's value must override (dict-merge precedence)
    val documents = docsAll.filter($"document_id" =!= "doc_c1")
      .select($"document_id", $"domain", $"title", lit(999L).as("word_count"))

    // diversity on, k=4 -> cap 1/domain: page is c1, a1#0, b1, then a2#0 on
    // the fill pass; the merge then drops c1 (parent missing)
    val merged = ChunkSearch.search(cidx, chunkMeta, documents, "alpha",
        SearchOpts(k = 4, overfetch = 3, diversity = true, wand = true),
        docIdCol = "document_id")
      .orderBy($"rank").collect()
    assert(merged.map(_.getAs[String]("_id")).toSeq ==
      Seq("doc_a1", "doc_b1", "doc_a2"),
      s"got ${merged.map(_.getAs[String]("_id")).toSeq}")
    assert(merged.map(_.getAs[Int]("rank")).toSeq == Seq(2, 3, 4),
      "rank must be assigned BEFORE the parent merge (reference flow)")
    // top two surviving domains are distinct (the diversity cap)
    assert(merged.take(2).map(_.getAs[String]("domain")).distinct.length == 2)
    // chunk-field precedence: word_count is the CHUNK's, not the doc's 999
    merged.foreach { r =>
      val wc = r.getAs[Long]("word_count")
      val txt = r.getAs[String]("text_chunk")
      assert(wc == txt.split("\\s+").length.toLong && wc != 999L,
        s"merged word_count $wc is not the chunk's (text=$txt)")
      assert(txt.contains("alpha"))
      assert(r.getAs[String]("title").startsWith("Doc "), "doc-only field lost")
      assert(r.getAs[Double]("chunk_score") == r.getAs[Double]("score"))
    }

    // diversity off: doc_a2 has TWO alpha chunks -> its _id appears twice
    // (one merged row PER CHUNK HIT, reference merge semantics)
    val flat = ChunkSearch.search(cidx, chunkMeta, documents, "alpha",
        SearchOpts(k = 10, overfetch = 3, diversity = false, wand = true),
        docIdCol = "document_id")
      .collect()
    val ids = flat.map(_.getAs[String]("_id")).toSeq
    assert(ids.count(_ == "doc_a2") == 2, s"expected doc_a2 twice, got $ids")
    assert(!ids.contains("doc_c1"), "hit with missing parent survived the merge")
  }
}

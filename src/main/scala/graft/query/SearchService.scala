package graft.query

import graft.pipeline.{QueryIntel, TextPipeline}
import graft.query.QueryEngine.SearchOpts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's full query lifecycle (SURVEY §3.1, GET /api/search,
  * enhanced_search_service.py:412-513) as one in-process call — what took
  * the reference three services and four network hops (backend -> AI runner
  * -> OpenSearch -> mget) is one function over one engine:
  *
  *   1. validate (F9) and spell-correct (X4) the query;
  *   2. classify intent + extract entities (X2/X3) — phase-1 "AI";
  *   3. optionally expand with synonyms (X1) and fuzzy terms (R4 AUTO);
  *   4. primary search (R3-R10) with over-fetch + diversity;
  *   5. fallback query if empty (R6);
  *   6. phase-2 analytics: insights (A1), top domains, template summary (X7).
  *
  * Rerank (X6) stays off by default for rank parity with R8 (SURVEY §7.5).
  *
  * Result caching mirrors the reference's query-result LRU (1000 entries,
  * key `search:{query}:{limit}`, enhanced_search_service.py:352-376): pass
  * `cache = Some(SearchService.newCache())` and repeated queries return the
  * cached Response with `fromCache = true` — the reference's integration
  * matrix (final_integration_test.py:44-63) checks exactly this flag.
  */
object SearchService {

  case class Response(
      query: String,
      correctedQuery: String,
      intent: QueryIntel.Intent,
      entities: QueryIntel.Entities,
      expandedTerms: Seq[String],
      results: DataFrame,
      usedFallback: Boolean,
      totalResults: Long,
      uniqueRepos: Long,
      summary: String,
      fromCache: Boolean = false)

  /** Query-result LRU, keyed by the cache key below. */
  type QueryCache = Lru[String, Response]

  /** A result cache of the reference's size. */
  def newCache(maxEntries: Int = 1000): QueryCache = new Lru(maxEntries)

  def search(index: SearchIndex, rawQuery: String,
      opts: SearchOpts = SearchOpts(),
      expand: Boolean = false, fuzzy: Boolean = false,
      cache: Option[QueryCache] = None): Option[Response] = {
    // reference key SHAPE is search:{query}:{limit}; ours also folds in
    // every option that changes the page (fields/boosts, phrase, wand,
    // diversity, expansion flags) — otherwise one call shape would poison
    // the cache for all others sharing (query, k)
    val cacheKey = s"search:$rawQuery:${opts.k}:${opts.overfetch}:" +
      s"${opts.fields.mkString(",")}:${opts.phraseBoost}:${opts.phraseField}:" +
      s"${opts.wand}:${opts.diversity}:$expand:$fuzzy"
    cache.flatMap(_.get(cacheKey)) match {
      case Some(hit) => return Some(hit.copy(fromCache = true))
      case None => ()
    }
    // 1. validation gate (helpers.py:117-132)
    val out = TextPipeline.validateQuery(rawQuery).map { valid =>
      // 1b. spelling corrections (X4)
      val corrected = QueryIntel.correct(valid)
      // 2. intent + entities (X2/X3)
      val intent = QueryIntel.classifyIntent(corrected)
      val entities = QueryIntel.extractEntities(corrected)
      // 3. expansion: synonyms (X1) and/or fuzzy AUTO (R4)
      val baseTerms = graft.core.Analyzer.distinctQueryTerms(corrected).toSeq
      val expanded = (baseTerms ++
        (if (expand) QueryIntel.expansions(corrected) else Seq.empty) ++
        (if (fuzzy) QueryEngine.fuzzyExpand(index, corrected,
          opts.fields.map(_._1)) else Seq.empty)).distinct
      val effectiveQuery = expanded.mkString(" ")

      // 4. primary search; 5. fallback when empty (R6,
      //    opensearch_service.py:183-186). The <=k-row page is collected
      //    once; the response carries it as a local DataFrame, so nothing
      //    is cached with Spark per call.
      val primary = QueryEngine.search(index, effectiveQuery, opts)
      val primaryRows = primary.collect()
      val usedFallback = primaryRows.isEmpty
      val (schema, rows) =
        if (!usedFallback) (primary.schema, primaryRows)
        else {
          val fb = QueryEngine.fallback(index, corrected, opts)
            .orderBy(col("score").desc, col("docId").asc).limit(opts.k)
          val ranked = index.docs.join(broadcast(fb), Seq("docId"))
            .withColumn("rank", row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("score").desc, col("docId").asc)))
            .select(col("rank"), col("docId"), col("score"), col("repo"),
              col("path"), col("lang"), col("qualityScore"), col("repoScore"))
          (ranked.schema, ranked.collect())
        }
      val page = index.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

      // 6. insights (A1) + template summary (X7), from the collected rows
      //    (Insights.searchInsights' total_results and unique_domains;
      //    top repos as Insights.topDomains: count desc, repo asc, limit 3)
      val total = rows.length.toLong
      val uniqueRepos = rows.iterator.map(_.getAs[String]("repo")).filter(_ != null)
        .distinct.size.toLong
      val pageRows = rows.sortBy(_.getAs[Int]("rank"))
      val topRepos = pageRows.groupBy(_.getAs[String]("repo"))
        .map { case (r, rs) => r -> rs.length.toLong }.toSeq
        .sortBy { case (r, n) => (-n, r) }.take(3)
      val topPath = pageRows.headOption.map(_.getAs[String]("path"))
      val summary = QueryIntel.templateSummary(corrected, total, topRepos, topPath)

      Response(rawQuery, corrected, intent, entities, expanded, page,
        usedFallback, total, uniqueRepos, summary)
    }
    out.foreach(r => cache.foreach(_.put(cacheKey, r)))
    out
  }
}

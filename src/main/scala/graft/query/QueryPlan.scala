package graft.query

import graft.core.Analyzer
import graft.query.QueryEngine.SearchOpts

/** The query setup both tiers score with: the query's distinct terms in
  * ascending order, the searched fields, each (field, term)'s df and
  * weight `boost × idf`, the per-field avgdl, and the phrase arm (gate,
  * terms, idf, upper bound). Built once per query by [[QueryPlan.of]];
  * the distributed plan ships it in its task closures, the serving tier
  * uses it on the calling thread. */
private[query] final case class QueryPlan(
    terms: Array[String],
    fields: Seq[String],
    dfs: Map[(String, String), Long],
    weights: Map[(String, String), Double],
    avgdls: Map[String, Double],
    phraseOn: Boolean,
    phraseTerms: Array[String],
    phraseIdf: Double,
    phraseUb: Double,
    opts: SearchOpts) {
  /** Whether the positions of `(field, term)`'s postings feed the phrase arm. */
  def needsPositions(field: String, term: String): Boolean =
    phraseOn && field == opts.phraseField && phraseTerms.contains(term)
}

private[query] object QueryPlan {
  /** The plan of `query`, or None when it has no term or the dictionary
    * holds none of its (field, term) keys. `stats` is field -> (N, avgdl);
    * `lookup(fields, terms)` returns the df of every key the dictionary
    * holds. */
  def of(query: String, opts: SearchOpts, stats: Map[String, (Long, Double)],
      lookup: (Seq[String], Seq[String]) => Map[(String, String), Long]): Option[QueryPlan] = {
    val terms = Analyzer.distinctQueryTerms(query).sorted
    if (terms.isEmpty) return None
    val fields = opts.fields.map(_._1)
    val dfs = lookup(fields, terms.toSeq)
    if (dfs.isEmpty) return None
    val boosts = opts.fields.toMap
    val weights = dfs.map { case ((f, t), df) =>
      (f, t) -> boosts(f) * BM25.idf(stats(f)._1, df, opts.bm25)
    }
    val avgdls = stats.map { case (f, (_, a)) => f -> a }
    val phraseTerms =
      if (opts.phraseBoost > 0) Analyzer.queryTerms(query) else Array.empty[String]
    val phraseOn = phraseTerms.length >= 2 &&
      phraseTerms.forall(t => dfs.contains((opts.phraseField, t)))
    val phraseIdf =
      if (phraseOn) phraseTerms.map(t => BM25.idf(stats(opts.phraseField)._1,
        dfs((opts.phraseField, t)), opts.bm25)).min
      else 0.0
    // the phrase arm is non-negative, bounded by boost*idf*(k1+1)
    val phraseUb =
      if (phraseOn) math.max(0.0, opts.phraseBoost * phraseIdf * (opts.bm25.k1 + 1.0))
      else 0.0
    Some(QueryPlan(terms, fields, dfs, weights, avgdls, phraseOn, phraseTerms,
      phraseIdf, phraseUb, opts))
  }
}

package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Canonical analyzer shared by index build and query analysis.
  *
  * Semantics (documented divergence-free contract, cf. the reference's two
  * tokenizers — index side Lucene `standard` at indexer/indexer.py:311,334
  * and query side `\b[a-z0-9]+\b` with min term length 3 at
  * ai_search/backend/utils/helpers.py:183-189):
  *
  *   - index side: lowercase, extract maximal `[a-z0-9]+` runs, keep ALL
  *     tokens (length >= 1). Doc length `dl` counts all tokens; positions are
  *     indices into this full token stream (so phrase adjacency is exact).
  *   - query side: same tokenization, then drop terms shorter than
  *     [[Analyzer.MinQueryTermLen]] (reference BM25_MIN_TERM_LENGTH = 3).
  *
  * Both a JVM implementation (for mapPartitions internals + the test oracle)
  * and a Catalyst column form (codegen'd `regexp_extract_all`, identical
  * semantics, also expressible 1:1 in DuckDB for the correctness oracle).
  */
object Analyzer {
  val MinQueryTermLen = 3
  val TokenPattern = "[a-z0-9]+"
  private val tokenRe = TokenPattern.r

  /** Index-side tokenization: all [a-z0-9]+ runs of the lowercased text. */
  def tokenize(text: String): Array[String] =
    if (text == null) Array.empty
    else tokenRe.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toArray

  /** Query-side terms: tokenize, drop short terms, preserve order. */
  def queryTerms(query: String): Array[String] =
    tokenize(query).filter(_.length >= MinQueryTermLen)

  /** Distinct query terms in first-occurrence order (OR semantics, R3/R4). */
  def distinctQueryTerms(query: String): Array[String] =
    queryTerms(query).distinct

  /** Catalyst form of [[tokenize]]: array<string> of all tokens. Native
    * one-pass byte scan (graft.functions.TokenRuns) over Spark's own
    * `lower()` — the build's hottest pass; bitwise-identical to
    * [[tokensColRegex]] (FunctionsSpec differential). */
  def tokensCol(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.TokenRuns(
      ColumnBridge.expression(lower(c))))
  }

  /** The regexp formulation — the semantics source and differential
    * baseline for [[tokensCol]] (also what the DuckDB oracle restates). */
  def tokensColRegex(c: Column): Column =
    regexp_extract_all(lower(c), lit(TokenPattern), lit(0))

  /** Catalyst form of doc length (all tokens). */
  def dlCol(c: Column): Column = size(tokensCol(c))
}

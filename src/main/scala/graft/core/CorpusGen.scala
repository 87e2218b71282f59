package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic source-code corpus generator (FIXTURES.md §1).
  *
  * Every row is a pure function of (seed, rowId) via a splitmix64-style
  * mixer, so the table is identical at any parallelism level — the property
  * the two-parallelism scaling runs and the local[2]-vs-local[8]
  * rank-identity tests rely on.
  *
  * Token distribution: Zipfian identifier vocabulary + a hot set of code
  * stop-words (exercises the docGroup-segmented skew path, cf. the
  * reference's stopword lists data_pipeline/hybrid_processor.py:90-124) +
  * planted occurrences of the 12 reference queries' terms at controlled tf
  * so top-k fixtures are hand-checkable (BASELINE.md query set).
  */
object CorpusGen {

  /** Hot code stop-words — the skew seed set. */
  val StopWords: Array[String] = Array(
    "the", "if", "else", "return", "import", "def", "class", "public",
    "static", "void", "int", "val", "var", "for", "while", "new", "this",
    "null", "true", "false")

  /** Terms of the 12 reference queries (BASELINE.md). */
  val QueryTerms: Array[String] = Array(
    "python", "tutorial", "javascript", "async", "await", "machine",
    "learning", "basics", "react", "hooks", "usestate", "optimization",
    "algorithms", "database", "performance", "tuning", "programming")

  val Langs: Array[String] = Array("scala", "java", "python", "rust", "js", "md")

  private val VocabSize = 5000

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Zipfian-ish vocabulary pick: rank r with probability ~ 1/(r+1). */
  private def zipfPick(u: Double): Int = {
    // inverse CDF of p(r) ~ 1/(r+1) over [0, VocabSize): r = V^u - 1
    val r = math.pow(VocabSize.toDouble, u) - 1.0
    math.min(VocabSize - 1, math.max(0, r.toInt))
  }

  def hexString(seed: Long, nibbles: Int): String = {
    val sb = new StringBuilder(nibbles)
    var s = seed
    var i = 0
    while (i < nibbles) {
      if (i % 16 == 0) s = mix64(s + i)
      sb.append(java.lang.Long.toHexString((s >>> ((i % 16) * 4)) & 0xf))
      i += 1
    }
    sb.toString
  }

  /** Unplanted filler document: (h0, repo, lang, path, commit, filler-sb).
    * Shared by [[row]] (flat planting) and [[rowSkewed]] (Zipfian
    * planting) so both corpora share everything except the planted tf. */
  private def fillerParts(seed: Long, id: Long, minTokens: Int = 40,
      spanTokens: Int = 260): (Long, String, String, String, String, StringBuilder) = {
    val h0 = mix64(seed ^ mix64(id))
    val repo = s"org${java.lang.Long.remainderUnsigned(h0, 40)}/proj-${java.lang.Long.remainderUnsigned(mix64(h0), 160)}"
    val lang = Langs((java.lang.Long.remainderUnsigned(mix64(h0 + 1), Langs.length.toLong)).toInt)
    val path = s"src/${java.lang.Long.remainderUnsigned(mix64(h0 + 2), 20)}/file_${id}.${lang}"
    val commit = hexString(h0 + 3, 40)

    val nTokens = minTokens +
      (java.lang.Long.remainderUnsigned(mix64(h0 + 4), spanTokens.toLong)).toInt
    val sb = new StringBuilder(nTokens * 8)
    var i = 0
    while (i < nTokens) {
      val r = mix64(h0 + 100 + i)
      val u = (r >>> 11).toDouble / (1L << 53).toDouble // uniform [0,1)
      val tok =
        if (u < 0.30) StopWords((java.lang.Long.remainderUnsigned(mix64(r), StopWords.length.toLong)).toInt)
        else s"id${zipfPick((u - 0.30) / 0.70)}"
      if (i > 0) sb.append(' ')
      sb.append(tok)
      i += 1
    }
    (h0, repo, lang, path, commit, sb)
  }

  /** Generate row `id` under `seed` (pure, deterministic). */
  def row(seed: Long, id: Long): SourceFile = {
    val (_, repo, lang, path, commit, sb) = fillerParts(seed, id)
    // Planted relevance: doc `id` hosts query-term qi = id % 23 when
    // id % 23 < QueryTerms.length, repeated (1 + id % 5) times.
    val qi = (id % 23).toInt
    if (qi < QueryTerms.length) {
      val reps = 1 + (id % 5).toInt
      var j = 0
      while (j < reps) { sb.append(' ').append(QueryTerms(qi)); j += 1 }
      // every third planted doc also gets the *next* term, creating
      // multi-term matches for two-word queries
      if (id % 3 == 0 && qi + 1 < QueryTerms.length)
        sb.append(' ').append(QueryTerms(qi + 1))
    }
    val content = sb.toString
    SourceFile(repo, path, commit, lang, content, sha256Hex(content))
  }

  /** Bench-only variant of [[row]] with a ZIPFIAN, docId-DECAYING planted
    * tf: the reference-query corpus above plants query terms at flat tf
    * 1-5, which makes every posting block's upper bound alike — block-max
    * WAND then has nothing to prune at block grain on the reference queries
    * (the round-2 finding; see BASELINE.md's tf-flat analysis). Real engines
    * are different in two ways reproduced here:
    *
    *  1. tf is heavy-tailed (reps ~ u^-1.2, capped 64), so per-block maxTf
    *     varies; multi-term docs get the heavy tail on BOTH terms, so the
    *     top-k floor is set by genuinely strong documents;
    *  2. docIds correlate with document strength (standard docid-reordering
    *     / impact-ordering practice: crawl quality ranks assign low ids to
    *     strong pages), modeled as a 1/(1+id/5000) decay of the tail — so
    *     late docGroups are provably weak and the group/block bounds
    *     actually prune.
    *
    * BM25's tf saturation (k1=1.2) plus the block bound's minDl optimism
    * means UNIFORMLY scattered high-tf docs leave every block's bound
    * within a hair of the floor — measured skip ratio exactly 0.0 even at
    * 100k docs when the flat 1-5 base planting remains. So this generator
    * OWNS the planting: late docs carry tf 1 (occasionally 2), early docs
    * the heavy tail — the decay is what makes block-grain pruning
    * physically possible, exactly as impact-ordered indexes intend.
    * The GATE corpus is untouched — oracle fixtures survive. */
  def rowSkewed(seed: Long, id: Long): SourceFile = {
    // narrow filler-length band (150-250 tokens): the block upper bound
    // uses the block's MIN dl, so one 40-token outlier per block would
    // inflate every bound; similar-length source files keep bounds honest
    val (h0, repo, lang, path, commit, sb) = fillerParts(seed, id, 150, 100)
    val qi = (id % 23).toInt
    if (qi < QueryTerms.length) {
      // the decay bounds the CAP (not just the draw): a heavy tail merely
      // scaled down still hands one tf-45 doc to every late block — one
      // strong posting per block is all it takes to lift every bound back
      // to the floor. Impact ordering means late ids CANNOT be strong.
      val decay = 1.0 + id.toDouble / 5000.0
      val u = math.max(1e-9, (mix64(h0 + 5) >>> 11).toDouble / (1L << 53).toDouble)
      val r1 = math.max(1.0, math.min(64.0 / decay, math.pow(u, -1.2))).toInt
      var j = 0
      while (j < r1) { sb.append(' ').append(QueryTerms(qi)); j += 1 }
      // multi-term docs are strong on ALL their terms (hub pages):
      // correlated reps, so the top-k floor for 2- AND 3-term queries is
      // set by genuinely strong documents (without triple co-occurrence a
      // 3-term query's floor stays pair-level, always below the 3-term
      // bound sums, and nothing can ever prune)
      if (id % 3 == 0 && qi + 1 < QueryTerms.length) {
        var k = 0
        while (k < r1) { sb.append(' ').append(QueryTerms(qi + 1)); k += 1 }
        if (id % 9 == 0 && qi + 2 < QueryTerms.length) {
          var m = 0
          while (m < r1) { sb.append(' ').append(QueryTerms(qi + 2)); m += 1 }
        }
      }
    }
    val content = sb.toString
    SourceFile(repo, path, commit, lang, content, sha256Hex(content))
  }

  /** Skewed-corpus DF with dense docIds (bench + WAND fuzz only). */
  def generateSkewedDF(spark: SparkSession, n: Long, seed: Long = 42L,
      partitions: Int = 0): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val base =
      if (partitions > 0) spark.range(0L, n, 1L, partitions) else spark.range(n)
    base.map(id => (id, rowSkewed(seed, id)))
      .select(org.apache.spark.sql.functions.col("_1").as("docId"),
        org.apache.spark.sql.functions.col("_2.*"))
  }

  def sha256Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Distributed generation: spark.range is splittable; each row depends
    * only on its id, so partitioning never changes content. */
  def generate(spark: SparkSession, n: Long, seed: Long = 42L,
      partitions: Int = 0): Dataset[SourceFile] = {
    import spark.implicits._
    val base =
      if (partitions > 0) spark.range(0L, n, 1L, partitions) else spark.range(n)
    base.map(id => row(seed, id))
  }

  /** Same corpus WITH a dense deterministic docId (= row index) — the id
    * shape the engine's range-based docGroup partitioning and incremental
    * appends are designed around (an Iceberg ingest would assign these
    * once at write time). */
  def generateDF(spark: SparkSession, n: Long, seed: Long = 42L,
      partitions: Int = 0): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val base =
      if (partitions > 0) spark.range(0L, n, 1L, partitions) else spark.range(n)
    base.map(id => (id, row(seed, id)))
      .select(org.apache.spark.sql.functions.col("_1").as("docId"),
        org.apache.spark.sql.functions.col("_2.*"))
  }
}

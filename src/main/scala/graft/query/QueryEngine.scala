package graft.query

import graft.core.Analyzer
import graft.index.{BlockRow, Codec, IndexBuilder}
import graft.io.{DataFile, DirectTable}
import graft.query.LocalSearcher.{DocMeta, Hit}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Handle to a built index (IndexBuilder layout). Dictionary lookups,
  * corpus stats and page metadata are tiny; they are read directly from the
  * table files on the driver (no Spark job), once / per query, and shipped
  * in task closures (the reference's "broadcast stats" shape, SURVEY §2.11).
  * The tombstones are loaded once, at open: a newly opened handle sees
  * deletes committed after an older one opened. */
class SearchIndex(val spark: SparkSession, val dir: String,
    val io: graft.io.TableIO = graft.io.ParquetTableIO,
    // broadcast budget for the tombstone membership view (VERDICT r5 item
    // #6): above it, loadSet returns an over-budget marker and candidates()
    // falls back to the declarative anti-join path — identical results,
    // no driver/executor-resident set (DeleteSpec exercises the fallback)
    val maxBroadcastTombstones: Long = SearchIndex.MaxBroadcastTombstones) {
  private val layout = IndexBuilder.Layout(dir)
  graft.index.FormatVersion.require(spark, dir)
  // crash-recovery sweep: a _pending_expiry marker means a Retention expiry
  // died between its partition deletes and the derived-table refresh — the
  // derived df/avgdl would silently reference expired segments; a
  // _pending_compaction marker means a segment merge died mid-swap (rolled
  // back or forward depending on its commit phase). One fs.exists each per
  // index open (no-op in the common case).
  graft.index.Retention.recoverPendingExpiry(spark, dir, io)
  graft.index.Compaction.recoverPendingCompaction(spark, dir, io)

  /** Tombstone membership view (graft.index.Deletes — Lucene live-docs
    * semantics): loaded and broadcast ONCE per index open, never per query;
    * its size is bounded by delete-rate × merge-interval (compaction
    * applies + GCs tombstones), not corpus size. A handle sees the
    * tombstones committed before it opened; a newly opened [[SearchIndex]]
    * sees later ones — same single-writer posture as every other index
    * mutation. */
  private[query] val deletesBroadcast
      : org.apache.spark.broadcast.Broadcast[graft.index.DeleteSet] =
    spark.sparkContext.broadcast(graft.index.Deletes.loadSet(spark, dir, io = io,
      maxEntries = maxBroadcastTombstones))
  def deletes: graft.index.DeleteSet = deletesBroadcast.value
  /** The tombstone table as a DataFrame, for declarative anti-joins
    * (fallback wildcard arm). */
  private[query] def tombstonesDf: Option[DataFrame] =
    graft.index.Deletes.df(spark, dir, io)

  /** One listing per table ([[graft.io.TableIO.files]]), taken on first
    * use and kept for the life of the handle: each table's Spark DataFrame
    * and its direct reader are built from it, so the distributed plan and
    * the serving reads of one handle scan the same snapshot, and neither
    * plans a DataFrame to find its files. */
  private lazy val docsListing = io.files(spark, layout.docs)
  private lazy val postingsListing = io.files(spark, layout.postings)
  private lazy val dictionaryListing = io.files(spark, layout.dictionary)
  lazy val docs: DataFrame = docsListing.toDF(spark)
  lazy val postings: DataFrame = postingsListing.toDF(spark)
  lazy val dictionary: DataFrame = dictionaryListing.toDF(spark)
  /** The same three tables read directly on the caller's thread: the
    * serving reads ([[lookup]], [[pageProbe]], the serving tier's block
    * fetch) run no Spark job and plan no DataFrame. */
  private[graft] lazy val docsTable = new DirectTable(docsListing)
  private[graft] lazy val postingsTable = new DirectTable(postingsListing)
  private[graft] lazy val dictionaryTable = new DirectTable(dictionaryListing)
  /** termBucket count of the bucketed dictionary layout (None on an index
    * whose full refresh predates it / crashed mid-write — probes then fall
    * back to tlen-only pruning, correct but less pruned). */
  lazy val dictBuckets: Option[Int] =
    graft.index.IndexBuilder.dictBucketCount(spark, dir, io)
  /** field -> (N, avgdl) */
  lazy val stats: Map[String, (Long, Double)] =
    new DirectTable(io.files(spark, layout.stats)).rows(Seq("field", "n", "avgdl"))
      .map(r => r(0).asInstanceOf[String] ->
        (r(1).asInstanceOf[Long], r(2).asInstanceOf[Double])).toMap

  /** Posting blocks decoded across queries on this index — executor-side
    * decodes (WAND and exhaustive) report back through the accumulator, so
    * the bench can show the WAND decode drop as a measured counter. */
  val blocksDecoded: org.apache.spark.util.LongAccumulator =
    spark.sparkContext.longAccumulator("graft.blocksDecoded")

  /** Optional query-service mode: pin postings and docs in executor
    * memory (the resident-index posture of the reference's OpenSearch
    * node), so a distributed search scans no file. Off by default. The
    * dictionary is not pinned: [[lookup]] reads the query terms'
    * partitions directly on the driver, with no Spark job, warm or not. */
  def warm(): this.type = {
    postings.cache().count()
    docs.cache().count()
    this
  }

  /** (field, term) -> df: a direct read of the query terms' dictionary
    * partitions — tlen IS the dictionary's partition
    * column, so probing with the query terms' lengths prunes to O(distinct
    * term lengths) partitions before the term filter runs (same trick as
    * fuzzyExpand's length bands). Pruning is EXACT-PAIR: each term
    * contributes its own (tlen, termBucket) pair, never the
    * |lens| × |buckets| cross product — the probe reads at most |terms|
    * directories of a 10^9-term dictionary.
    *
    * The termBucket pruning level is an optimization with a VERIFIED
    * fallback: `dictionary` and `dictBuckets` come from two separate table
    * reads, so a full refresh that RE-PROVISIONS the bucket count between
    * them would make the pruned probe address the pinned snapshot with the
    * wrong bucket assignment — terms the probe misses are therefore
    * re-probed through the tlen band alone (the pre-bucket plan), so a
    * mispruned term is never silently dropped from scoring. Cost: terms
    * genuinely absent from the corpus pay one banded probe per lookup —
    * exactly the cost every lookup paid before bucket pruning existed
    * (and LocalSearcher's dfs cache remembers absence across queries). */
  def lookup(fields: Seq[String], terms: Seq[String]): Map[(String, String), Long] = {
    if (terms.isEmpty) return Map.empty
    def probe(ts: Seq[String], partition: DataFile => Boolean) =
      dictionaryTable.rows(Seq("field", "term", "df"),
        Seq(DirectTable.In("field", fields), DirectTable.In("term", ts)), partition)
        .map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[String]) ->
          r(2).asInstanceOf[Long]).toMap
    def band(ts: Seq[String]): DataFile => Boolean = {
      val lens = ts.map(_.length).toSet
      f => lens.contains(f.int("tlen"))
    }
    dictBuckets match {
      case None => probe(terms, band(terms))
      case Some(b) =>
        val pairs = terms.map(t => (t.length, IndexBuilder.termBucketOf(t, b))).toSet
        val probed = probe(terms, f => pairs.contains((f.int("tlen"), f.int("termBucket"))))
        val missing = terms.filter(t => !fields.exists(f => probed.contains((f, t))))
        if (missing.isEmpty) probed else probed ++ probe(missing, band(missing))
    }
  }

  /** The doc metadata of a page of ids, read directly from the docs table
    * (`docId IN ids` pushed to the row groups and pages): the page read of
    * [[QueryEngine.search]] and of the serving tier's `docsOf`. `shard`
    * keeps only a serving shard's docGroups. */
  private[graft] def pageProbe(ids: Seq[Long], shard: Option[(Int, Int)] = None)
      : Map[Long, DocMeta] =
    docsTable.rows(Seq("docId", "repo", "path", "lang", "qualityScore", "repoScore"),
      Seq(DirectTable.In("docId", ids)), DirectTable.inShard(shard))
      .map(r => r(0).asInstanceOf[Long] -> DocMeta(r(1).asInstanceOf[String],
        r(2).asInstanceOf[String], r(3).asInstanceOf[String],
        r(4).asInstanceOf[Double], r(5).asInstanceOf[Double])).toMap
}

object SearchIndex {
  /** Per-open broadcast budget for the tombstone membership view; above
    * it, queries route deletes through the declarative anti-join path. */
  val MaxBroadcastTombstones: Long = 10000000L
}

object QueryEngine {

  /** Query options mirroring the reference search shape
    * (opensearch_service.py:173-239):
    * fields+boosts = multi_match R4; phraseBoost = match_phrase R5;
    * overfetch ×3 = R7; diversity cap = R9; k = page size. */
  case class SearchOpts(
      k: Int = 10,
      overfetch: Int = 3,
      fields: Seq[(String, Double)] = Seq("content" -> 1.0),
      phraseBoost: Double = 0.0,   // reference uses 2.0 on the text field
      phraseField: String = "content",
      // block-max WAND is the default path (differential-proven identical
      // to exhaustive — EngineSpec/BigDiff); exhaustive survives as the
      // oracle baseline for tests and the q13 gate differential.
      wand: Boolean = true,
      diversity: Boolean = true,
      bm25: BM25.Params = BM25.Params())

  /** Engine semantics (fixed so distributed, WAND, oracle and SQL agree):
    *  1. candidates = OR over distinct query terms, score = sum of
    *     boost*idf*tfNorm in ascending (field, term) order (+ phrase arm);
    *  2. top-(k*overfetch) candidates by (score desc, docId asc), joined
    *     to their doc metadata (R10; a candidate without a docs row drops);
    *  3. R8 composite sort (score, qualityScore, repoScore, docId);
    *  4. R9 repo-diversity two-pass greedy, cap max(1, k/3);
    *  5. limit k, ranked from 1.
    * The metadata join and steps 3-5 are [[paginate]], which the serving
    * tier runs too.
    *
    * Result columns: rank, docId, score, repo, path, lang, qualityScore,
    * repoScore.
    */
  def search(index: SearchIndex, query: String, opts: SearchOpts = SearchOpts()): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    val cand = candidates(index, query, opts)
    // top-m by (score desc, docId asc): TakeOrderedAndProject — no full sort
    val top = cand.orderBy($"score".desc, $"docId".asc).limit(opts.k * opts.overfetch)
      .as[(Long, Double)].collect().toSeq
    // R10 metadata for the ≤ m page ids, as a PRUNED direct read (no Spark
    // job): `docId IN (page ids)` reaches the row-group stats and page
    // index of the docId-sorted docs files, so the read touches a few pages
    val metas = if (top.isEmpty) Map.empty[Long, DocMeta]
      else index.pageProbe(top.map(_._1))
    paginate(top, metas, opts).toDF()
  }

  /** The page of both tiers. `top` (the ≤ m candidates) is joined to its
    * metadata; a candidate without a metadata row is dropped. Then the R8
    * composite sort (score, qualityScore, repoScore desc; docId asc), the
    * R9 two-pass greedy repo diversity with cap max(1, k/3)
    * (opensearch_service.py:111-143), and the first k, ranked from 1. */
  private[query] def paginate(top: Seq[(Long, Double)],
      metas: Map[Long, DocMeta], opts: SearchOpts): Seq[Hit] = {
    val composite = top.flatMap { case (d, s) => metas.get(d).map(m => (d, s, m)) }
      .sortBy { case (d, s, m) => (-s, -m.qualityScore, -m.repoScore, d) }
    val page =
      if (!opts.diversity) composite.take(opts.k)
      else {
        val cap = math.max(1, opts.k / 3)
        val counts = scala.collection.mutable.Map[String, Int]()
        val pass0 = scala.collection.mutable.ArrayBuffer[(Long, Double, DocMeta)]()
        val pass1 = scala.collection.mutable.ArrayBuffer[(Long, Double, DocMeta)]()
        composite.foreach { h =>
          val c = counts.getOrElse(h._3.repo, 0)
          if (c < cap) { counts(h._3.repo) = c + 1; pass0 += h } else pass1 += h
        }
        (pass0 ++ pass1).take(opts.k).toSeq
      }
    page.zipWithIndex.map { case ((d, s, m), i) =>
      Hit(i + 1, d, s, m.repo, m.path, m.lang, m.qualityScore, m.repoScore)
    }
  }

  /** Lucene AUTO edit-distance budget: 0 for len<3, 1 for 3-5, 2 for >=6. */
  private def autoMaxD(t: String): Int =
    if (t.length < 3) 0 else if (t.length <= 5) 1 else 2

  /** Pigeonhole segments for edit distance d (the PassJoin partition
    * scheme, Li/Deng/Feng, VLDB'12): split t into d+1 contiguous pieces of
    * near-equal length. ed(s,t) <= d implies s contains at least one piece
    * VERBATIM — d edits can touch at most d of the d+1 pieces. */
  private[graft] def pigeonholeSegments(t: String, d: Int): Seq[String] = {
    val n = d + 1
    val base = t.length / n
    val rem = t.length % n
    val lens = Seq.tabulate(n)(i => base + (if (i < rem) 1 else 0))
    lens.scanLeft(0)(_ + _).zip(lens).collect {
      case (off, l) if l > 0 => t.substring(off, off + l)
    }
  }

  /** The banded candidate set a fuzzy probe runs levenshtein over:
    * tlen-partition-pruned, field-filtered and — by default — pigeonhole-
    * prefiltered (`term` must contain one of each query term's d+1
    * segments; a necessary condition for edit distance, so the expansion
    * result is provably unchanged). Substring containment is a codegen'd
    * byte scan; levenshtein is an O(|s|·|t|) DP table — at a 10^9-term
    * vocabulary a tlen band is still millions of terms, and this is the
    * difference between running the DP on all of them and on the few that
    * share a segment. Exposed so PlanSpec and Bench can count the rows
    * entering levenshtein with and without the prefilter. */
  def fuzzyCandidates(index: SearchIndex, terms: Seq[String],
      fields: Seq[String], prefilter: Boolean = true): DataFrame = {
    val lens: Seq[Any] = terms
      .flatMap(t => (t.length - autoMaxD(t)) to (t.length + autoMaxD(t)))
      .filter(_ >= 1).distinct
    val cond = terms.map { t =>
      val band = abs(col("tlen") - t.length) <= autoMaxD(t)
      if (!prefilter) band
      else band && pigeonholeSegments(t, autoMaxD(t))
        .map(col("term").contains(_): Column).reduce(_ || _)
    }.reduce(_ || _)
    index.dictionary
      .filter(col("tlen").isin(lens: _*)) // partition pruning on tlen
      .filter(col("field").isin(fields: _*)).filter(cond)
  }

  /** Fuzziness AUTO term expansion (R4 `fuzziness: AUTO`,
    * opensearch_service.py:209): expand each query term to dictionary
    * terms within its edit-distance budget.
    *
    * Scale shape: the dictionary is PARTITIONED by tlen = length(term)
    * (IndexBuilder), and |len(cand) - len(t)| <= maxD is an exact necessary
    * condition for edit distance — so the probe is partition-pruned to
    * O(matching length bands), never a scan of a 10^9-term vocabulary; the
    * pigeonhole segment prefilter (fuzzyCandidates) then bounds how many
    * banded terms reach the levenshtein DP.
    * Returns distinct expanded terms (original terms included). */
  def fuzzyExpand(index: SearchIndex, query: String,
      fields: Seq[String] = Seq("content")): Seq[String] = {
    val terms = Analyzer.distinctQueryTerms(query)
    if (terms.isEmpty) return Seq.empty
    val lev = terms.map { t =>
      abs(col("tlen") - t.length) <= autoMaxD(t) &&
        levenshtein(col("term"), lit(t)) <= autoMaxD(t)
    }.reduce(_ || _)
    val expanded = fuzzyCandidates(index, terms.toSeq, fields)
      .filter(lev)
      .select("term").distinct().collect().map(_.getString(0)).toSeq
    (terms.toSeq ++ expanded).distinct
  }

  /** Search with fuzzy term expansion — query-shaping, so the core search
    * semantics (and its rank-identity guarantees) are untouched. */
  def searchFuzzy(index: SearchIndex, query: String,
      opts: SearchOpts = SearchOpts()): DataFrame =
    search(index, fuzzyExpand(index, query, opts.fields.map(_._1)).mkString(" "),
      opts.copy(phraseBoost = 0.0))

  /** Fallback query (R6 shape): path^2.0 + content, plus a path-substring
    * "wildcard" arm at a fixed epsilon score; used when the primary search
    * is empty (opensearch_service.py:241-261).
    *
    * The wildcard arm is DOUBLY bounded: its output is top-(k*overfetch)
    * docIds via TakeOrderedAndProject (never more than a page), and the
    * scan itself only runs when the corpus is at most `wildcardMaxDocs`
    * (checked against the already-resident stats — no extra job). Above
    * the guard the arm is skipped entirely: a substring scan of 10^12
    * paths per fallback query is the one plan shape that cannot be made
    * scale-safe (it is what the reference's OpenSearch `wildcard url *q*`
    * degrades to as well), and the INDEXED form of the same intent — the
    * relaxed path-field arm above, path tokens being a first-class postings
    * field — still runs. */
  def fallback(index: SearchIndex, query: String, opts: SearchOpts = SearchOpts(),
      wildcardMaxDocs: Long = 10000000L): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    val relaxed = opts.copy(fields = Seq("path" -> 2.0, "content" -> 1.0),
      phraseBoost = 0.0)
    val scored = candidates(index, query, relaxed)
    val needle = query.toLowerCase(java.util.Locale.ROOT).trim
    val corpusDocs = index.stats.values.headOption.map(_._1).getOrElse(0L)
    // wildcard arm scans the docs table directly, so tombstoned docs must
    // be excluded declaratively (anti-join; the indexed arm above excludes
    // them at scoring time like every other path)
    val wildBase = index.tombstonesDf match {
      case Some(t) => index.docs.join(t.select($"docId"), Seq("docId"), "left_anti")
      case None => index.docs
    }
    val scoredAndWild =
      if (corpusDocs > wildcardMaxDocs) scored
      else scored.unionByName(wildBase
        .filter(lower($"path").contains(needle))
        .select($"docId").orderBy($"docId").limit(opts.k * opts.overfetch)
        .withColumn("score", lit(0.1)))
    scoredAndWild.groupBy($"docId").agg(max($"score").as("score"))
  }

  /** Scored candidate set (docId, score) — OR semantics over distinct query
    * terms (R3), multi-field boosts (R4), optional phrase (R5). Exhaustive
    * and WAND paths are score- and rank-identical (differential-tested). */
  def candidates(index: SearchIndex, query: String, opts: SearchOpts): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    val plan = QueryPlan.of(query, opts, index.stats, index.lookup) match {
      case Some(p) => p
      case None => return spark.emptyDataset[(Long, Double)].toDF("docId", "score")
    }
    val blocks = index.postings
      .filter(col("field").isin(plan.fields: _*) && col("term").isin(plan.terms.toSeq: _*))
      .select(col("field"), col("term"), col("docGroup").cast("long").as("docGroup"),
        col("blockIdx"), col("firstDocId"), col("lastDocId"), col("n"),
        col("sumTf"), col("maxTf"), col("minTf"), col("minDl"), col("maxDl"),
        col("bytes"))
      .as[BlockRow]

    if (index.deletes.overBudget) {
      // tombstones exceeded the broadcast budget (VERDICT r5 item #6):
      // score with NO membership set and drop tombstoned docs with a
      // declarative anti-join instead — result-identical (WAND and
      // exhaustive are rank-identical, and the anti-join removes exactly
      // the docs the scoring-time membership skip would have), with no
      // driver/executor-resident tombstone structure (DeleteSpec).
      val scored = exhaustiveCandidates(spark, blocks, plan, index.blocksDecoded, null)
      index.tombstonesDf match {
        case Some(t) => scored.join(t.select(col("docId")), Seq("docId"), "left_anti")
        case None => scored
      }
    } else if (opts.wand)
      wandCandidates(spark, blocks, plan, index.blocksDecoded, index.deletesBroadcast)
    else
      exhaustiveCandidates(spark, blocks, plan, index.blocksDecoded, index.deletesBroadcast)
  }

  /** Phrase tfNorm arm shared by all paths (fixed op order). Phrase term
    * `i`'s positions are the slice `pos(i)[from(i), to(i))`; a null
    * `pos(i)` means the doc lacks that term. */
  private[query] def phraseScore(pos: Array[Array[Int]], from: Array[Int],
      to: Array[Int], dl: Int, avgdl: Double, pb: Double, phraseIdf: Double,
      p: BM25.Params): Double = {
    var i = 0
    while (i < pos.length) { if (pos(i) == null) return 0.0; i += 1 }
    val occ = countPhrase(pos, from, to)
    if (occ == 0) 0.0
    else pb * phraseIdf *
      (occ * (p.k1 + 1.0) / (occ + p.k1 * (1.0 - p.b + p.b * dl / avgdl)))
  }

  /** [[phraseScore]] over whole per-term position arrays. */
  private[query] def phraseScore(pTerms: Array[String], byTerm: Map[String, Array[Int]],
      dl: Int, avgdl: Double, pb: Double, phraseIdf: Double, p: BM25.Params): Double = {
    val pos = pTerms.map(t => byTerm.getOrElse(t, null))
    phraseScore(pos, new Array[Int](pos.length),
      pos.map(a => if (a == null) 0 else a.length), dl, avgdl, pb, phraseIdf, p)
  }

  /** Occurrences of the phrase: start positions `p0` of term 0 such that
    * term `i` occurs at `p0 + i` for every `i`. Term `i`'s ascending
    * positions are the slice `pos(i)[from(i), to(i))`. */
  def countPhrase(pos: Array[Array[Int]], from: Array[Int], to: Array[Int]): Int = {
    val first = pos(0)
    var occ = 0
    var k = from(0)
    while (k < to(0)) {
      val p0 = first(k)
      var ok = true
      var i = 1
      while (ok && i < pos.length) {
        if (java.util.Arrays.binarySearch(pos(i), from(i), to(i), p0 + i) < 0) ok = false
        i += 1
      }
      if (ok) occ += 1
      k += 1
    }
    occ
  }

  /** [[countPhrase]] over whole per-term position arrays; every phrase
    * term must be present in `byTerm`. */
  def countPhrase(pTerms: Array[String], byTerm: Map[String, Array[Int]]): Int = {
    val pos = pTerms.map(byTerm)
    countPhrase(pos, new Array[Int](pos.length), pos.map(_.length))
  }

  // ---------------------------------------------------------------- exhaustive

  private def exhaustiveCandidates(spark: SparkSession, blocks: Dataset[BlockRow],
      plan: QueryPlan, decodeAcc: org.apache.spark.util.LongAccumulator,
      deletesBc: org.apache.spark.broadcast.Broadcast[graft.index.DeleteSet]): DataFrame = {
    import spark.implicits._
    val p = plan.opts.bm25
    val pf = plan.opts.phraseField
    val acc = Option(decodeAcc)
    val delBc = Option(deletesBc)

    // (docId, field, term, contrib, dl, positions); tombstoned docs dropped
    // at decode (Deletes semantics: excluded from candidates, stats stale
    // until purge)
    val decoded: Dataset[(Long, String, String, Double, Int, Seq[Int])] =
      blocks.flatMap { b =>
        val avgdl = plan.avgdls(b.field)
        val w = plan.weights((b.field, b.term))
        val keepPos = plan.needsPositions(b.field, b.term)
        val dels = delBc.map(_.value).getOrElse(graft.index.DeleteSet.empty)
        acc.foreach(_.add(1L))
        Codec.decodeBlock(b.firstDocId, b.bytes).iterator
          .filter(post => !dels.contains(b.docGroup, post.docId))
          .map { post =>
            (post.docId, b.field, b.term,
              w * BM25.tfNorm(post.tf, post.dl, avgdl, p), post.dl,
              if (keepPos) post.positions.toSeq else Seq.empty[Int])
          }
      }

    decoded.groupByKey(_._1).mapGroups { (docId, it) =>
      val rows = it.toArray.sortBy(d => (d._2, d._3))
      var score = 0.0
      rows.foreach(d => score += d._4) // ascending (field, term) order
      if (plan.phraseOn) {
        val byTerm = rows.iterator
          .filter(d => d._2 == pf && d._6.nonEmpty)
          .map(d => d._3 -> d._6.toArray).toMap
        val dl = rows.find(_._2 == pf).map(_._5).getOrElse(0)
        score += phraseScore(plan.phraseTerms, byTerm, dl, plan.avgdls(pf),
          plan.opts.phraseBoost, plan.phraseIdf, p)
      }
      (docId, score)
    }.toDF("docId", "score")
  }

  // ---------------------------------------------------------------- WAND

  /** Block-max WAND (SURVEY §7.3, north_rule): per docGroup, a
    * document-at-a-time merge over term cursors with (a) whole-group skip
    * when the group's total upper bound can't beat the heap floor, (b)
    * pivot-based advance that skips blocks by lastDocId without decoding.
    * Per-partition bounded top-m heaps; global top-m via
    * TakeOrderedAndProject in [[search]]. Pruning uses STRICT
    * less-than so equal-score/smaller-docId boundary candidates are still
    * scored — required for exact rank identity with the exhaustive path. */
  private def wandCandidates(spark: SparkSession, blocks: Dataset[BlockRow],
      plan: QueryPlan, decodeAcc: org.apache.spark.util.LongAccumulator,
      deletesBc: org.apache.spark.broadcast.Broadcast[graft.index.DeleteSet]): DataFrame = {
    import spark.implicits._
    val m = plan.opts.k * plan.opts.overfetch
    val acc = Option(decodeAcc)
    val delBc = Option(deletesBc)

    blocks
      .repartition(col("docGroup"))
      .sortWithinPartitions("docGroup", "field", "term", "firstDocId", "blockIdx")
      .mapPartitions { it =>
        val onDecode: () => Unit = () => acc.foreach(_.add(1L))
        val dels = delBc.map(_.value).getOrElse(graft.index.DeleteSet.empty)
        val heap = new BoundedTopK(m)
        val grouped = new GroupIterator(it)
        while (grouped.hasNext)
          scoreGroup(grouped.next(), plan, heap, onDecode, dels)
        heap.results.iterator
      }
      .toDF("docId", "score")
  }

  /** Iterator over runs of equal docGroup (input sorted by docGroup). */
  private final class GroupIterator(it: Iterator[BlockRow])
      extends Iterator[Seq[BlockRow]] {
    private val buf = it.buffered
    def hasNext: Boolean = buf.hasNext
    def next(): Seq[BlockRow] = {
      val g = buf.head.docGroup
      val out = scala.collection.mutable.ArrayBuffer[BlockRow]()
      while (buf.hasNext && buf.head.docGroup == g) out += buf.next()
      out.toSeq
    }
  }

  /** Bounded heap keeping top-m by (score desc, docId asc): a binary
    * max-heap by "worse" over parallel docId/score arrays, so its root is
    * the current WORST kept entry. "Worse" is the (-score, docId) order
    * with `java.lang.Double.compare` on the negated score: a smaller score
    * (with -0.0 below 0.0), then a larger docId. */
  private[query] final class BoundedTopK(m: Int) {
    private var docs = new Array[Long](math.max(0, math.min(m, 64)))
    private var scores = new Array[Double](docs.length)
    private var size = 0
    /** docs actually scored (heap.add calls) — the WAND pruning metric:
      * exhaustive scores every posting's doc; WAND skips the ones whose
      * bound can't reach the floor. */
    var scored: Long = 0L
    def full: Boolean = size >= m
    def floor: Double = if (full) scores(0) else Double.NegativeInfinity
    private def worse(i: Int, j: Int): Boolean = {
      val c = java.lang.Double.compare(-scores(i), -scores(j))
      c > 0 || (c == 0 && docs(i) > docs(j))
    }
    private def swap(i: Int, j: Int): Unit = {
      val d = docs(i); docs(i) = docs(j); docs(j) = d
      val s = scores(i); scores(i) = scores(j); scores(j) = s
    }
    def add(docId: Long, s: Double): Unit = {
      scored += 1
      if (!full) {
        if (size == docs.length) {
          val cap = math.min(m, docs.length * 2)
          docs = java.util.Arrays.copyOf(docs, cap)
          scores = java.util.Arrays.copyOf(scores, cap)
        }
        docs(size) = docId; scores(size) = s
        var i = size
        size += 1
        while (i > 0 && worse(i, (i - 1) >>> 1)) { swap(i, (i - 1) >>> 1); i = (i - 1) >>> 1 }
      } else {
        val wd = docs(0)
        val ws = scores(0)
        if (s > ws || (s == ws && docId < wd)) {
          docs(0) = docId; scores(0) = s
          var i = 0
          var done = false
          while (!done) {
            val l = 2 * i + 1
            val r = l + 1
            var w = i
            if (l < size && worse(l, w)) w = l
            if (r < size && worse(r, w)) w = r
            if (w == i) done = true else { swap(i, w); i = w }
          }
        }
      }
    }
    def results: Seq[(Long, Double)] = Seq.tabulate(size)(i => (docs(i), scores(i)))
  }

  private final class TermCursor(val field: String, val term: String,
      blockList: Array[BlockRow], weight: Double, avgdl: Double,
      p: BM25.Params, onDecode: () => Unit, needPositions: Boolean = false) {
    private val nBlocks = blockList.length
    private val lastDocs: Array[Long] = blockList.map(_.lastDocId)
    private var bi = 0
    private var decoded: Codec.DecodedBlock = _
    private var pi = 0
    /** [[currentDoc]], kept in step with (bi, pi): the block's firstDocId
      * until the block is decoded (exact at block start), then the decoded
      * docId; Long.MaxValue once exhausted. */
    private var cur: Long = if (nBlocks == 0) Long.MaxValue else blockList(0).firstDocId
    private val blockUbs: Array[Double] = blockList.map { b =>
      val maxN = BM25.tfNorm(b.maxTf, b.minDl, avgdl, p)
      val minN = BM25.tfNorm(b.minTf, b.maxDl, avgdl, p)
      BM25.blockUpperBound(weight, maxN, minN) // weight = boost*idf (signed)
    }
    /** suffix max of blockUbs (clamped at 0 — a term can contribute nothing
      * by simply not matching). */
    private val suffixUb: Array[Double] = {
      val out = new Array[Double](blockUbs.length)
      var acc = 0.0
      var i = blockUbs.length - 1
      while (i >= 0) { acc = math.max(acc, blockUbs(i)); out(i) = acc; i -= 1 }
      out
    }
    def exhausted: Boolean = bi >= nBlocks
    def remainingUb: Double = if (exhausted) 0.0 else math.max(0.0, suffixUb(bi))
    /** Exact UB of this term's contribution to any doc in the CURRENT block
      * (may be negative under negative idf) — the block-max refinement. */
    def currentBlockUb: Double = blockUbs(bi)
    def currentBlockLast: Long = lastDocs(bi)
    private def toBlock(b: Int): Unit = {
      bi = b; decoded = null; pi = 0
      cur = if (b < nBlocks) blockList(b).firstDocId else Long.MaxValue
    }
    private def ensureDecoded(): Unit =
      if (decoded == null) {
        val b = blockList(bi)
        onDecode()
        // columnar decode (one allocation per block, positions decoded only
        // for phrase-scored terms) — values identical to Codec.decodeBlock
        decoded = Codec.decodeBlockColumnar(b.firstDocId, b.bytes, needPositions)
        pi = 0
        if (decoded.n > 0) cur = decoded.docIds(0)
      }
    def currentDoc: Long = cur
    def currentDl: Int = { ensureDecoded(); decoded.dls(pi) }
    /** The current posting's positions are `currentPositions[currentPosFrom,
      * currentPosTo)` — valid only for a cursor decoding positions. */
    def currentPositions: Array[Int] = { ensureDecoded(); decoded.positions }
    def currentPosFrom: Int = { ensureDecoded(); decoded.posOffsets(pi) }
    def currentPosTo: Int = { ensureDecoded(); decoded.posOffsets(pi + 1) }
    def contributionAtCurrent: Double = {
      ensureDecoded()
      weight * BM25.tfNorm(decoded.tfs(pi), decoded.dls(pi), avgdl, p)
    }
    def advance(): Unit = {
      ensureDecoded()
      pi += 1
      if (pi >= decoded.n) toBlock(bi + 1) else cur = decoded.docIds(pi)
    }
    /** First doc >= target, skipping whole blocks WITHOUT decoding them:
      * binary search over the block list by lastDocId (the skip-list role of
      * the dictionary block metadata — O(log blocks) per seek instead of a
      * linear block walk), then binary search inside the single decoded
      * block. */
    @scala.annotation.tailrec
    def advanceTo(target: Long): Unit = {
      if (!exhausted && lastDocs(bi) < target) {
        var lo = bi + 1
        var hi = nBlocks
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (lastDocs(mid) < target) lo = mid + 1 else hi = mid
        }
        toBlock(lo)
      }
      if (!exhausted) {
        ensureDecoded()
        val ids = decoded.docIds
        var lo = pi
        var hi = decoded.n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ids(mid) < target) lo = mid + 1 else hi = mid
        }
        pi = lo
        if (pi >= decoded.n) { toBlock(bi + 1); advanceTo(target) }
        else cur = ids(pi)
      }
    }
  }

  private[query] def scoreGroup(groupBlocks: Seq[BlockRow], plan: QueryPlan,
      heap: BoundedTopK, onDecode: () => Unit, deleted: graft.index.DeleteSet): Unit = {
    val p = plan.opts.bm25
    val pf = plan.opts.phraseField
    val phraseOn = plan.phraseOn
    val phraseUb = plan.phraseUb
    val docGroup = groupBlocks.head.docGroup
    // cursors in ascending (field, term) order — the fixed summation order.
    // Blocks of a (field, term) sort by (firstDocId, blockIdx): segments of
    // an incrementally-grown group hold disjoint monotone docId ranges, so
    // firstDocId — not blockIdx, which restarts per segment — is the global
    // block order.
    val cursors: Array[TermCursor] = groupBlocks
      .groupBy(b => (b.field, b.term)).toArray
      .sortBy(_._1)
      .map { case ((f, t), bl) =>
        new TermCursor(f, t, bl.sortBy(b => (b.firstDocId, b.blockIdx)).toArray,
          plan.weights((f, t)), plan.avgdls(f), p, onDecode,
          needPositions = plan.needsPositions(f, t))
      }

    // whole-group skip (strict: boundary ties must still be scored)
    if (heap.full && cursors.map(_.remainingUb).sum + phraseUb < heap.floor) return

    // phrase slots, resolved once per group: phraseCursor(i) is the cursor
    // of phrase term i (-1 when the group has no block of it); the scratch
    // slices below are refilled per scored doc, never reallocated
    val phraseCursor = if (!phraseOn) Array.empty[Int]
      else plan.phraseTerms.map(t => cursors.indexWhere(c => c.field == pf && c.term == t))
    val phPos = new Array[Array[Int]](phraseCursor.length)
    val phFrom = new Array[Int](phraseCursor.length)
    val phTo = new Array[Int](phraseCursor.length)

    // The document-at-a-time loop below runs once per pivot step — tens of
    // thousands of times per query on the serving tier — so the live-cursor
    // filter and the sort-by-currentDoc use two REUSED arrays and an
    // in-place stable insertion sort instead of per-iteration collection
    // allocations. Float summation ORDER is preserved exactly (live order =
    // cursor order; bound sums add phraseUb in the original position), so
    // every pruning decision and score is bit-identical to the previous
    // collection-based form.
    val work = new Array[TermCursor](cursors.length)
    val keys = new Array[Long](cursors.length)
    var done = false
    while (!done) {
      // live cursors, compacted in cursor order (allocation-free filter)
      var n = 0
      var ci = 0
      while (ci < cursors.length) {
        if (!cursors(ci).exhausted) { work(n) = cursors(ci); n += 1 }
        ci += 1
      }
      if (n == 0) done = true
      else {
        var ubLive = 0.0
        var i = 0
        while (i < n) { ubLive += work(i).remainingUb; i += 1 }
        if (heap.full && ubLive + phraseUb < heap.floor) {
          done = true
        } else {
          // stable insertion sort of work[0,n) by currentDoc, keys cached
          keys(0) = work(0).currentDoc
          i = 1
          while (i < n) {
            val c = work(i)
            val k = c.currentDoc
            var j = i - 1
            while (j >= 0 && keys(j) > k) {
              work(j + 1) = work(j); keys(j + 1) = keys(j); j -= 1
            }
            work(j + 1) = c; keys(j + 1) = k
            i += 1
          }
          var acc = phraseUb
          var pivotIdx = -1
          i = 0
          while (pivotIdx < 0 && i < n) {
            acc += work(i).remainingUb
            if (!heap.full || acc >= heap.floor) pivotIdx = i
            i += 1
          }
          if (pivotIdx < 0) done = true
          else {
            val pivotDoc = keys(pivotIdx)
            if (keys(0) == pivotDoc && deleted.contains(docGroup, pivotDoc)) {
              // tombstoned doc (Lucene live-docs skip): never scored, never a
              // heap entry — the top-k is k LIVE docs, not a post-filtered
              // page. Skipping only removes candidates, so the heap floor
              // stays a valid lower bound and every WAND bound check above
              // remains conservative-correct.
              ci = 0
              while (ci < cursors.length) {
                val c = cursors(ci)
                if (!c.exhausted && c.currentDoc == pivotDoc) c.advance()
                ci += 1
              }
            } else if (keys(0) == pivotDoc) {
              // BLOCK-MAX refinement (the "block-max" in block-max WAND): the
              // pivot selection above used term-level suffix maxima; here the
              // pivot's score is bounded by its ACTUAL current blocks' UBs.
              // If that exact bound can't reach the floor (strict — ties must
              // still be scored), every doc up to the nearest block boundary
              // is equally bounded, so skip there without decoding anything:
              // docs in [pivot, dNext) get contributions only from the
              // aligned cursors' current blocks (non-aligned cursors hold no
              // doc below their currentDoc), all bounded by the same blockUbs.
              // aligned = the prefix run work[0, a) at the pivot doc
              var a = 0
              while (a < n && keys(a) == pivotDoc) a += 1
              // the pivot doc contains ALL aligned terms, so signed blockUbs
              // sum to an exact bound for it; docs AFTER the pivot may lack a
              // negative-idf term, so the range bound clamps each blockUb at 0
              var alignedU = 0.0
              var j = 0
              while (j < a) { alignedU += work(j).currentBlockUb; j += 1 }
              val pivotU = alignedU + phraseUb
              if (heap.full && pivotU < heap.floor) {
                var clampedU = 0.0
                j = 0
                while (j < a) { clampedU += math.max(0.0, work(j).currentBlockUb); j += 1 }
                val rangeU = clampedU + phraseUb
                var dNext =
                  if (rangeU < heap.floor) {
                    var mn = Long.MaxValue
                    j = 0
                    while (j < a) {
                      val l = work(j).currentBlockLast
                      if (l < mn) mn = l
                      j += 1
                    }
                    mn + 1
                  } else pivotDoc + 1 // only the pivot itself is provably out
                j = 0
                while (j < n) {
                  val cd = keys(j)
                  if (cd > pivotDoc && cd < dNext) dNext = cd
                  j += 1
                }
                j = 0
                while (j < a) { work(j).advanceTo(dNext); j += 1 }
              } else {
                var score = 0.0
                ci = 0
                while (ci < cursors.length) {
                  val c = cursors(ci)
                  if (!c.exhausted && c.currentDoc == pivotDoc)
                    score += c.contributionAtCurrent
                  ci += 1
                }
                if (phraseOn) {
                  // every phrase term present at the doc has the doc's
                  // phrase-field length; an absent one scores the phrase 0
                  var dlPhrase = 0
                  j = 0
                  while (j < phraseCursor.length) {
                    val pc = phraseCursor(j)
                    val c = if (pc < 0) null else cursors(pc)
                    if (c == null || c.exhausted || c.currentDoc != pivotDoc) phPos(j) = null
                    else {
                      phPos(j) = c.currentPositions
                      phFrom(j) = c.currentPosFrom
                      phTo(j) = c.currentPosTo
                      dlPhrase = c.currentDl
                    }
                    j += 1
                  }
                  score += phraseScore(phPos, phFrom, phTo, dlPhrase,
                    plan.avgdls(pf), plan.opts.phraseBoost, plan.phraseIdf, p)
                }
                heap.add(pivotDoc, score)
                ci = 0
                while (ci < cursors.length) {
                  val c = cursors(ci)
                  if (!c.exhausted && c.currentDoc == pivotDoc) c.advance()
                  ci += 1
                }
              }
            } else {
              var j = 0
              while (j < pivotIdx) { work(j).advanceTo(pivotDoc); j += 1 }
            }
          }
        }
      }
    }
  }
}

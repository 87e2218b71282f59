package graft.index

import graft.core.{Analyzer, Posting}
import graft.io.{DirectTable, ParquetTableIO, TableIO}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CachedTable

/** Stored posting-block row. Blocks of a (field,term) are globally ordered
  * by firstDocId (docGroup ranges are docId ranges, and segments within a
  * group hold disjoint, monotone docId ranges); docIds strictly increase
  * within and across a term's blocks under that order. maxTf/minTf/minDl/
  * maxDl let the query side compute exact block-max WAND bounds from
  * CURRENT corpus stats, so block metadata stays valid across incremental
  * appends. */
case class BlockRow(
    field: String, term: String, docGroup: Long, blockIdx: Int,
    firstDocId: Long, lastDocId: Long, n: Int, sumTf: Long,
    maxTf: Int, minTf: Int, minDl: Int, maxDl: Int, bytes: Array[Byte])

/** Streaming block builder: consumes ONE row per (field, term, docGroup,
  * docId), sorted by that key, carrying the doc's ascending positions
  * array — exactly the shape the build's packed shuffle rows and the
  * compaction decode produce — and emits a compressed block every
  * `blockSize` postings, computing the block statistics in a single pass.
  * Memory is O(blockSize), never a whole posting list. Every posting must
  * satisfy tf == positions.length >= 1 (tf is the position count). A docId
  * that repeats within one (field, term, docGroup) run is two documents
  * sharing an id: the builder raises [[IndexBuilder.docIdCollision]]
  * instead of merging their postings. Output is differential-tested
  * against an occurrence-grained reference builder (CodecSpec). */
final class PostingBlockIterator(
    rows: Iterator[(String, String, Long, Long, Int, Array[Int])],
    blockSize: Int) extends Iterator[BlockRow] {

  private val buf = rows.buffered
  private val out = scala.collection.mutable.Queue[BlockRow]()

  override def hasNext: Boolean = {
    while (out.isEmpty && buf.hasNext) consumeKey()
    out.nonEmpty
  }
  override def next(): BlockRow = {
    if (!hasNext) throw new NoSuchElementException
    out.dequeue()
  }

  /** Consume all rows of the next (field, term, docGroup) key, enqueueing
    * its blocks. */
  private def consumeKey(): Unit = {
    val (f, t, g, _, _, _) = buf.head
    val block = new scala.collection.mutable.ArrayBuffer[Posting](blockSize)
    var blockIdx = 0

    def flushBlock(): Unit = if (block.nonEmpty) {
      val bytes = Codec.encodeBlock(block.head.docId, block.toSeq)
      var sumTf = 0L
      var maxTf = Int.MinValue
      var minTf = Int.MaxValue
      var minDl = Int.MaxValue
      var maxDl = Int.MinValue
      var i = 0
      while (i < block.length) {
        val p = block(i)
        sumTf += p.tf
        if (p.tf > maxTf) maxTf = p.tf
        if (p.tf < minTf) minTf = p.tf
        if (p.dl < minDl) minDl = p.dl
        if (p.dl > maxDl) maxDl = p.dl
        i += 1
      }
      out.enqueue(BlockRow(f, t, g, blockIdx, block.head.docId, block.last.docId,
        block.size, sumTf, maxTf, minTf, minDl, maxDl, bytes))
      blockIdx += 1
      block.clear()
    }

    var continue = true
    var first = true
    var prev = 0L
    while (continue && buf.hasNext) {
      val h = buf.head
      if (h._1 != f || h._2 != t || h._3 != g) continue = false
      else {
        val (_, _, _, d, dl, ps) = buf.next()
        require(ps != null && ps.length >= 1,
          s"posting ($f, $t, docGroup $g, docId $d) has no positions: " +
            "tf == positions.length >= 1 is required")
        if (!first && d == prev)
          throw IndexBuilder.docIdCollision(
            s"docId $d appears twice in the postings of ($f, $t, docGroup $g)")
        first = false
        prev = d
        block += Posting(d, ps.length, dl, ps)
        if (block.size >= blockSize) flushBlock()
      }
    }
    flushBlock()
  }
}

/** Distributed inverted-index build (SURVEY.md §7.2, north_rule).
  *
  * Layout under `dir` (written through [[graft.io.TableIO]]; parquet in the
  * sandbox, an Iceberg catalog in a real deployment — same four ops):
  *
  *   docs/        docId, repo, path, lang, dl_<field>..., sha256, shaOk,
  *                qualityScore, repoScore  [partitioned by docGroup, segment]
  *   postings/    BlockRow                 [partitioned by docGroup, segment]
  *   dictionary/  field, term, df, totalTf, nBlocks, maxTf, minDl
  *                                         [partitioned by tlen = len(term)]
  *   stats/       field, n, avgdl
  *   lineage/     partitionId(=docGroup), status, docs, maxDocId,
  *                postingsEmitted, bytesCompressed, mergeFanIn, shaOk,
  *                updatedAt               [partitioned by inputSnapshot]
  *   metrics/     field, docs, postingsEmitted, blocks, bytesCompressed,
  *                bytesRawEstimate, maxMergeFanIn, avgMergeFanIn,
  *                shaViolations, docIdCollisions
  *
  * Scale design:
  *   - Hot-term skew (code stop-words `the`, `if`, `return`... — cf. the
  *     reference stopword lists, data_pipeline/hybrid_processor.py:90-124):
  *     a term's posting list is never one aggregation group. Lists are
  *     segmented by docGroup = floor(docId / docGroupSize) — a deterministic
  *     range salt — bounding every group by docGroupSize regardless of df.
  *     Query-side merge fan-in per term = #docGroups it spans (metric).
  *   - groupBy(term, docGroup, docId) gets map-side partial aggregation;
  *     NOTHING is ever collected to the driver — not data rows, and not
  *     lineage either (a 10^12-file corpus has ~10^8 lineage rows; resume
  *     filters pending rows via a JOIN against the lineage table).
  *   - Incremental appends are SEGMENT-grained: every build/resume writes
  *     its rows under (docGroup, segment=inputSnapshot) partitions with
  *     dynamic partition overwrite, so a crash-retry of the same input
  *     batch overwrites exactly its own partitions — exactly-once w.r.t.
  *     postings (no double-counted tf) without rewriting committed groups.
  *     A micro-batch that straddles a docGroup boundary therefore APPENDS a
  *     new segment to the partially-filled group instead of silently
  *     dropping rows (lineage records per-group maxDocId; a row is pending
  *     iff docId > committed max for its group). Every write then
  *     re-derives dictionary/stats/metrics from the committed tables
  *     ([[refreshDerived]]), so they never depend on the write history.
  *
  * Contract for incremental/streaming builds: docIds are dense and
  * monotone (assigned once at ingest), and each distinct input batch uses a
  * distinct `inputSnapshot` that is STABLE across retries of that batch
  * (StreamingIndexer derives it from the micro-batch epoch). Hash-derived
  * ids (withDocId fallback) are for static one-shot builds only: resume
  * then skips whole done groups, and a docId collision fails the build
  * before its lineage commit (the write tasks check the batch, the derived
  * refresh audits the whole docs table; metrics.docIdCollisions records
  * the invariant).
  *
  * Per-row invariant (BASELINE.json input_hint): when the input has a
  * `sha256` column the build recomputes sha2(content,256) and records
  * equality per row (docs.shaOk), per group (lineage.shaOk) and globally
  * (metrics.shaViolations) — mirroring the reference's content-hash
  * discipline (crawler/src/storage/content_hash.h:16-28,
  * data_pipeline/hybrid_processor.py:171-172).
  */
object IndexBuilder {

  case class Params(
      blockSize: Int = 128,
      docGroupSize: Long = 4096L,
      fields: Seq[String] = Seq("content"),
      inputSnapshot: String = "snapshot-0",
      qualityScoreCol: () => Column = () => IndexBuilder.defaultQuality,
      repoScoreCol: () => Column = () => IndexBuilder.defaultRepoScore,
      io: TableIO = ParquetTableIO,
      // KeyMap bucket count used when an upsert (re)builds the live-key
      // sidecar. 0 (default) = AUTO: every rebuild derives the count from
      // the live key volume (keymapTargetKeys per bucket) and the steady
      // loop re-provisions itself when a bucket outgrows the layout
      // (KeyMap.SplitFactor) — no manual provisioning. A positive value
      // pins the count (bench/back-compat).
      keymapBuckets: Int = 0,
      // auto-provision target: live keys per keymap bucket
      keymapTargetKeys: Long = KeyMap.TargetBucketKeys,
      // target rows per dictionary hash bucket: every refresh derives
      // nBuckets = ceil(vocabulary / this), so the exact-term probe reads
      // O(query terms × this) rows no matter how the vocabulary grows
      // (re-provisioned at each refresh)
      dictTargetBucketRows: Long = IndexBuilder.DefaultDictTargetBucketRows)

  /** Reference-style length step function (rust scorer.rs:138-147 shape). */
  def defaultQuality: Column = {
    val dl = col("dl_content")
    when(dl < 30, 0.05).when(dl < 100, 0.3).when(dl < 300, 0.7)
      .when(dl < 1000, 1.5).when(dl < 3000, 1.0).otherwise(1.2)
  }

  /** Deterministic repo tier (plays the reference domain_score Q1 role).
    * md5-based so the DuckDB correctness oracle can reproduce it exactly
    * (see graft.ops.Hashing). */
  def defaultRepoScore: Column =
    (lit(3) + pmod(conv(substring(md5(col("repo")), 1, 15), 16, 10).cast("long"),
      lit(7L))).cast("double") / 10.0

  case class Layout(dir: String) {
    def docs = s"$dir/docs"
    def postings = s"$dir/postings"
    def dictionary = s"$dir/dictionary"
    def stats = s"$dir/stats"
    def lineage = s"$dir/lineage"
    def metrics = s"$dir/metrics"
    /** One-row table recording the dictionary's termBucket count — written
      * LAST by every refresh (dropped first, so any crash window leaves it
      * ABSENT, which every consumer treats as "no bucket layout": the
      * query-side probe falls back to tlen-only pruning — always correct,
      * merely unpruned — and the next refresh re-provisions from the
      * default target). */
    def dictionaryMeta = s"$dir/dictionary_meta"
  }

  /** Default [[Params.dictTargetBucketRows]]: 64Ki terms per bucket keeps an
    * exact-term probe's read in the tens-of-MB range while bounding the
    * bucket count at ~16k even for a 10^9-term vocabulary. */
  val DefaultDictTargetBucketRows: Long = 1L << 16

  /** `pmod(xxhash64(term), nBuckets)` — the dictionary's second partition
    * level (under tlen). A deterministic pure function of the term, so any
    * writer/reader that knows nBuckets can address a term's bucket without
    * consulting the table. */
  def termBucketCol(nBuckets: Int): Column =
    pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")

  /** Driver-side twin of [[termBucketCol]] — bitwise-identical to Spark's
    * `xxhash64` column function (same XXH64, same default seed 42), proven
    * by a FunctionsSpec differential. Lets the query-side exact-term probe
    * compute its partition predicate without a job. */
  def termBucketOf(term: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, 42L)
    val b = nBuckets.toLong
    (((h % b) + b) % b).toInt
  }

  /** The dictionary's (termBucket count, provisioning target), or None when
    * a refresh crash window left the marker absent (see
    * [[Layout.dictionaryMeta]]). */
  private[graft] def dictMeta(spark: SparkSession, dir: String,
      io: TableIO = ParquetTableIO): Option[(Int, Long)] = {
    val meta = Layout(dir).dictionaryMeta
    if (!io.exists(spark, meta)) None
    else new DirectTable(io.read(spark, meta)).rows(Seq("nBuckets", "targetRows"))
      .headOption.map(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Long]))
  }

  /** The dictionary's termBucket count — see [[dictMeta]]. */
  private[graft] def dictBucketCount(spark: SparkSession, dir: String,
      io: TableIO = ParquetTableIO): Option[Int] =
    dictMeta(spark, dir, io).map(_._1)

  /** Deterministic docId for corpora without one: xxhash64 of the natural
    * key, folded into the NON-NEGATIVE 63-bit range — full-range signed
    * ids would overflow the block codec's docId deltas (a list spanning
    * -2^63..2^63 has deltas beyond Long.MaxValue). NOTE: hash ids are
    * uniform, so the builder groups them by `pmod(docId, nGroups)` instead
    * of contiguous ranges — deterministic for a fixed corpus, but NOT
    * append-stable. Incremental / streaming builds must supply dense
    * monotone docIds (assigned once at ingest, e.g. CorpusGen.generateDF),
    * which get range grouping. */
  def withDocId(corpus: DataFrame): DataFrame =
    if (corpus.columns.contains("docId")) corpus
    else corpus.withColumn("docId",
      pmod(xxhash64(col("repo"), col("path"), col("commit")), lit(Long.MaxValue)))

  /** Full build: wipes `dir` first. */
  def build(spark: SparkSession, corpus: DataFrame, dir: String,
      params: Params = Params()): Unit = WriterLock.withLock(spark, dir) {
    params.io.drop(spark, dir) // takes the lock file with it
    WriterLock.reassert(spark, dir)
    FormatVersion.write(spark, dir)
    buildGroups(spark, corpus, dir, params, resume = false)
  }

  /** Resume/append: builds only rows not yet committed per lineage (see
    * class doc — row-level `docId > committed maxDocId` for dense ids,
    * whole-done-group skip for hash ids); dictionary/stats/metrics are
    * re-derived from the FULL tables so a resumed build is
    * indistinguishable from a from-scratch build of the union. */
  def resume(spark: SparkSession, corpus: DataFrame, dir: String,
      params: Params = Params()): Unit = WriterLock.withLock(spark, dir) {
    FormatVersion.requireOrCreate(spark, dir)
    // appending changes the live (key -> docId, sha) view without
    // maintaining the upsert keymap: drop its validity marker FIRST so a
    // later Upsert probes ground truth (KeyMap crash-ordering contract)
    KeyMap.invalidate(spark, dir)
    // a crash mid-expiry leaves a _pending_expiry marker: finish the expiry
    // (idempotent re-delete + derived refresh) before appending, or the
    // append's own refresh would bake half-expired segments into the stats;
    // same for a compaction that died mid-swap (_pending_compaction)
    Retention.recoverPendingExpiry(spark, dir, params.io)
    Compaction.recoverPendingCompaction(spark, dir, params.io)
    buildGroups(spark, corpus, dir, params, resume = true)
  }

  /** Rows of `corpus` not yet committed according to `lineage` — a pure
    * join, planable at any lineage size (no driver collect, no isin):
    * dense ids keep rows above their group's committed maxDocId (so a batch
    * straddling a group boundary appends instead of being dropped); hash
    * ids anti-join whole done groups. */
  private[graft] def pendingRows(corpus: DataFrame, lineage: DataFrame,
      denseIds: Boolean): DataFrame = {
    val committed = lineage.filter(col("status") === "done")
      .groupBy(col("partitionId"))
      .agg(max(col("maxDocId")).as("_committedMax"))
      .withColumnRenamed("partitionId", "docGroup")
    if (denseIds)
      corpus.join(committed, Seq("docGroup"), "left_outer")
        .filter(col("_committedMax").isNull || col("docId") > col("_committedMax"))
        .drop("_committedMax")
    else
      corpus.join(committed.select(col("docGroup")), Seq("docGroup"), "left_anti")
  }

  private def buildGroups(spark: SparkSession, corpus0: DataFrame, dir: String,
      params: Params, resume: Boolean): Unit = {
    import spark.implicits._
    val layout = Layout(dir)
    val io = params.io
    val segment = params.inputSnapshot

    val hadDenseIds = corpus0.columns.contains("docId")
    val withIds = withDocId(corpus0)
    // dense ids -> contiguous ranges (append-stable: new ids = new groups);
    // hash ids -> pmod buckets sized from the corpus count (static builds).
    val corpus =
      if (hadDenseIds)
        withIds.withColumn("docGroup",
          floor($"docId" / params.docGroupSize.toDouble).cast("long"))
      else {
        val n = withIds.count()
        val nGroups = math.max(1L, math.ceil(n.toDouble / params.docGroupSize).toLong)
        withIds.withColumn("docGroup", pmod($"docId", lit(nGroups)))
      }

    val pendingCorpus =
      if (resume && io.exists(spark, layout.lineage))
        pendingRows(corpus, io.read(spark, layout.lineage), hadDenseIds)
      else corpus

    // ---- docs table ----
    val hasSrcSha = corpus.columns.contains("sha256")
    var docsDf = pendingCorpus
      .withColumn("sha256_computed", sha2(col("content"), 256))
      .withColumn("shaOk",
        if (hasSrcSha) col("sha256_computed") === col("sha256") else lit(true))
    params.fields.foreach { f =>
      docsDf = docsDf.withColumn(s"dl_$f", size(Analyzer.tokensCol(col(f))))
    }
    docsDf = docsDf
      .withColumn("qualityScore", params.qualityScoreCol())
      .withColumn("repoScore", params.repoScoreCol())

    val metaCols = Seq("docId", "repo", "path", "lang") ++
      params.fields.map(f => s"dl_$f") ++
      Seq("sha256_computed", "shaOk", "qualityScore", "repoScore", "docGroup")

    // docId collisions are caught inside the write tasks, which see every
    // docGroup sorted by docId (a docGroup is a function of the docId, so
    // both copies of a repeated id meet in one task): the docs write checks
    // adjacent ids (UniqueSortedIds) and the block builder checks each
    // posting run (PostingBlockIterator). A duplicated id would otherwise
    // merge two documents' postings. BATCH-scoped: dense-id appends cannot
    // collide with committed rows by construction (pendingRows keeps only
    // docId > committed max per group), and the full-table audit in
    // refreshDerived remains the backstop for the documented-unsupported
    // hash-id append edge.
    //
    // the docs write and the postings build are independent consumers of
    // the batch — overlap them so the postings stage's tail back-fills the
    // cores the docs write frees (guide §2.6). Sequential under a snapshot
    // TableIO, whose manifest commits are simplest kept single-writer-per-
    // call. Each reads the batch plan itself: a file-backed batch is two
    // column-pruned scans, and an opaque one (a typed map / generator,
    // which column pruning cannot reach through) is evaluated once per
    // consumer, side by side. Persisting it would put a cache-fill job
    // ahead of both passes; the build ran slower that way, because it is
    // bound by sequential Spark jobs, not by the batch's CPU.
    val docsOut = docsDf.select(metaCols.map(col): _*)
      .withColumnRenamed("sha256_computed", "sha256")
      .withColumn("segment", lit(segment))
      .repartition(col("docGroup")).sortWithinPartitions("docId")
      .withColumn("docId", uniqueSortedIds(col("docId")))

    // ---- postings ----
    // ONE shuffle of PACKED (doc, term) rows, not raw token occurrences: a
    // doc lives in exactly one input partition, so its term -> ascending
    // positions lists are complete map-side and the exchange carries one
    // row per (field, term, doc) with an int-array payload — Σ
    // distinct-terms-per-doc rows instead of Σ tf occurrence rows (the
    // dominant shuffle volume at 100 TB; ~avg-tf× fewer, smaller-keyed
    // rows for the external sort too).
    def tokenPostingsCol(c: Column): Column = {
      import org.apache.spark.sql.graft.ColumnBridge
      ColumnBridge.column(graft.functions.TokenPostings(
        ColumnBridge.expression(c)))
    }
    val perDocTerm = params.fields.map { f =>
      docsDf.select($"docId", $"docGroup", col(s"dl_$f").as("dl"),
          explode(tokenPostingsCol(Analyzer.tokensCol(col(f)))).as("tp"))
        .select(lit(f).as("field"), $"tp.term".as("term"), $"docGroup",
          $"docId", $"dl", $"tp.positions".as("positions"))
    }.reduce(_ unionByName _)

    // Exchange plan (measured, guide §1.2/§2.4/§2.5): hash by (field, term,
    // docGroup) — an even, fine-grained key that keeps the block-building
    // stage balanced at any docGroup count — then a docGroup shuffle of the
    // finished blocks for the one-file-per-group layout. Block CONTENT does
    // not depend on the plan (runs and their sort order are
    // partitioning-invariant). A fused plan (one exchange keyed by
    // docGroup, no second shuffle) lost by 35% below 32× more docGroups
    // than shuffle partitions (a docGroup-keyed stage is lumpy there) and
    // did not beat this plan above it (16k-doc builds, 4 shuffle
    // partitions, median of 3: 18.35 vs 18.54 s at 250 docGroups, 46.6 vs
    // 44.5 s at 1000), so it was deleted.
    val blockSize = params.blockSize
    val blocks: Dataset[BlockRow] =
      perDocTerm.repartition($"field", $"term", $"docGroup")
      .sortWithinPartitions($"field", $"term", $"docGroup", $"docId")
      .as[(String, String, Long, Long, Int, Array[Int])]
      .mapPartitions(it => new PostingBlockIterator(it, blockSize))

    // nBytes rides every block row so the post-write aggregates (lineage,
    // dictionary/metrics derivation) stay METADATA-only scans — without it
    // each `sum(length(bytes))` re-reads the whole compressed index (the
    // `bytes` column is ~95% of the table's bytes) right after writing it.
    // Every writer stores it (the format stamp refuses older layouts).
    val blocksOut = blocks.toDF().withColumn("segment", lit(segment))
      .withColumn("nBytes", length($"bytes"))
    try {
      alongside(parallel = io eq ParquetTableIO)(
        io.overwritePartitions(docsOut, layout.docs, Seq("docGroup", "segment")))(
        io.overwritePartitions(
          blocksOut.repartition(col("docGroup"))
            .sortWithinPartitions("field", "term", "firstDocId", "blockIdx"),
          layout.postings, Seq("docGroup", "segment")))
    } catch { case t: Throwable =>
      collisionIn(t) match {
        case None => throw t
        case Some(c) =>
          // the failed write committed nothing, but the other one may have
          // (colliding docs that share no term pass the block builder): drop
          // this batch's partitions unless a committed lineage row already
          // owns the segment, so a corrected retry starts clean
          if (!committedSegment(spark, layout, io, segment))
            Seq(layout.docs, layout.postings).foreach(p => io.deletePartitions(
              spark, p, Seq("docGroup" -> "*", "segment" -> segment)))
          throw new IllegalStateException(c.getMessage, t)
      }
    }

    // ---- lineage: per-(docGroup, segment) rows of the segment just
    // written, partitioned by snapshot. Aggregated on the executors beside
    // the derived refresh — planned, persisted and filled on the side
    // thread, never collected — and written LAST (it is the commit marker a
    // resume trusts) by dynamic overwrite of THIS snapshot's partition only.
    // Append-only at the table level; committed state is an aggregation,
    // never driver memory. ----
    @volatile var lineage: DataFrame = null
    try {
      alongside(parallel = true) {
        lineage = segmentLineage(spark, layout, io, segment)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        CachedTable.fill(lineage)
      } {
        // ---- dictionary/stats/metrics: re-derived from the committed
        // tables, so a crash-retry of this segment cannot double-count it
        refreshDerived(spark, dir, io, params.dictTargetBucketRows)
      }
      io.overwritePartitions(lineage, layout.lineage, Seq("inputSnapshot"))
    } finally if (lineage != null) { lineage.unpersist(false); () }
  }

  /** The lineage rows of `segment`: ONE aggregate over the union of the
    * segment's doc and block rows (no join). Doc rows carry docId/shaOk,
    * block rows term/n/nBytes, and each aggregate skips the other side's
    * nulls; partitioned by docGroup up front, both levels of the distinct
    * term count need one exchange. Rows come FROM docs: a group whose batch
    * docs all tokenized to zero tokens emits no postings, but its docs ARE
    * committed — dropping the lineage row would re-select those docIds as
    * pending forever (and trip the collision check on the re-ingest). */
  private[index] def segmentLineage(spark: SparkSession, layout: Layout, io: TableIO,
      segment: String): DataFrame = {
    import spark.implicits._
    val docsTable = io.read(spark, layout.docs)
    val segDocs = docsTable.filter($"segment" === segment)
      .select($"docGroup".cast("long").as("docGroup"), $"docId", $"shaOk",
        lit(null).cast("string").as("term"), lit(null).cast("int").as("n"),
        lit(null).cast("int").as("nBytes"))
    val segBlocks = io.read(spark, layout.postings).filter($"segment" === segment)
      .select($"docGroup".cast("long").as("docGroup"),
        lit(null).cast(docsTable.schema("docId").dataType).as("docId"),
        lit(null).cast("boolean").as("shaOk"), $"term", $"n", $"nBytes")
    segDocs.unionByName(segBlocks).repartition($"docGroup").groupBy($"docGroup")
      .agg(count($"docId").as("docs"), max($"docId").as("maxDocId"),
        min($"shaOk").as("shaOk"), sum($"n").as("p_"), sum($"nBytes").as("b_"),
        countDistinct($"term").as("mergeFanIn"))
      .filter($"docs" > 0)
      // lineage partitionId is long by contract (docGroup is a partition
      // column, path-inferred as int for small values; mixed-width files
      // would poison the lineage table's schema merge)
      .select($"docGroup".as("partitionId"), lit("done").as("status"),
        $"docs", $"maxDocId", coalesce($"p_", lit(0L)).as("postingsEmitted"),
        coalesce($"b_", lit(0L)).as("bytesCompressed"), $"mergeFanIn", $"shaOk",
        current_timestamp().as("updatedAt"), lit(segment).as("inputSnapshot"))
  }

  /** Re-derive dictionary, stats and metrics from the CURRENT docs/postings
    * tables (fields inferred from the docs schema's dl_ columns) — the
    * derived tables are always a pure function of the surviving segments,
    * so a crash-retry of the same `inputSnapshot` cannot double-count and
    * needs no manifest. The one maintenance path for these tables: called
    * after every build/resume (appends and upserts included), compaction
    * and Retention expiry. Audits docId uniqueness (count vs
    * countDistinct) and throws on collision before writing any derived
    * table.
    *
    * Cost note (scale): this is O(index METADATA) per call — the scans are
    * column-pruned to block metadata (n/sumTf/maxTf/minDl/nBytes, never
    * `bytes`) and doc metadata (docId/shaOk/dl), so it pays
    * metadata-proportional, not data-proportional, work. The docs and the
    * dictionary aggregates run side by side, then the dictionary, stats and
    * metrics writes (on plain parquet); the meta marker goes last. */
  private[graft] def refreshDerived(spark: SparkSession, dir: String,
      io: TableIO = ParquetTableIO,
      dictTargetBucketRows: Long = DefaultDictTargetBucketRows): Unit = {
    import spark.implicits._
    val layout = Layout(dir)
    val allBlocks = io.read(spark, layout.postings)
    val allDocs = io.read(spark, layout.docs)
    val fields = allDocs.columns.filter(_.startsWith("dl_"))
      .map(_.stripPrefix("dl_")).toSeq.sorted

    // docs aggregate: N, per-field Σdl, sha violations, docId collision
    // audit (three jobs under AQE, for the countDistinct; they run beside
    // the dictionary aggregate). Σdl is stored exactly as a LONG
    // (stats.sumDl); avgdl = sumDl.toDouble / n, so any segmentation of the
    // same docs yields bitwise-equal stats.
    val docAggCols = count(lit(1)).as("n") +:
      countDistinct($"docId").as("nDistinct") +:
      sum(when(!$"shaOk", 1L).otherwise(0L)).as("shaViol") +:
      fields.map(f => sum(col(s"dl_$f").cast("long")).as(s"sumdl_$f"))

    // dictionary: per-term block count + maxTf/minDl give the query side
    // term-level upper bounds and seek metadata without touching postings.
    // Two-level (tlen, termBucket) partitioning: tlen makes fuzzy expansion
    // a partition-pruned probe (QueryEngine.fuzzyExpand) instead of a
    // full-dictionary scan; termBucket = pmod(xxhash64(term), nBuckets)
    // bounds the exact-term query probe to the query terms' buckets —
    // nBuckets is re-derived from the live vocabulary here, so every
    // refresh re-provisions the layout as the corpus grows.
    // FULL overwrite (not dynamic): the dictionary is purely derived, and a
    // partition whose terms all disappeared (Retention expiry) must not
    // survive as stale rows.
    // the index's configured target survives refreshes that don't know it
    // (Retention/Compaction call with the default): the existing meta's
    // target wins over the default, an explicit non-default param wins
    // over both — so the layout never flaps between two provisions
    val target =
      if (dictTargetBucketRows != DefaultDictTargetBucketRows) dictTargetBucketRows
      else dictMeta(spark, dir, io).map(_._2).getOrElse(DefaultDictTargetBucketRows)
    // ONE postings scan serves dictionary AND metrics (per-term group
    // fan-in, compressed/raw bytes ride this aggregate; metrics sum up from
    // the persisted result). Hash-partitioned by (field, term) up front, the
    // block rows need ONE exchange: the distinct count's inner
    // (field, term, docGroup) level and the outer (field, term) level are
    // both clustered by it (Spark's own plan exchanges before each level)
    val dictAgg = allBlocks.repartition($"field", $"term").groupBy($"field", $"term")
      .agg(sum($"n").as("df"), sum($"sumTf").as("totalTf"),
        count(lit(1)).as("nBlocks"), max($"maxTf").as("maxTf"),
        min($"minDl").as("minDl"),
        countDistinct($"docGroup").as("g"), sum($"nBytes").as("bc"),
        sum(lit(16L) * $"n" + lit(4L) * $"sumTf").as("raw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // provision at PHYSICAL-PARTITION grain: rows land in (tlen, termBucket)
    // PAIRS, so a global-vocab/target bucket count would leave every pair
    // holding ~target/#tlen-bands rows — #bands× more, smaller files (and
    // manifest lines) than provisioned. ONE plain (field, term length)
    // aggregate, collected (fields × term lengths rows), yields both the
    // provisioning inputs (vocab, bands) and the per-field metrics exactly:
    // sums and maxima add up across lengths, and avgMergeFanIn = Σg / terms
    // is the quotient Spark's avg(g) computes (a double sum of integers
    // below 2^53 is exact).
    val (docAgg, byLen) = alongside(parallel = true)(
      allDocs.agg(docAggCols.head, docAggCols.tail: _*).collect()(0))(
      dictAgg.groupBy($"field", length($"term").as("tlen"))
        .agg(count(lit(1)).as("v"), max($"g").as("maxFan"), sum($"g").as("sumFan"),
          sum($"df").as("postings"), sum($"nBlocks").as("blocks"),
          sum($"bc").as("bytes"), sum($"raw").as("raw"))
        .collect().toSeq)
    val nDocs = docAgg.getAs[Long]("n")
    val nDistinct = docAgg.getAs[Long]("nDistinct")
    val shaViol = docAgg.getAs[Long]("shaViol")
    // docId collisions silently merge different docs' postings (wrong
    // tf/dl) — at 10^12 rows a 64-bit hash id EXPECTS collisions, so this
    // is a hard failure, not a warning.
    if (nDistinct != nDocs)
      throw docIdCollision(s"$nDocs doc rows but $nDistinct distinct docIds")

    val vocab = byLen.map(_.getAs[Long]("v")).sum
    val bands = math.max(1L, byLen.map(_.getAs[Int]("tlen")).distinct.size.toLong)
    val nBuckets = math.max(1L,
      (vocab + bands * target - 1) / (bands * target)).toInt
    // meta DROPPED first, re-written last: any crash window leaves it
    // absent, which consumers treat as "no bucket layout" (always safe —
    // see Layout.dictionaryMeta)
    io.drop(spark, layout.dictionaryMeta)
    def writeDictionary(): Unit = io.overwriteTable(
      dictAgg
        .select($"field", $"term", $"df", $"totalTf", $"nBlocks", $"maxTf", $"minDl")
        .withColumn("tlen", length($"term"))
        .withColumn("termBucket", termBucketCol(nBuckets))
        .repartition($"tlen", $"termBucket").sortWithinPartitions("field", "term"),
      layout.dictionary, Seq("tlen", "termBucket"))
    def writeStats(): Unit = io.overwritePartitions(
      fields.map { f =>
        val sumDl = Option(docAgg.getAs[java.lang.Long](s"sumdl_$f"))
          .map(_.longValue).getOrElse(0L)
        (f, nDocs, if (nDocs > 0) sumDl.toDouble / nDocs else 0.0, sumDl)
      }.toDF("field", "n", "avgdl", "sumDl").coalesce(1),
      layout.stats, Nil)
    // metrics (raw-size estimate derived exactly from block metadata: every
    // occurrence is one position, so raw = 16B/posting + 4B/occurrence =
    // 16*n+4*sumTf)
    def writeMetrics(): Unit = {
      val rows = fields.map { f =>
        val r = byLen.filter(_.getString(0) == f)
        def total(c: String) = r.map(_.getAs[Long](c)).sum
        val terms = total("v")
        (f, nDocs, total("postings"), total("blocks"), total("bytes"), total("raw"),
          if (r.isEmpty) 0L else r.map(_.getAs[Long]("maxFan")).max,
          if (terms == 0L) 0.0 else total("sumFan").toDouble / terms, shaViol,
          // 0 by construction in any COMMITTED build — the audit above
          // throws before this write otherwise; the column records the
          // invariant
          nDocs - nDistinct)
      }
      io.overwritePartitions(
        rows.toDF("field", "docs", "postingsEmitted", "blocks", "bytesCompressed",
          "bytesRawEstimate", "maxMergeFanIn", "avgMergeFanIn", "shaViolations",
          "docIdCollisions").coalesce(1),
        layout.metrics, Nil)
    }
    // the dictionary overwrite is the expensive derived write; under plain
    // parquet it runs beside the tiny independent stats and metrics writes,
    // which run beside each other. Sequential under a snapshot TableIO
    // (single-writer manifest commits). A dictionary-write failure surfaces
    // BEFORE the meta marker goes back: a failed dictionary with a fresh
    // marker would claim a bucket layout that is not on disk (meta absent
    // = safe fallback everywhere).
    val par = io eq ParquetTableIO
    alongside(par)(writeDictionary())(alongside(par)(writeStats())(writeMetrics()))
    io.overwritePartitions(
      Seq((nBuckets, target)).toDF("nBuckets", "targetRows").coalesce(1),
      layout.dictionaryMeta, Nil)
    } finally { dictAgg.unpersist(); () }
  }

  /** Runs `side` on a new thread and `main` on the caller and returns both
    * results. The thread is created inside the call, so it inherits the
    * caller's Spark local properties (job group, scheduler pool). Both
    * always finish before this returns or throws: a failing `main` waits
    * for `side` before propagating — an abandoned in-flight write racing an
    * in-process retry would be a same-holder writer overlap the lock cannot
    * see — and a failing `side` surfaces after `main` completes. With
    * `parallel` false, `side` runs and then `main`, both on the caller. */
  private[index] def alongside[A, B](parallel: Boolean)(side: => A)(main: => B): (A, B) =
    if (!parallel) { val a = side; (a, main) }
    else {
      @volatile var out: Either[Throwable, A] = null
      val t = new Thread(() => out = try Right(side) catch { case e: Throwable => Left(e) },
        "graft-build-side")
      t.setDaemon(true)
      t.start()
      val b = try main catch { case e: Throwable => t.join(); throw e }
      t.join()
      out.fold(e => throw e, a => (a, b))
    }

  /** The error every docId-collision check raises (the docs write, the
    * block builder, the refresh's full-table audit). */
  private[graft] def docIdCollision(detail: String): IllegalStateException =
    new IllegalStateException(s"docId collision: $detail — supply dense " +
      "ingest-assigned docIds (hash-derived ids collide at scale)")

  /** A collision a write task raised, found in the cause chain of the
    * failed write (Spark wraps the task's exception). */
  private def collisionIn(t: Throwable): Option[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).find {
      case e: IllegalStateException => Option(e.getMessage).exists(_.startsWith("docId collision"))
      case _ => false
    }

  /** True when a committed lineage row records `segment` (read from the
    * lineage table's partition directories: no job). */
  private def committedSegment(spark: SparkSession, layout: Layout, io: TableIO,
      segment: String): Boolean =
    io.exists(spark, layout.lineage) &&
      new DirectTable(io.read(spark, layout.lineage)).files
        .exists(_.values.get("inputSnapshot").exists(v => String.valueOf(v) == segment))

  private def uniqueSortedIds(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.UniqueSortedIds(ColumnBridge.expression(c)))
  }

  def fileExists(spark: SparkSession, path: String): Boolean =
    ParquetTableIO.exists(spark, path)

  def deleteDir(spark: SparkSession, path: String): Unit =
    ParquetTableIO.drop(spark, path)
}

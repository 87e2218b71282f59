package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Index-level upsert — the RE-CRAWL lifecycle (the reference's indexer
  * re-ingests pages whose content hash changed, crawler content_hash.h +
  * indexer.py's _id-keyed bulk upsert; its OpenSearch tier hides the
  * delete+add underneath). Graft's docIds are immutable and dense, so an
  * update is explicitly: tombstone the old docId, index the new content
  * under a FRESH id appended as a new segment.
  *
  * Per incoming natural key (e.g. url / repo+path):
  *   - no live row with the same key             -> ADD under a fresh id;
  *   - a live same-key row with the SAME sha256  -> no-op (idempotent
  *     re-crawl: re-presenting unchanged content costs nothing);
  *   - live same-key rows with a DIFFERENT sha   -> those rows are
  *     TOMBSTONED (and the content added, unless a same-sha row also
  *     exists).
  *
  * These rules make the operation CONVERGENT: re-running the same batch is
  * a complete no-op, and the one crash window (segment committed, deletes
  * not yet applied — adds run FIRST so a crash can never lose a document)
  * leaves both versions briefly visible and converges on retry, because
  * the retry sees the new version live-with-same-sha (skips the add) and
  * the old version live-with-different-sha (re-issues the tombstone).
  * At-least-once visibility, exactly-once content — the same contract as
  * the corpus-level upsert (CrawlSource.upsertById, S6).
  *
  * Scale shape: everything is joins/aggregations keyed by the natural key
  * or docId — no driver-side id set. The docs probe is column-pruned to
  * (key, docId, sha256); fresh ids are assigned as base + dense rank via
  * `zipWithIndex` (per-partition counts in one lightweight job, offsets
  * applied map-side — a distributed dense-rank without the single-partition
  * exchange a global row_number window would need), deterministic because
  * the adds are range-partitioned and sorted by key first. The append
  * itself is IndexBuilder.resume (straddled-append segment semantics), the
  * deletes are graft.index.Deletes (bounded, purged at merge).
  */
object Upsert {

  case class Result(added: Long, tombstoned: Long, unchangedSkipped: Long)

  /** Distinct lineage-committed segment ids as a `segment: string` column —
    * the filter that keeps classification (and [[KeyMap.rebuild]]) from
    * seeing a crashed batch's orphan docs rows (lineage is the commit
    * marker; it is written LAST by buildGroups). Cast to string on both
    * sides: partition columns read back path-type-inferred. */
  private[index] def committedSegments(spark: SparkSession, dir: String,
      io: graft.io.TableIO): DataFrame =
    io.read(spark, IndexBuilder.Layout(dir).lineage)
      .select(col("inputSnapshot").cast("string").as("segment")).distinct()

  /** Upsert `corpus` (the natural-key columns + content fields; NO docId —
    * ids are owned by the index) into the index at `dir`. Each call is one
    * ingest batch: `params.inputSnapshot` must be fresh (and stable across
    * retries of the same batch), exactly like resume. */
  /** The probe/classification side of [[upsert]], exposed for plan
    * inspection (ExplainDump §11): returns (deduped incoming, adds, stale
    * tombstone ids, the [[KeyMap]] bucket count when the probe went through
    * a valid keymap). All lazy DataFrames — no index mutation runs here.
    *
    * Probe choice: with a current keymap (marker present, same key
    * columns), the live same-key rows come from the bucket-pruned keymap —
    * O(touched buckets) instead of O(index) — and need no tombstone
    * anti-join (the keymap holds live rows only). Without one, the
    * always-correct path probes the full docs table ⊖ tombstones. */
  private[graft] def classify(spark: SparkSession, corpus: DataFrame,
      dir: String, params: IndexBuilder.Params, keyCols: Seq[String])
      : (DataFrame, DataFrame, DataFrame, Option[Int]) = {
    val io = params.io
    val layout = IndexBuilder.Layout(dir)

    // batch-internal dedupe, deterministic: one winner per key, smallest
    // sha256 (re-running the batch picks the same winner)
    val keyCs = keyCols.map(col)
    val incoming = corpus.withColumn("_sha", sha2(col("content"), 256))
      .withColumn("_rk", row_number().over(
        Window.partitionBy(keyCs: _*).orderBy(col("_sha"))))
      .filter(col("_rk") === 1).drop("_rk")

    // live same-key rows, column-pruned; tombstoned rows are already dead
    // and must not block an add or be re-tombstoned. Bootstrap: the FIRST
    // batch of a streaming upsert lands on a dir with no index yet — every
    // key is an add (an empty probe side, not an error)
    val viaKeymap = KeyMap.validBuckets(spark, dir, keyCols)
    val existing = viaKeymap match {
      case Some(nb) =>
        KeyMap.probe(spark, dir, incoming.select(keyCs: _*), keyCols, nb, io)
      case None =>
        val docsCols = (keyCols :+ "docId" :+ "sha256").map(col)
        val existing0 =
          if (!io.exists(spark, layout.docs) || !io.exists(spark, layout.lineage))
            incoming.select(keyCs: _*).limit(0)
              .withColumn("_oldId", lit(null).cast(LongType))
              .withColumn("_oldSha", lit(null).cast("string"))
          else
            // COMMITTED rows only (ADVICE r4): a crash between the docs/
            // postings write and the lineage commit leaves an orphan
            // segment; probing raw docs would see its rows as live-with-
            // same-sha and SKIP the re-add, so the segment never commits
            // (and the next batch's fresh-id base would reuse its docIds —
            // duplicate ids). Restricting the probe to lineage-committed
            // segments makes the retry re-run resume, whose same-segment
            // dynamic overwrite is idempotent over the orphan partitions.
            io.read(spark, layout.docs)
              .withColumn("segment", col("segment").cast("string"))
              .join(committedSegments(spark, dir, io), Seq("segment"), "left_semi")
              .select(docsCols: _*)
              .withColumnRenamed("docId", "_oldId").withColumnRenamed("sha256", "_oldSha")
        Deletes.df(spark, dir, io) match {
          case Some(t) => existing0.join(
            t.select(col("docId").as("_oldId")), Seq("_oldId"), "left_anti")
          case None => existing0
        }
    }

    val matched = incoming.join(existing, keyCols, "left_outer")
    // a key is UNCHANGED iff some live row already carries this content
    val keyState = matched.groupBy(keyCs: _*)
      .agg(max(when(col("_oldSha") === col("_sha"), 1).otherwise(0)).as("_hasSame"))
    val adds = incoming.join(
      keyState.filter(col("_hasSame") === 0).select(keyCs: _*), keyCols, "left_semi")
    // tombs carry the key columns too: KeyMap.applyBatch derives the
    // touched bucket of a tombstone from its KEY (Deletes uses docId only)
    val tombs = matched.filter(col("_oldId").isNotNull && col("_oldSha") =!= col("_sha"))
      .select(col("_oldId").as("docId") +: keyCs: _*)
    (incoming, adds, tombs, viaKeymap)
  }

  def upsert(spark: SparkSession, corpus: DataFrame, dir: String,
      params: IndexBuilder.Params, keyCols: Seq[String]): Result =
      WriterLock.withLock(spark, dir) {
    require(keyCols.nonEmpty, "upsert needs at least one natural-key column")
    require(!corpus.columns.contains("docId"),
      "upsert assigns docIds itself — the incoming batch must not carry one")
    FormatVersion.requireOrCreate(spark, dir)
    val io = params.io
    val layout = IndexBuilder.Layout(dir)
    val keyCs = keyCols.map(col)
    val (incoming, adds, tombs0, viaKeymap) = classify(spark, corpus, dir, params, keyCols)

    // STAGE the classification results to disk BEFORE the first index
    // mutation: adds/tombs are lazy plans over the docs files listed
    // pre-mutation, and a retry's resume dynamically OVERWRITES the orphan
    // segment's partitions — any action re-evaluating those plans after the
    // append (resume runs several: collision check, docs, postings,
    // lineage; then deleteIds/applyBatch) would read deleted files. Two
    // O(batch) transient parquets (no snapshot semantics needed; residue is
    // dropped on entry) pin the classification ONCE — which also stops the
    // probe-join + id-assignment chain from re-executing per action in the
    // steady re-crawl loop.
    val stageP = new org.apache.hadoop.fs.Path(s"$dir/_stage_upsert")
    val stageFs = stageP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    stageFs.delete(stageP, true) // crashed-run residue
    // the stage dir is ALSO removed on failure (try/finally, ADVICE r5):
    // classification is re-derived on retry, so a failed batch must not
    // leave O(batch) parquet residue that only the next upsert would sweep
    try {
    // tombs0 and adds are both plans over `incoming` (sha + dedupe window
    // over the input) — persist it so the two stage writes and the final
    // unchanged-count evaluate that chain once
    incoming.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stage re-reads take the schema just written: no inference job
    tombs0.write.parquet(s"$stageP/tombs")
    val tombs = spark.read.schema(tombs0.schema).parquet(s"$stageP/tombs")
    // the adds side stages PRE-id: this is the single evaluation of the
    // probe-join/window chain — the count, the id-assignment jobs and the
    // resume all read the staged parquet, never the live plan again
    val adds0 = adds.drop("_sha")
    adds0.write.parquet(s"$stageP/adds0")
    val stagedAdds = spark.read.schema(adds0.schema).parquet(s"$stageP/adds0")

    // marker OFF before the first index mutation (the keymap TABLE stays
    // readable for this batch's lazy plans): a crash anywhere below leaves
    // no marker, so the retry probes ground truth — a stale keymap is
    // never read. Re-validated by the maintenance step at the end.
    KeyMap.invalidate(spark, dir)

    // the staged parquet's footer row counts: no job
    val nAdds = graft.io.ParquetFooters.rowCount(stagedAdds)
    val added =
      if (nAdds == 0L) 0L
      else {
        // fresh dense ids above every committed id: base from lineage (the
        // commit marker resume trusts) — the maxDocId column statistics in
        // its files' footers, no job — dense rank by key order; 0 on a
        // not-yet-built index (bootstrap batch)
        val base =
          if (!io.exists(spark, layout.lineage)) 0L
          else graft.io.ParquetFooters.maxLong(io.read(spark, layout.lineage), "maxDocId")
            .fold(0L)(_ + 1L)
        val parts = math.max(1, stagedAdds.rdd.getNumPartitions)
        val ordered = stagedAdds
          .repartitionByRange(parts, keyCs: _*).sortWithinPartitions(keyCs: _*)
        val schema = ordered.schema.add("docId", LongType, nullable = false)
        val withIds = spark.createDataFrame(
          ordered.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ (base + i)) },
          schema)
        // pin the id-assigned adds (see stage comment above): resume's
        // actions must not re-scan pre-mutation docs files through this plan
        withIds.write.parquet(s"$stageP/adds")
        IndexBuilder.resume(spark,
          spark.read.schema(withIds.schema).parquet(s"$stageP/adds"), dir, params)
        nAdds
      }
    // deletes AFTER the append (see class doc: a crash here duplicates
    // briefly, never loses); count delta = applied tombstones
    val before = Deletes.count(spark, dir, io)
    val afterTotal =
      if (graft.io.ParquetFooters.rowCount(tombs) == 0L) before
      else Deletes.deleteIds(spark, dir, tombs, io)

    // keymap maintenance LAST (all mutations committed): incremental bucket
    // rewrite when this batch probed through the keymap, full rebuild from
    // ground truth otherwise (bootstrap, or something else touched the
    // index since the last upsert). Either way the marker comes back, so
    // the steady re-crawl loop's probe cost is O(touched buckets).
    // Skipped entirely for an empty bootstrap batch on a not-yet-built
    // index: there is nothing to map (and nothing to rebuild FROM).
    if (io.exists(spark, layout.docs)) {
      // the adds' (key, docId, sha256) rows come from the COMMITTED docs
      // segment of THIS batch (segment == params.inputSnapshot — the
      // resume contract already requires a fresh name per batch), not
      // from re-executing the id-assignment DAG above: re-evaluation
      // would run the window/shuffle/zipWithIndex chain again per keymap
      // action AND silently depend on the recomputed ids bit-matching
      // the committed ones. This read is segment-partition-pruned —
      // O(batch).
      val addRows =
        if (added == 0L)
          incoming.limit(0).select(keyCs: _*)
            .withColumn("docId", lit(0L)).withColumn("sha256", lit(""))
        else io.read(spark, layout.docs)
          .filter(col("segment") === params.inputSnapshot)
          .select((keyCs :+ col("docId").cast("long").as("docId") :+
            col("sha256")): _*)
      viaKeymap match {
        case Some(nb) => KeyMap.applyBatch(spark, dir, addRows, tombs, keyCols,
          nb, io, params.keymapTargetKeys,
          pinnedBuckets = params.keymapBuckets > 0)
        case None => KeyMap.rebuild(spark, dir, keyCols, params.keymapBuckets,
          io, params.keymapTargetKeys)
      }
    }
    Result(added, afterTotal - before, incoming.count() - nAdds)
    } finally {
      incoming.unpersist(false)
      stageFs.delete(stageP, true)
      ()
    }
  }
}

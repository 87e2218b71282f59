package graft.index

import graft.io.{ParquetTableIO, TableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Segment compaction — the engine's analog of Lucene/OpenSearch force-merge
  * (the reference tunes the same pressure away with a 30s refresh interval
  * and single-shard indices, indexer/config.py:59-64; graft accumulates it
  * as real segments instead).
  *
  * Every streaming micro-batch / resume appends one (docGroup, segment)
  * partition per touched group (IndexBuilder class doc). Long-running
  * ingest therefore fragments each posting list into per-segment runs whose
  * LAST block is partial: a term spanning S segments of a group carries up
  * to S under-filled blocks, so dictionary nBlocks — and with it the query
  * side's seek metadata, per-term cursor fan-in, and the file count per
  * group — grows with ingest cadence rather than corpus size. Compaction
  * rewrites all committed segments into ONE segment per group with
  * fully-packed blocks, restoring the layout a monolithic build would have
  * produced (CompactionSpec proves bitwise equality against a fresh build
  * at equal blockSize).
  *
  * Scale shape: one shuffle of BLOCK rows keyed by docGroup (bounded by
  * docGroupSize docs regardless of term df — same skew bound as the build),
  * then a per-partition streaming decode→re-encode pass with O(blockSize)
  * memory (PostingBlockIterator). No row ever reaches the driver; the only
  * driver-side state is the segment-name list (one string per micro-batch,
  * the same cardinality Retention already collects).
  *
  * Crash safety is two-phase, mirroring Retention's marker protocol:
  *
  *   1. `_pending_compaction` (intent: new-segment name + replaced segment
  *      names) is written BEFORE the new segment's partitions. A crash
  *      before phase 2 rolls BACK: the partial new segment is deleted and
  *      the old segments — still intact — keep serving.
  *   2. `_compaction_commit` is written once the new segment is fully
  *      durable. From here recovery rolls FORWARD: re-delete the replaced
  *      segments (idempotent), rewrite lineage for the new segment, refresh
  *      the derived tables, clear both markers.
  *
  * Recovery runs at every index open (`SearchIndex`), before every
  * build/resume (`IndexBuilder.resume`) and before expiry/compaction —
  * one fs.exists in the common no-marker case.
  *
  * CONCURRENCY CONTRACT: the marker protocol makes a crash of THE writer
  * recoverable; writer-writer exclusion is ENFORCED by [[WriterLock]] — every
  * mutating entry point (build/resume, delete, expiry, compaction, upsert)
  * runs under the index's `_writer_lock` lease, so two processes can no
  * longer race recoverPendingCompaction or interleave staged swaps (a second
  * writer gets ConcurrentWriterException; a crashed holder's lease is broken
  * by pid-liveness on local filesystems, by age elsewhere). Readers remain
  * lease-free: reader isolation against an in-flight swap still requires the
  * Iceberg TableIO, whose snapshot commits give them an immutable view —
  * with plain parquet, pause mutation or query a different index copy.
  *
  * Queries are invariant under compaction by construction: df/tf/dl/avgdl
  * and the global block order (firstDocId — segments of a group hold
  * disjoint monotone docId ranges) are all preserved, so BM25 scores are
  * bit-identical; only block PACKING (and with it block-max metadata and
  * nBlocks) changes, which WAND treats as opaque bounds.
  */
/** Thrown by [[Compaction.compactSegments]] when the chosen segments do not
  * form a contiguous run of some docGroup's segment order — a TYPED
  * rejection so policy code (compactToBudget's window fallback) can catch
  * exactly this precondition and never swallow an unrelated failure. */
final class NonContiguousRunException(msg: String)
  extends IllegalArgumentException(msg)

object Compaction {

  private def pendingPath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/_pending_compaction")
  private def commitPath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/_compaction_commit")
  /** Tiny parquet table preserving the merged segments' per-group lineage
    * timestamps across the swap (see [[writeCarry]]). */
  private def carryDir(dir: String) = s"$dir/_compaction_carry"

  /** Deterministic name for the merged segment: a content address of the
    * replaced segment set, so a crash-retry of the same compaction reuses
    * the name and the dynamic-overwrite write stays idempotent. */
  def segmentName(segments: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(segments.sorted.mkString("\u0000").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"compact-${hex.take(12)}"
  }

  /** Merge all committed segments into one. Returns the new segment name,
    * or None when the index already has a single segment (no-op).
    * `blockSize` is the TARGET packing (pass the builder's value for
    * bit-identity with a monolithic build; any positive value is valid —
    * block metadata is self-describing to the query side). */
  def compact(spark: SparkSession, dir: String, blockSize: Int = 128,
      io: TableIO = ParquetTableIO): Option[String] =
    WriterLock.withLock(spark, dir) {
      FormatVersion.require(spark, dir)
      Retention.recoverPendingExpiry(spark, dir, io)
      recoverPendingCompaction(spark, dir, io)
      val segments = io.read(spark, IndexBuilder.Layout(dir).lineage)
        .select(col("inputSnapshot")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      compactSegments(spark, dir, segments, blockSize, io)
    }

  /** Lucene `forceMergeDeletes` analog: physically purge tombstoned docs
    * NOW, even from a single-segment index (plain [[compact]] is a no-op
    * there), restoring exact df/avgdl/N. No tombstones -> no-op: never pay
    * a full rewrite for nothing. Every ordinary merge already applies
    * tombstones to the segments it touches; this is the explicit "make
    * stats exact now" knob. */
  def expungeDeletes(spark: SparkSession, dir: String, blockSize: Int = 128,
      io: TableIO = ParquetTableIO): Option[String] =
    WriterLock.withLock(spark, dir) {
      FormatVersion.require(spark, dir)
      Retention.recoverPendingExpiry(spark, dir, io)
      recoverPendingCompaction(spark, dir, io)
      if (Deletes.count(spark, dir, io) == 0L) return None
      val segments = io.read(spark, IndexBuilder.Layout(dir).lineage)
        .select(col("inputSnapshot")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      compactSegments(spark, dir, segments, blockSize, io, force = true)
    }

  /** PARTIAL merge — the tiered-merge primitive: rewrite only `chosen`
    * into one segment, leaving the others untouched (a full-index rewrite
    * per merge would make total ingest cost quadratic in batch count; a
    * Lucene-style policy merges the small fresh tail and rarely touches
    * the big old segments).
    *
    * Safety precondition, VALIDATED against lineage before any write: in
    * every docGroup, the chosen segments present must form a contiguous
    * run of that group's segment order (segments of a group hold disjoint
    * monotone docId ranges; merging a non-contiguous pair would produce a
    * block spanning an unmerged segment's range, breaking the query side's
    * firstDocId-sorted cursor order). */
  def compactSegments(spark: SparkSession, dir: String, chosen: Seq[String],
      blockSize: Int = 128, io: TableIO = ParquetTableIO,
      force: Boolean = false): Option[String] = WriterLock.withLock(spark, dir) {
    FormatVersion.require(spark, dir)
    Retention.recoverPendingExpiry(spark, dir, io)
    recoverPendingCompaction(spark, dir, io)
    if (chosen.isEmpty || (chosen.distinct.size <= 1 && !force)) return None
    val layout = IndexBuilder.Layout(dir)
    val lineage = io.read(spark, layout.lineage)
    val all = lineage.select(col("inputSnapshot")).distinct()
      .collect().map(_.getString(0)).toSet
    val unknown = chosen.toSet -- all
    require(unknown.isEmpty, s"unknown segments: ${unknown.mkString(",")}")

    import org.apache.spark.sql.expressions.Window
    val ranked = lineage
      .select(col("partitionId"), col("inputSnapshot"), col("maxDocId"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("partitionId")).orderBy(col("maxDocId"))))
      .filter(col("inputSnapshot").isin(chosen: _*))
    val gaps = ranked.groupBy(col("partitionId"))
      .agg((max(col("rk")) - min(col("rk")) + 1).as("span"),
        count(lit(1)).as("cnt"))
      .filter(col("span") =!= col("cnt")).count()
    if (gaps != 0L) throw new NonContiguousRunException(
      s"chosen segments are not a contiguous run in $gaps docGroup(s) — " +
        "merging them would interleave an unmerged segment's docId range")

    val sorted = chosen.distinct.sorted
    val newSeg = segmentName(sorted)
    writeMarker(spark, pendingPath(dir), (newSeg +: sorted).mkString("\n"))
    writeCarry(spark, dir, sorted, io)
    writeCompactedSegment(spark, dir, sorted, newSeg, blockSize, io)
    writeMarker(spark, commitPath(dir), newSeg)
    rollForward(spark, dir, newSeg, sorted, io)
    Some(newSeg)
  }

  /** Phase-1 adjunct: preserve each docGroup's NEWEST lineage timestamp of
    * the to-be-merged segments before their lineage partitions disappear,
    * so the merged segment inherits its constituents' retention age.
    * Stamping `current_timestamp` instead would reset the ISM clock — in a
    * steadily-merging index the rolling segment would never satisfy
    * `expireOlderThan` and retention would silently stop deleting. A tiny
    * distributed table (one row per docGroup), never driver memory. */
  private[graft] def writeCarry(spark: SparkSession, dir: String,
      segments: Seq[String], io: TableIO): Unit =
    io.overwritePartitions(
      io.read(spark, IndexBuilder.Layout(dir).lineage)
        .filter(col("inputSnapshot").isin(segments: _*))
        .groupBy(col("partitionId").cast("long").as("partitionId"))
        .agg(max(col("updatedAt")).as("carriedAt")),
      carryDir(dir), Nil)

  /** Tiered auto-merge policy: when more than `maxSegments` segments exist,
    * merge the CHEAPEST contiguous window (by lineage bytesCompressed) of
    * the ingest-ordered sequence (global order = per-segment max docId —
    * dense ids make that the batch order) down so `maxSegments` remain.
    *
    * Min-cost-window, not newest-run: a newest-run policy re-merges its
    * own previous output every batch (the rolling merged segment is always
    * the newest survivor), making total ingest cost quadratic in batch
    * count. The cheapest window naturally pairs SMALL segments with each
    * other and touches a big accumulated segment only once the fresh tail
    * has grown comparable to it — the classic logarithmic merge
    * amortization (each doc is rewritten O(log N) times).
    *
    * Any contiguous window of the global ingest order is per-docGroup
    * contiguous (the restriction of an interval to the subsequence present
    * in a group is an interval), so the compactSegments safety check holds
    * by construction. Returns the merged segment name, or None when
    * already within budget. */
  def compactToBudget(spark: SparkSession, dir: String, maxSegments: Int,
      blockSize: Int = 128, io: TableIO = ParquetTableIO): Option[String] = WriterLock.withLock(spark, dir) {
    require(maxSegments >= 1, "maxSegments must be >= 1")
    FormatVersion.require(spark, dir)
    Retention.recoverPendingExpiry(spark, dir, io)
    recoverPendingCompaction(spark, dir, io)
    val ordered = io.read(spark, IndexBuilder.Layout(dir).lineage)
      .groupBy(col("inputSnapshot"))
      .agg(max(col("maxDocId")).as("m"),
        sum(col("bytesCompressed")).as("b"))
      .orderBy(col("m"), col("inputSnapshot"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toSeq
    if (ordered.size <= maxSegments) return None
    val k = ordered.size - maxSegments + 1
    // windows in ascending cost; the contiguity precondition can reject a
    // window when batch docIds were not globally monotone (dual-priority /
    // out-of-order sources interleave segment ranges within a group), so
    // fall through to the next-cheapest window instead of wedging the
    // streaming auto-merge on a rejection that every retry re-hits. The
    // rejection happens before any marker/write, so trying the next window
    // is side-effect-free. No mergeable window -> None (budget deferred).
    val windows = ordered.sliding(k).toSeq
      .sortBy(w => (w.iterator.map(_._2).sum, w.headOption.getOrElse(("", 0L))._1))
    windows.iterator
      .map { w =>
        try compactSegments(spark, dir, w.map(_._1), blockSize, io)
        catch { case _: NonContiguousRunException => None }
      }
      .collectFirst { case Some(seg) => seg }
  }

  /** Crash recovery (see class doc). Returns true when a marker was found
    * and resolved. */
  def recoverPendingCompaction(spark: SparkSession, dir: String,
      io: TableIO = ParquetTableIO): Boolean = {
    val p = pendingPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // lock-free fast path (readers open indexes through here): no pending
    // marker and no commit residue — same two fs.exists as before. Any
    // residue means mutation, which must hold the writer lease; the lease
    // body re-probes, because another writer may have recovered first.
    if (!fs.exists(p) && !fs.exists(commitPath(dir))) return false
    WriterLock.withLock(spark, dir) { doRecoverPending(spark, dir, io) }
  }

  private def doRecoverPending(spark: SparkSession, dir: String,
      io: TableIO): Boolean = {
    val p = pendingPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      // a commit marker without its pending marker is the residue of a
      // completed roll-forward that crashed between the two marker deletes
      // (pending is deleted FIRST precisely so this state is harmless) —
      // sweep it so it can never be mistaken for a live phase-2 by a LATER
      // compaction's crash window. An orphan CARRY table (crash between the
      // final marker delete and the carry drop) is deliberately NOT swept
      // here: it is inert — the next compaction's phase 1 overwrites it
      // before any read — and sweeping would add a third fs.exists to every
      // index open / micro-batch for disk residue only.
      if (fs.exists(commitPath(dir))) fs.delete(commitPath(dir), false)
      return false
    }
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    if (lines.isEmpty) {
      // crash BETWEEN fs.create and the content write: the marker exists
      // but names nothing. Phase 1 never started (writeCompactedSegment
      // only runs after writeMarker returns), so there is nothing to roll
      // either way — sweep the empty marker instead of bricking every
      // subsequent index open on lines.head
      fs.delete(commitPath(dir), false)
      fs.delete(p, false)
      io.drop(spark, carryDir(dir))
      return false
    }
    val newSeg = lines.head
    val oldSegs = lines.tail
    if (fs.exists(commitPath(dir))) {
      // new segment fully durable: finish the swap
      rollForward(spark, dir, newSeg, oldSegs, io)
    } else {
      // new segment possibly partial: discard it, old segments still serve
      val layout = IndexBuilder.Layout(dir)
      io.deletePartitions(spark, layout.docs,
        Seq("docGroup" -> "*", "segment" -> newSeg))
      io.deletePartitions(spark, layout.postings,
        Seq("docGroup" -> "*", "segment" -> newSeg))
      io.deletePartitions(spark, layout.lineage,
        Seq("inputSnapshot" -> newSeg))
      fs.delete(p, false)
      io.drop(spark, carryDir(dir))
    }
    true
  }

  /** Phase 1: write the merged (docGroup, segment=newSeg) partitions for
    * docs and postings. Reads are restricted to `segments` so a leftover
    * partial new segment from a crashed earlier attempt can never feed
    * itself back in. */
  private[graft] def writeCompactedSegment(spark: SparkSession, dir: String,
      segments: Seq[String], newSeg: String, blockSize: Int,
      io: TableIO): Unit = {
    import spark.implicits._
    val layout = IndexBuilder.Layout(dir)

    // tombstone purge (Lucene merge semantics): the merged segment is
    // written WITHOUT the deleted docs; the no-deletes path is untouched so
    // a delete-free compaction stays bitwise-equal to a monolithic build
    val tombs = Deletes.df(spark, dir, io)
    val docs0 = io.read(spark, layout.docs)
      .filter(col("segment").isin(segments: _*)).drop("segment")
    val docs = tombs match {
      case Some(t) => docs0.join(t.select(col("docId")), Seq("docId"), "left_anti")
      case None => docs0
    }
    io.overwritePartitions(
      docs.withColumn("segment", lit(newSeg))
        .repartition(col("docGroup")).sortWithinPartitions("docId"),
      layout.docs, Seq("docGroup", "segment"))

    // the merged segment stores nBytes like every build (buildGroups)
    val merged = mergedBlocks(spark, dir, segments, blockSize, io)
      .toDF().withColumn("segment", lit(newSeg))
      .withColumn("nBytes", length(col("bytes")))
    io.overwritePartitions(merged, layout.postings, Seq("docGroup", "segment"))
  }

  /** The merge plan itself (also rendered in EXPLAIN.md §9): ONE shuffle of
    * block rows by docGroup (<= docGroupSize docs per group by
    * construction), per-term global order restored by the in-partition sort
    * (firstDocId — blockIdx restarts per segment and only breaks ties),
    * then streaming decode -> posting stream -> re-encode via the
    * build's own PostingBlockIterator. Output stays partitioned and sorted by
    * docGroup, so the write needs no second shuffle. */
  private[graft] def mergedBlocks(spark: SparkSession, dir: String,
      segments: Seq[String], blockSize: Int,
      io: TableIO): org.apache.spark.sql.Dataset[BlockRow] = {
    import spark.implicits._
    // tombstoned docs drop out of the decode->re-encode stream; the set is
    // broadcast once (size bounded by delete-rate × merge-interval — the
    // Deletes scale contract), and the empty case costs one branch per doc
    val delsBc = spark.sparkContext.broadcast(
      Deletes.loadSet(spark, dir, io = io))
    io.read(spark, IndexBuilder.Layout(dir).postings)
      .filter(col("segment").isin(segments: _*))
      .select($"field", $"term", $"docGroup", $"blockIdx", $"firstDocId",
        $"lastDocId", $"n", $"sumTf", $"maxTf", $"minTf", $"minDl", $"maxDl",
        $"bytes")
      .repartition($"docGroup")
      .sortWithinPartitions($"field", $"term", $"docGroup", $"firstDocId",
        $"blockIdx")
      .as[BlockRow]
      .mapPartitions { it =>
        val dels = delsBc.value
        // posting-grained re-encode: the decoded Posting already carries its
        // ascending positions array, so feed it straight to the block
        // builder instead of exploding to one tuple per occurrence
        val postings = it.flatMap { b =>
          Codec.decodeBlock(b.firstDocId, b.bytes).iterator
            .filter(p => !dels.contains(b.docGroup, p.docId))
            .map(p => (b.field, b.term, b.docGroup, p.docId, p.dl, p.positions))
        }
        new PostingBlockIterator(postings, blockSize)
      }
  }

  /** Phase 2: delete the replaced segments, rewrite lineage for the merged
    * one (docs/maxDocId/shaOk per group carry over exactly — resume
    * semantics are unchanged), refresh derived tables, clear markers.
    * Idempotent end-to-end — recovery may re-run it from the top. */
  private[graft] def rollForward(spark: SparkSession, dir: String,
      newSeg: String, oldSegs: Seq[String], io: TableIO): Unit = {
    import spark.implicits._
    val layout = IndexBuilder.Layout(dir)
    oldSegs.filter(_ != newSeg).foreach { s =>
      io.deletePartitions(spark, layout.docs,
        Seq("docGroup" -> "*", "segment" -> s))
      io.deletePartitions(spark, layout.postings,
        Seq("docGroup" -> "*", "segment" -> s))
      io.deletePartitions(spark, layout.lineage, Seq("inputSnapshot" -> s))
    }
    // the merged segment's lineage is the build's (one aggregate over its
    // doc and block rows), except that merged rows inherit their group's
    // NEWEST constituent timestamp from the phase-1 carry table (retention
    // age must survive the merge). By the marker protocol the carry ALWAYS
    // exists here (written in phase 1, dropped only after both markers), so
    // a missing carry means external interference — warn loudly and keep
    // current_timestamp (which postpones, never loses, retention) rather
    // than wedging every index open on an unrecoverable roll-forward.
    val fresh = IndexBuilder.segmentLineage(spark, layout, io, newSeg)
    val lineage =
      if (io.exists(spark, carryDir(dir)))
        fresh.join(io.read(spark, carryDir(dir)), Seq("partitionId"), "left_outer")
          .withColumn("updatedAt", coalesce($"carriedAt", $"updatedAt"))
          .drop("carriedAt")
      else {
        System.err.println(
          s"[graft] WARNING: compaction carry table missing during " +
            s"roll-forward of $newSeg in $dir — merged lineage timestamps " +
            "reset to now; retention of this data is postponed accordingly")
        fresh
      }
    io.overwritePartitions(lineage, layout.lineage, Seq("inputSnapshot"))
    // tombstone GC: the merged segment was written without its deleted docs
    // (writeCompactedSegment/mergedBlocks), so any tombstone whose doc no
    // longer exists is APPLIED — drop it (keep = tombstones ⋉ docs).
    // Idempotent against the post-swap docs table, so a crash-recovery
    // re-run of this roll-forward recomputes the same survivors; tombstones
    // pointing into UNmerged segments survive untouched. Runs before
    // refreshDerived so the derived stats and the delete state commit
    // together.
    Deletes.gc(spark, dir, io)
    IndexBuilder.refreshDerived(spark, dir, io)
    // pending FIRST: a crash between these two deletes must leave
    // commit-without-pending (a swept no-op), never pending-without-commit
    // (which recovery reads as phase 1 and would roll back the new segment
    // AFTER the old ones are gone). The carry table goes LAST, after both
    // markers: any recovery re-run before that still finds it.
    val fs = pendingPath(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(pendingPath(dir), false)
    fs.delete(commitPath(dir), false)
    io.drop(spark, carryDir(dir))
  }

  private[graft] def writeMarker(spark: SparkSession,
      p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }
}

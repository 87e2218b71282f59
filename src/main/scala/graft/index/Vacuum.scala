package graft.index

import graft.io.{SnapshotTableIO, TableIO}
import org.apache.spark.sql.SparkSession

/** Index-wide physical reclaim for snapshot-table storage
  * ([[graft.io.SnapshotTableIO]]).
  *
  * Every snapshot commit (micro-batch append, tombstone write, upsert,
  * auto-merge, keymap maintenance) leaves the PREVIOUS version's files on
  * disk — that is what buys readers isolation — so an infinite ingest
  * stream accumulates physical debt unless something reclaims it. This is
  * that something: one call sweeps every table of the index layout,
  * keeping the newest `retain` snapshots of each (the reader-isolation
  * horizon), under the index writer lease (vacuum races a live writer's
  * staged-but-uncommitted files otherwise).
  *
  * A no-op on [[graft.io.ParquetTableIO]] indexes (in-place storage has no
  * snapshot debt — and no isolation). Streaming callers wire it per
  * micro-batch via `vacuumRetain` ([[graft.streaming.StreamingIndexer]]),
  * making storage debt bounded by retain × live-index-size on an infinite
  * stream, the same posture as the segment budget for merge debt and the
  * purge-at-merge for tombstone debt. */
object Vacuum {

  /** Tables of an index that may hold snapshot manifests. */
  private def tables(dir: String): Seq[String] = {
    val layout = IndexBuilder.Layout(dir)
    Seq(layout.docs, layout.postings, layout.dictionary,
      layout.dictionaryMeta, layout.stats, layout.lineage, layout.metrics,
      Deletes.tombstones(dir), KeyMap.table(dir))
  }

  /** Reclaim files unreachable from the newest `retain` snapshots of every
    * index table. Returns data files deleted (0 for non-snapshot io). */
  def vacuumIndex(spark: SparkSession, dir: String, retain: Int = 2,
      io: TableIO = SnapshotTableIO): Long =
    if (!(io eq SnapshotTableIO)) 0L
    else WriterLock.withLock(spark, dir) {
      // a crashed KeyMap.applyBatch can strand its staged table — under
      // the lease no writer is mid-flight, so residue is always garbage
      SnapshotTableIO.drop(spark, s"${KeyMap.table(dir)}._stage")
      tables(dir)
        .filter(t => SnapshotTableIO.exists(spark, t))
        .map(t => SnapshotTableIO.vacuum(spark, t, retain)).sum
    }
}

package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Storage abstraction for the engine's tables (docs, postings, dictionary,
  * dictionary_meta, stats, lineage, metrics — see
  * [[graft.index.IndexBuilder.Layout]] — plus the tombstone and keymap
  * tables).
  *
  * The sandbox implementation is plain parquet with Spark's dynamic
  * partition overwrite; an Iceberg deployment implements the same four
  * operations with a catalog table (`overwritePartitions` becomes a
  * REPLACE/overwrite-by-filter snapshot commit, `deletePartitions` a
  * metadata delete) — nothing in the builder or query engine changes.
  *
  * A table is read through one primitive, [[files]]: the committed data
  * files, their typed partition values and the table's Spark schema, as a
  * [[TableListing]]. It launches no Spark job and plans no DataFrame.
  * [[ParquetTableIO]] lists the table directory once and takes the data
  * columns from the footer of its first data file (every file of a table
  * has one schema — the index's format stamp); [[SnapshotTableIO]] takes
  * all of it from its committed manifest. Partition columns are typed by
  * Spark's own partition inference over the files' directories, so a
  * listing has the types and column order of a plain `spark.read.parquet`.
  * [[read]] is a DataFrame over a listing, built from the listing without
  * listing or inferring again (so no job, however many files); the
  * serving reads ([[DirectTable]]) work from the listing itself, so a
  * reader that pins one listing per table reads one snapshot in both
  * tiers.
  */
trait TableIO {
  /** The table's committed data files, their typed partition values and
    * its schema. */
  def files(spark: SparkSession, path: String): TableListing
  /** A DataFrame over a fresh listing of the table. */
  def read(spark: SparkSession, path: String): DataFrame = files(spark, path).toDF(spark)
  def exists(spark: SparkSession, path: String): Boolean
  def drop(spark: SparkSession, path: String): Unit
  /** True when [[overwriteTable]] is an ATOMIC, reader-isolated commit
    * (snapshot storage). Callers that otherwise need a staged dir-swap to
    * fake atomicity (primary-state tables like tombstones) can overwrite
    * in place — a dir-swap would physically delete files under a pinned
    * reader and defeat the snapshot layer's isolation. */
  def atomicOverwrites: Boolean = false

  /** Overwrite-by-partition: replaces exactly the partitions present in
    * `df` (dynamic mode), leaving other partitions intact. With
    * `partitionCols` empty this is a full-table overwrite. Idempotent for a
    * fixed input — the engine's exactly-once primitive. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit

  /** FULL-table overwrite that also removes partitions absent from `df` —
    * for fully-derived tables (dictionary) that must never retain stale
    * partitions after a rebuild (e.g. a term length that disappeared after
    * Retention expiry). */
  def overwriteTable(df: DataFrame, path: String, partitionCols: Seq[String]): Unit

  /** Drop whole partition directories matched by partition col=value pairs
    * (retention/rollover path). */
  def deletePartitions(spark: SparkSession, path: String,
      partitionSpec: Seq[(String, String)]): Unit
}

object ParquetTableIO extends TableIO {

  /** One recursive listing of the table directory (Spark's hidden-file
    * rule, see [[ParquetFooters.dataFiles]]); the data schema is the first
    * file's footer, which the listing keeps. */
  override def files(spark: SparkSession, path: String): TableListing = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val qualified = fs.makeQualified(root)
    val data = ParquetFooters.dataFiles(fs, qualified)
    if (data.isEmpty) {
      spark.read.parquet(path) // no data file: Spark's own error
      throw new IllegalStateException(s"no data file under $path")
    }
    val first = data.head.getPath
    val footer = ParquetFooters.footer(conf, first)
    TableListing(spark, qualified, ParquetFooters.schema(first, footer), data.map(_.getPath),
      statuses = data.iterator.map(st => st.getPath -> st).toMap, known = Map(first -> footer))
  }

  override def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def drop(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  // The overwrite mode rides each write as a PER-WRITE option (documented
  // to take precedence over the session conf) instead of mutating the
  // session-global `spark.sql.sources.partitionOverwriteMode`: writes of
  // DIFFERENT modes may now run concurrently (refreshDerived overlaps the
  // dictionary overwriteTable with the small-table commits on another
  // thread; buildGroups overlaps the docs and postings writes), and a
  // session-conf set/restore pair on two threads is a lost-update race
  // that could silently flip a full-table overwrite to dynamic — leaving
  // stale partitions exactly when a vocabulary shrank (Retention expiry).

  override def overwritePartitions(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  override def overwriteTable(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    // static mode: the whole table (all partitions) is replaced
    val w = df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "static")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Deletes `path/<c1>=<v1>/.../<cN>=<vN>` dirs; the literal value `"*"`
    * globs that level (e.g. docGroup=* / segment=snap-1 deletes one segment
    * across all groups) — any OTHER value first gets Spark's partition-path
    * escaping (the on-disk dir for value `snap[2026]` is
    * `inputSnapshot=snap%5B2026%5D`), then residual glob metacharacters are
    * backslash-escaped, so ids match only themselves and can never wildcard
    * into foreign partitions. Partition-dir deletes are metadata-scale: one
    * fs op per directory, never per row. */
  override def deletePartitions(spark: SparkSession, path: String,
      partitionSpec: Seq[(String, String)]): Unit = {
    def esc(v: String): String =
      if (v == "*") v
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(v).replaceAll("([\\\\*?\\[\\]{}])", "\\\\$1")
    val glob = partitionSpec.map { case (c, v) => s"$c=${esc(v)}" }.mkString("/")
    val p = new Path(s"$path/$glob")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.globStatus(p) match {
      case null => ()
      case sts => sts.foreach(st => fs.delete(st.getPath, true))
    }
  }
}

/** Parquet footers, read in the calling process: the table metadata a
  * listing or a row count needs, without a Spark job. */
private[graft] object ParquetFooters {

  /** Spark's leaf-file filter: `_`/`.` names are metadata or in-flight
    * residue (`_SUCCESS`, `_temporary`, `.crc`), except partition dirs, and
    * `._COPYING_` files are half-copied. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The statuses of the data files under `root`, in path order: one
    * recursive listing that skips hidden files and directories. Empty when
    * `root` does not exist. */
  def dataFiles(fs: FileSystem, root: Path): IndexedSeq[FileStatus] = {
    def walk(p: Path): Iterator[FileStatus] = fs.listStatus(p).iterator
      .filterNot(st => hidden(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) walk(st.getPath) else Iterator(st))
    if (!fs.exists(root)) IndexedSeq.empty
    else walk(root).toIndexedSeq.sortBy(_.getPath.toString)
  }

  /** Opened with options built from `conf`: `ParquetReadOptions.builder()`
    * would build a fresh default configuration per open. */
  def footer(conf: Configuration, file: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf).build())
    try r.getFooter finally r.close()
  }

  /** The Spark schema a file was written with (the
    * `org.apache.spark.sql.parquet.row.metadata` key), or its parquet
    * schema converted when the key is missing — Spark's own footer rule. */
  def schema(file: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(SQLConf.get))

  /** Rows in a listing's files, summed from their footers. */
  def rowCount(listing: TableListing): Long =
    listing.files.iterator
      .flatMap(f => listing.footer(f.path).getBlocks.asScala).map(_.getRowCount).sum

  /** The largest value of the LONG data column `column` in a listing's
    * files, from the row-group statistics in their footers; None when the
    * files hold no row. A row group with rows but no statistic for the
    * column fails the call: the answer would be a guess. */
  def maxLong(listing: TableListing, column: String): Option[Long] =
    listing.files.iterator.flatMap { f =>
      listing.footer(f.path).getBlocks.asScala.iterator.filter(_.getRowCount > 0).map { b =>
        val chunk = b.getColumns.asScala.find(_.getPath.toDotString == column)
        if (!chunk.exists(c => c.getStatistics != null && c.getStatistics.hasNonNullValue))
          throw new IllegalStateException(
            s"${f.path}: a row group has no statistics for column $column")
        chunk.get.getStatistics.genericGetMax.asInstanceOf[java.lang.Long].longValue
      }
    }.maxOption
}

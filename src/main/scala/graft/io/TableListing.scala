package graft.io

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.PartitionSpec
import org.apache.spark.sql.execution.datasources.graft.ListingBridge
import org.apache.spark.sql.types.StructType

/** A data file of a table and its typed partition values. */
final case class DataFile(path: Path, values: Map[String, Any]) {
  def int(c: String): Int = values(c).asInstanceOf[Number].intValue
  def long(c: String): Long = values(c).asInstanceOf[Number].longValue
}

/** One listing of a table ([[TableIO.files]]): its committed data files in
  * path order, each with its typed partition values, and the table's Spark
  * schema — the data columns (nullable, as a Spark read returns them), then
  * the partition columns in path order.
  *
  * A listing is a pinned snapshot of the table's file set: [[toDF]] and a
  * [[DirectTable]] over the same listing read the same files. The parquet
  * footers read through [[footer]] (the schema's among them) are kept for
  * the life of the listing. */
final class TableListing private (val root: Path, val schema: StructType,
    val partitionColumns: Seq[String], val files: IndexedSeq[DataFile],
    private[io] val conf: Configuration, spec: PartitionSpec,
    statuses: Map[Path, FileStatus], known: Map[Path, ParquetMetadata]) {

  /** The data columns: [[schema]] without the partition columns. */
  def dataSchema: StructType =
    StructType(schema.fields.filterNot(f => partitionColumns.contains(f.name)))

  private val footers = new ConcurrentHashMap[Path, ParquetMetadata]()
  known.foreach { case (p, m) => footers.put(p, m) }

  /** Footers read from storage for this listing, the schema's included. */
  val footersRead = new AtomicLong(known.size.toLong)

  /** The footer of `file`, read on first use and kept. */
  def footer(file: Path): ParquetMetadata = {
    val kept = footers.get(file)
    if (kept != null) kept
    else {
      val read = ParquetFooters.footer(conf, file)
      val prev = footers.putIfAbsent(file, read)
      if (prev != null) prev else { footersRead.incrementAndGet(); read }
    }
  }

  /** A DataFrame over exactly these files, their partition values and this
    * schema: the plan of `spark.read.schema(dataSchema).option("basePath",
    * root).parquet(files)`, built without listing the files again. The
    * file statuses the listing did not keep, and block locations, are read
    * here (one call each per file), as Spark's own listing reads them. */
  def toDF(spark: SparkSession): DataFrame =
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val fs = root.getFileSystem(conf)
      val located = files.map { f =>
        val st = statuses.getOrElse(f.path, fs.getFileStatus(f.path))
        val l = new LocatedFileStatus(st, fs.getFileBlockLocations(st, 0, st.getLen))
        l.setPath(f.path)
        l: FileStatus
      }
      ListingBridge.parquet(spark, dataSchema, spec, located)
    }
}

private[io] object TableListing {

  /** The listing of `files` (qualified paths under the qualified `root`)
    * with data columns `dataSchema`; partition columns and values come
    * from Spark's partition inference over the files' directories.
    * `statuses` and `known` are file statuses and footers already read. */
  def apply(spark: SparkSession, root: Path, dataSchema: StructType, files: Seq[Path],
      statuses: Map[Path, FileStatus] = Map.empty,
      known: Map[Path, ParquetMetadata] = Map.empty): TableListing = {
    val (spec, values) = ListingBridge.partitions(spark, root, files.map(_.getParent).distinct)
    new TableListing(root,
      StructType(ListingBridge.asNullable(dataSchema).fields ++ spec.partitionColumns.fields),
      spec.partitionColumns.fieldNames.toSeq,
      files.map(f => DataFile(f, values.getOrElse(f.getParent, Map.empty))).toIndexedSeq,
      spark.sparkContext.hadoopConfiguration, spec, statuses, known)
  }

  /** A listing without a file, of the given schema (an empty snapshot). */
  def empty(spark: SparkSession, root: Path, schema: StructType,
      partitionColumns: Seq[String]): TableListing =
    new TableListing(root, schema, partitionColumns, IndexedSeq.empty,
      spark.sparkContext.hadoopConfiguration, PartitionSpec.emptySpec, Map.empty, Map.empty)
}

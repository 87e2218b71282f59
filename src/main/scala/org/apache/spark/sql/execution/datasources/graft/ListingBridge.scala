package org.apache.spark.sql.execution.datasources.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Spark's own partition inference and file relation for a table listing
  * (graft.io.TableListing), so a listing types its partition columns
  * exactly as a `spark.read.parquet` of the same files would, and its
  * DataFrame is the relation such a read plans. `PartitioningUtils` and
  * the file index's partition spec are private to this package tree, hence
  * the bridge's place in it (like `org.apache.spark.sql.graft`, no Spark
  * internal is modified). */
object ListingBridge {

  /** The partition spec of the leaf directories `dirs` under `root` (both
    * qualified), and each directory's partition values as Scala values —
    * the call Spark's file index makes, with the session's inference
    * settings. An unpartitioned table has an empty schema. */
  def partitions(spark: SparkSession, root: Path, dirs: Seq[Path])
      : (PartitionSpec, Map[Path, Map[String, Any]]) = {
    val conf = spark.sessionState.conf
    val spec = PartitioningUtils.parsePartitions(dirs, conf.partitionColumnTypeInferenceEnabled,
      Set(root), None, conf.caseSensitiveAnalysis, conf.validatePartitionColumns,
      conf.sessionLocalTimeZone, conf.ignoreInvalidPartitionPaths)
    val fields = spec.partitionColumns.fields
    (spec, spec.partitions.map { p =>
      p.path -> fields.indices.map { i =>
        fields(i).name -> CatalystTypeConverters.convertToScala(
          p.values.get(i, fields(i).dataType), fields(i).dataType)
      }.toMap
    }.toMap)
  }

  /** `t` with every field nullable, as Spark's file sources read it. */
  def asNullable(t: StructType): StructType = t.asNullable

  /** The relation `spark.read.schema(dataSchema).option("basePath", root)
    * .parquet(files)` plans, over exactly `files` (one status each, at the
    * listing's paths) with the partitions `spec` of their directories. It
    * is built from the listing as it stands: Spark lists no path again
    * (above `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * paths, that listing is a Spark job) and infers no partition again. */
  def parquet(spark: SparkSession, dataSchema: StructType, spec: PartitionSpec,
      files: Seq[FileStatus]): DataFrame = {
    val byPath = files.iterator.map(f => f.getPath -> Array(f)).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty, None, listed,
      Some(spec))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, spec.partitionColumns,
      dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(spark))
  }
}

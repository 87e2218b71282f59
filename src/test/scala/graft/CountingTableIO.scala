package graft

import graft.io.{TableIO, TableListing}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** A [[TableIO]] that delegates every operation to `underlying` and
  * records the tables its `read` and `files` calls name, so a test can pin
  * how a reader reaches storage. */
final class CountingTableIO(val underlying: TableIO) extends TableIO {
  private val readPaths = new ConcurrentLinkedQueue[String]()
  private val listedPaths = new ConcurrentLinkedQueue[String]()

  /** Table paths passed to `read` and to `files`, in call order. */
  def reads: Seq[String] = readPaths.asScala.toSeq
  def listings: Seq[String] = listedPaths.asScala.toSeq
  def reset(): Unit = { readPaths.clear(); listedPaths.clear() }

  override def files(spark: SparkSession, path: String): TableListing = {
    listedPaths.add(path)
    underlying.files(spark, path)
  }
  override def read(spark: SparkSession, path: String): DataFrame = {
    readPaths.add(path)
    underlying.read(spark, path)
  }
  override def exists(spark: SparkSession, path: String): Boolean = underlying.exists(spark, path)
  override def drop(spark: SparkSession, path: String): Unit = underlying.drop(spark, path)
  override def atomicOverwrites: Boolean = underlying.atomicOverwrites
  override def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    underlying.overwritePartitions(df, path, partitionCols)
  override def overwriteTable(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    underlying.overwriteTable(df, path, partitionCols)
  override def deletePartitions(spark: SparkSession, path: String,
      partitionSpec: Seq[(String, String)]): Unit =
    underlying.deletePartitions(spark, path, partitionSpec)
  override def toString: String = s"Counting($underlying)"
}

package graft.io

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** A table read on the calling thread with parquet-mr: no Spark job, for
  * the serving reads that fetch kilobytes (a dictionary bucket, a term's
  * blocks, a page of doc metadata, the stats and tombstone tables).
  *
  * The file list is the input files of `table`, the DataFrame a
  * [[TableIO.read]] returned, taken once: the committed manifest for
  * [[SnapshotTableIO]], Spark's own listing for [[ParquetTableIO]]. The
  * reader therefore sees exactly the snapshot the table's Spark plan scans,
  * never an orphan file. Partition values are parsed from each file's
  * trailing `col=value` directories, unescaped, and typed by the table
  * schema; `partitions` prunes files on them before any is opened.
  *
  * [[In]] predicates on data columns reach parquet as `FilterApi` `eq`
  * predicates (row-group statistics and dictionaries, then the page column
  * index through `readNextFilteredRowGroup`), and only the requested
  * columns are read. Every row of the kept pages is checked against the
  * predicates here, so pushdown only prunes and never decides an answer. A
  * requested column a file lacks fails the read; it never reads as null.
  *
  * Safe for concurrent callers: each read opens its own file readers. */
private[graft] final class DirectTable(table: DataFrame) {
  import DirectTable._

  private val conf = table.sparkSession.sparkContext.hadoopConfiguration
  private val types: Map[String, DataType] =
    table.schema.fields.iterator.map(f => f.name -> f.dataType).toMap

  /** The table's data files, in path order: those of the file relation
    * in its analyzed plan. `Dataset.inputFiles` would read the optimized
    * plan, which for a cached table (`SearchIndex.warm`) is the in-memory
    * relation and lists no file. */
  val files: IndexedSeq[DataFile] =
    table.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .flatMap {
        case r: HadoopFsRelation => r.inputFiles.toSeq
        case r => throw new IllegalArgumentException(s"not a file table: $r")
      }.distinct.sorted.toIndexedSeq.map { f =>
        val path = new Path(new java.net.URI(f))
        DataFile(path, partitionValues(path))
      }

  /** Files opened, row groups read and row groups skipped (by statistics,
    * dictionaries or the page index) across this table's reads. */
  val filesOpened = new AtomicLong(0L)
  val rowGroupsRead = new AtomicLong(0L)
  val rowGroupsSkipped = new AtomicLong(0L)

  /** The trailing `col=value` directories of `path` whose column is in the
    * table schema, typed by it. */
  private def partitionValues(path: Path): Map[String, Any] = {
    val kvs = Iterator.iterate(path.getParent)(_.getParent).takeWhile(_ != null)
      .map(_.getName.split("=", 2))
      .takeWhile(kv => kv.length == 2 && types.contains(kv(0)))
    kvs.map { case Array(c, raw) =>
      val v = ExternalCatalogUtils.unescapePathName(raw)
      c -> (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
            else types(c) match {
              case IntegerType => v.toInt
              case LongType => v.toLong
              case StringType => v
              case t => throw new IllegalStateException(
                s"partition column $c of type $t is not supported ($path)")
            })
    }.toMap
  }

  /** The values of `columns` (data or partition columns) of every row, in
    * files whose partition values pass `partitions`, for which every `where`
    * predicate (on data columns) holds. */
  def rows(columns: Seq[String], where: Seq[In] = Nil,
      partitions: DataFile => Boolean = _ => true): IndexedSeq[Array[Any]] = {
    if (where.exists(_.values.isEmpty)) return IndexedSeq.empty
    val out = IndexedSeq.newBuilder[Array[Any]]
    files.iterator.filter(partitions).foreach(f => readFile(f, columns, where, out))
    out.result()
  }

  private def readFile(file: DataFile, columns: Seq[String], where: Seq[In],
      out: scala.collection.mutable.Growable[Array[Any]]): Unit = {
    require(where.forall(w => !file.values.contains(w.column)),
      s"predicates apply to data columns, not partition columns: $where")
    val dataCols = (columns ++ where.map(_.column)).distinct.filterNot(file.values.contains)
    val filter = where.map(pushed).reduceOption(FilterApi.and)
      .map(FilterCompat.get).getOrElse(FilterCompat.NOOP)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file.path, conf),
      HadoopReadOptions.builder(conf).withRecordFilter(filter).build())
    try {
      filesOpened.incrementAndGet()
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      val fields = dataCols.map { c =>
        if (!fileSchema.containsField(c))
          throw new IllegalStateException(s"column $c is missing from ${file.path}")
        val t = fileSchema.getType(fileSchema.getFieldIndex(c))
        if (!t.isPrimitive || t.isRepetition(Type.Repetition.REPEATED))
          throw new IllegalStateException(s"column $c of ${file.path} is not a flat primitive")
        t
      }
      val requested = new MessageType(fileSchema.getName, fields: _*)
      reader.setRequestedSchema(requested)
      val io = new ColumnIOFactory().getColumnIO(requested, fileSchema, true)
      val materializer = new RowMaterializer(dataCols.size)
      val strings = dataCols.map(c => types.get(c).contains(StringType)).toArray
      // where each output column comes from: a data column's index, or -1
      val slot = columns.map(dataCols.indexOf).toArray
      // the predicates on the raw values (strings as their UTF-8 bytes)
      val checks = where.map { w =>
        val j = dataCols.indexOf(w.column)
        (j, if (strings(j)) w.values.map(v => Binary.fromString(v.asInstanceOf[String]): Any)
            else w.values)
      }.toArray
      val total = reader.getFooter.getBlocks.size
      var read = 0
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        read += 1
        // rows of the row group's kept pages; values are decoded only for
        // the rows that pass the predicates
        val records = io.getRecordReader(pages, materializer)
        var i = 0L
        val n = pages.getRowCount
        while (i < n) {
          val r = records.read()
          if (checks.forall { case (j, vs) => vs.contains(r(j)) }) {
            val row = new Array[Any](slot.length)
            var k = 0
            while (k < slot.length) {
              val j = slot(k)
              row(k) =
                if (j < 0) file.values(columns(k))
                else r(j) match {
                  case b: Binary => if (strings(j)) b.toStringUsingUTF8 else b.getBytes
                  case v => v
                }
              k += 1
            }
            out += row
          }
          i += 1
        }
        pages = reader.readNextFilteredRowGroup()
      }
      rowGroupsRead.addAndGet(read)
      rowGroupsSkipped.addAndGet(total - read)
    } finally reader.close()
  }

  /** `w` as a parquet predicate on its column's physical type: one `eq`
    * per value, OR-ed. Statistics and the page index then keep only the
    * row groups and pages that may hold one of the values; parquet's own
    * `in` prunes them on the set's min/max range, so a page of scattered
    * ids would read nearly every row group. */
  private def pushed(w: In): FilterPredicate = {
    val eqs: Seq[FilterPredicate] = types.get(w.column) match {
      case Some(StringType) =>
        val c = FilterApi.binaryColumn(w.column)
        w.values.toSeq.map(v => FilterApi.eq(c, Binary.fromString(v.asInstanceOf[String])))
      case Some(LongType) =>
        val c = FilterApi.longColumn(w.column)
        w.values.toSeq.map(v => FilterApi.eq(c, java.lang.Long.valueOf(v.asInstanceOf[Long])))
      case Some(IntegerType) =>
        val c = FilterApi.intColumn(w.column)
        w.values.toSeq.map(v => FilterApi.eq(c, java.lang.Integer.valueOf(v.asInstanceOf[Int])))
      case t => throw new IllegalArgumentException(
        s"no pushed predicate for column ${w.column} of type $t")
    }
    // a balanced OR keeps the predicate tree shallow for long value lists
    def anyOf(ps: Seq[FilterPredicate]): FilterPredicate =
      if (ps.size == 1) ps.head
      else { val (a, b) = ps.splitAt(ps.size / 2); FilterApi.or(anyOf(a), anyOf(b)) }
    anyOf(eqs)
  }
}

private[graft] object DirectTable {

  /** `column IN values`, with values of the column's Scala type (String,
    * Long or Int). */
  final case class In(column: String, values: Set[Any])
  object In {
    def apply(column: String, values: Iterable[Any]): In = new In(column, values.toSet[Any])
  }

  /** A data file and its typed partition values. */
  final case class DataFile(path: Path, values: Map[String, Any]) {
    def int(c: String): Int = values(c).asInstanceOf[Number].intValue
    def long(c: String): Long = values(c).asInstanceOf[Number].longValue
  }

  /** The files of serving shard `(i, n)` — `docGroup % n == i` — or every
    * file when unsharded. */
  def inShard(shard: Option[(Int, Int)]): DataFile => Boolean = shard match {
    case Some((i, n)) => f => java.lang.Math.floorMod(f.long("docGroup"), n.toLong) == i
    case None => _ => true
  }

  /** One record as the raw values of its requested columns, in order: a
    * `Binary` for binary columns, boxed primitives otherwise, null where a
    * value is null. The array is reused from record to record. */
  private final class RowMaterializer(n: Int) extends RecordMaterializer[Array[Any]] {
    private val row = new Array[Any](n)
    private val root = new GroupConverter {
      private val cells: Array[Converter] = Array.tabulate(n) { i =>
        new PrimitiveConverter {
          override def addBinary(v: Binary): Unit = row(i) = v
          override def addBoolean(v: Boolean): Unit = row(i) = v
          override def addDouble(v: Double): Unit = row(i) = v
          override def addFloat(v: Float): Unit = row(i) = v
          override def addInt(v: Int): Unit = row(i) = v
          override def addLong(v: Long): Unit = row(i) = v
        }
      }
      override def getConverter(i: Int): Converter = cells(i)
      override def start(): Unit = java.util.Arrays.fill(row.asInstanceOf[Array[AnyRef]], null)
      override def end(): Unit = ()
    }
    override def getCurrentRecord: Array[Any] = row
    override def getRootConverter: GroupConverter = root
  }
}

package graft.io

import java.util.concurrent.atomic.AtomicLong
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{MessageType, PrimitiveType, Type}
import org.apache.spark.sql.types._

/** A table read on the calling thread with parquet-mr: no Spark job, for
  * the serving reads that fetch kilobytes (a dictionary bucket, a term's
  * blocks, a page of doc metadata, the stats and tombstone tables).
  *
  * The file list, partition values and schema are those of `listing`, one
  * [[TableIO.files]] call: the committed manifest for [[SnapshotTableIO]],
  * one directory listing for [[ParquetTableIO]]. A reader that builds its
  * Spark DataFrame from the same listing therefore scans the same snapshot,
  * never an orphan file. `partitions` prunes files on their partition
  * values before any is opened. Each file's footer is read once and kept
  * by the listing; later reads open the file with the kept footer.
  *
  * [[In]] predicates on data columns reach parquet as `FilterApi` `eq`
  * predicates (row-group statistics and dictionaries, then the page column
  * index through `readNextFilteredRowGroup`), and only the requested
  * columns are read. Within the kept pages the predicate columns are
  * decoded first, row by row, and checked here, so pushdown only prunes
  * and never decides an answer; the other columns are decoded only for the
  * rows that pass and skipped otherwise. A requested column a file lacks
  * fails the read; it never reads as null.
  *
  * Safe for concurrent callers: each read opens its own file readers. */
private[graft] final class DirectTable(listing: TableListing) {
  import DirectTable._

  private val conf = listing.conf
  private val types: Map[String, DataType] =
    listing.schema.fields.iterator.map(f => f.name -> f.dataType).toMap

  /** The table's data files, in path order. */
  def files: IndexedSeq[DataFile] = listing.files

  /** Files opened, row groups read and row groups skipped (by statistics,
    * dictionaries or the page index) across this table's reads. */
  val filesOpened = new AtomicLong(0L)
  val rowGroupsRead = new AtomicLong(0L)
  val rowGroupsSkipped = new AtomicLong(0L)
  /** Footers read from storage for this table, its schema's included: at
    * most one per file, however many reads. */
  def footersRead: Long = listing.footersRead.get

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
    // the predicate columns first, then the other requested data columns
    val predCols = where.map(_.column).distinct
    val dataCols = (predCols ++ columns).distinct.filterNot(file.values.contains)
    val footer = listing.footer(file.path)
    val fileSchema = footer.getFileMetaData.getSchema
    val fields = dataCols.map { c =>
      if (!fileSchema.containsField(c))
        throw new IllegalStateException(s"column $c is missing from ${file.path}")
      val t = fileSchema.getType(fileSchema.getFieldIndex(c))
      if (!t.isPrimitive || t.isRepetition(Type.Repetition.REPEATED))
        throw new IllegalStateException(s"column $c of ${file.path} is not a flat primitive")
      t
    }
    val filter = where.map(pushed).reduceOption(FilterApi.and)
      .map(FilterCompat.get).getOrElse(FilterCompat.NOOP)
    val input = HadoopInputFile.fromPath(file.path, conf)
    val stream = input.newStream()
    val reader =
      try ParquetFileReader.open(input, footer,
        HadoopReadOptions.builder(conf).withRecordFilter(filter).build(), stream)
      catch { case e: Throwable => stream.close(); throw e }
    try {
      filesOpened.incrementAndGet()
      val requested = new MessageType(fileSchema.getName, fields: _*)
      reader.setRequestedSchema(requested)
      val columnsOf = requested.getColumns
      val nCols = dataCols.size
      val decoders = Array.tabulate(nCols)(j => decoder(columnsOf.get(j),
        types.get(dataCols(j)).contains(StringType)))
      val maxDef = Array.tabulate(nCols)(j => columnsOf.get(j).getMaxDefinitionLevel)
      // each predicate column's accepted raw values (strings as their
      // UTF-8 bytes, compared before any string is built)
      val accepted = predCols.map { c =>
        val w = where.filter(_.column == c)
        val vs = w.map(_.values).reduce(_ intersect _)
        if (types.get(c).contains(StringType))
          vs.map(v => Binary.fromString(v.asInstanceOf[String]): Any)
        else vs
      }.toArray
      // where each output column comes from: a data column's index, or -1
      val slot = columns.map(dataCols.indexOf).toArray
      val createdBy = footer.getFileMetaData.getCreatedBy
      val converter = new IgnoringConverter(nCols)
      val raw = new Array[Any](nCols)
      val total = footer.getBlocks.size
      var read = 0
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        read += 1
        val store = new ColumnReadStoreImpl(pages, converter, requested, createdBy)
        val readers = Array.tabulate(nCols)(j => store.getColumnReader(columnsOf.get(j)))
        var i = 0L
        val n = pages.getRowCount
        while (i < n) {
          var pass = true
          var j = 0
          while (j < nCols) {
            val r = readers(j)
            val defined = r.getCurrentDefinitionLevel == maxDef(j)
            if (!pass) { if (defined) r.skip() }
            else {
              val v = if (defined) decoders(j).raw(r) else null
              raw(j) = v
              if (j < accepted.length && !accepted(j).contains(v)) pass = false
            }
            r.consume()
            j += 1
          }
          if (pass) {
            val row = new Array[Any](slot.length)
            var k = 0
            while (k < slot.length) {
              val s = slot(k)
              row(k) = if (s < 0) file.values(columns(k)) else decoders(s).value(raw(s))
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

  /** The files of serving shard `(i, n)` — `docGroup % n == i` — or every
    * file when unsharded. */
  def inShard(shard: Option[(Int, Int)]): DataFile => Boolean = shard match {
    case Some((i, n)) => f => java.lang.Math.floorMod(f.long("docGroup"), n.toLong) == i
    case None => _ => true
  }

  /** Reads one column's current value: `raw` as parquet decodes it (a
    * `Binary` for binary columns), `value` as the caller gets it (a String
    * for string columns, bytes for other binary columns). */
  private final class Decoder(val raw: ColumnReader => Any, val value: Any => Any)

  private def decoder(c: ColumnDescriptor, string: Boolean): Decoder = {
    import PrimitiveType.PrimitiveTypeName._
    c.getPrimitiveType.getPrimitiveTypeName match {
      case INT32 => new Decoder(_.getInteger, identity)
      case INT64 => new Decoder(_.getLong, identity)
      case DOUBLE => new Decoder(_.getDouble, identity)
      case FLOAT => new Decoder(_.getFloat, identity)
      case BOOLEAN => new Decoder(_.getBoolean, identity)
      case BINARY | FIXED_LEN_BYTE_ARRAY => new Decoder(_.getBinary, {
        case b: Binary => if (string) b.toStringUsingUTF8 else b.getBytes
        case null => null
      })
      case t => throw new IllegalStateException(s"column ${c.getPath.mkString(".")}: $t is not supported")
    }
  }

  /** The converter tree a `ColumnReadStoreImpl` asks for; values are read
    * from the column readers directly, so it receives none. */
  private final class IgnoringConverter(n: Int) extends GroupConverter {
    private val cells: Array[Converter] = Array.fill(n)(new PrimitiveConverter {})
    override def getConverter(i: Int): Converter = cells(i)
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}

package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** On-disk format stamp of an index root: a one-line `_format_version` file
  * holding [[Current]]. Every path that creates an index root writes it
  * (build, and a resume or upsert that lands on an empty directory);
  * readers and writers of an existing index refuse a missing or different
  * stamp, so an index written in another layout fails loudly at open
  * instead of decoding its posting blocks as garbage. One small file read
  * or write through the Hadoop filesystem, never a Spark job.
  *
  * Versions: 2 = posting blocks split into a header region and a positions
  * region ([[Codec.encodeBlock]]). Indexes written before the stamp
  * existed carry none and are refused.
  */
object FormatVersion {

  val Current: String = "2"

  def path(dir: String): Path = new Path(s"$dir/_format_version")

  /** The stamp's version, or None when the index root carries none. */
  def read(spark: SparkSession, dir: String): Option[String] = {
    val p = path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }
  }

  /** Stamp a newly created index root with [[Current]]. */
  def write(spark: SparkSession, dir: String): Unit = {
    val p = path(dir)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(s"$Current\n".getBytes("UTF-8")) finally out.close()
  }

  /** Refuse an index root whose stamp is missing or not [[Current]]. */
  def require(spark: SparkSession, dir: String): Unit = read(spark, dir) match {
    case Some(Current) => ()
    case found => throw new IllegalStateException(
      s"index at $dir has format version ${found.getOrElse("<missing>")}, " +
        s"this build reads format version $Current: rebuild the index")
  }

  /** For writers that may create the index root: a root without any index
    * table is new and gets stamped; an existing index must carry the
    * current stamp. */
  def requireOrCreate(spark: SparkSession, dir: String): Unit = {
    val layout = IndexBuilder.Layout(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(p: String) = { val h = new Path(p); h.getFileSystem(conf).exists(h) }
    val isNew = read(spark, dir).isEmpty &&
      !Seq(layout.docs, layout.postings, layout.lineage).exists(exists)
    if (isNew) write(spark, dir) else require(spark, dir)
  }
}

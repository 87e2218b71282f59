package graft

import graft.core.CorpusGen
import graft.index.{Compaction, FormatVersion, IndexBuilder, Upsert}
import graft.query.{QueryEngine, SearchIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The index-root format stamp: every path that creates an index writes
  * it, and opening or writing an index whose stamp is missing or
  * different fails loudly, naming the directory and both versions. */
class FormatVersionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val params = IndexBuilder.Params(blockSize = 32, docGroupSize = 64L,
    fields = Seq("content"))

  private def corpus = CorpusGen.generateDF(spark, 120L, seed = 23L, partitions = 2)

  private def stamp(dir: String, v: Option[String]): Unit = {
    val p = FormatVersion.path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    v match {
      case None => fs.delete(p, false)
      case Some(s) =>
        val out = fs.create(p, true)
        try out.write(s"$s\n".getBytes("UTF-8")) finally out.close()
    }
  }

  private def top(dir: String): Seq[(Long, Double)] =
    QueryEngine.search(new SearchIndex(spark, dir), "python tutorial")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq

  test("build and a resume onto an empty directory stamp the current version") {
    val built = "/tmp/graft-test/format-built"
    IndexBuilder.build(spark, corpus, built, params)
    assert(FormatVersion.read(spark, built).contains(FormatVersion.Current))

    val resumed = "/tmp/graft-test/format-resumed"
    IndexBuilder.deleteDir(spark, resumed)
    IndexBuilder.resume(spark, corpus, resumed, params)
    assert(FormatVersion.read(spark, resumed).contains(FormatVersion.Current))
    assert(top(resumed) == top(built))
  }

  test("an index with its stamp removed or rewritten fails loudly") {
    val dir = "/tmp/graft-test/format-guard"
    IndexBuilder.build(spark, corpus.filter(col("docId") < 100), dir, params)
    val before = top(dir)
    val more = params.copy(inputSnapshot = "snapshot-1")
    for (bad <- Seq(None, Some("1"))) {
      stamp(dir, bad)
      val found = bad.getOrElse("<missing>")
      def refused(what: String)(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        Seq(dir, found, FormatVersion.Current).foreach(s =>
          assert(e.getMessage.contains(s), s"$what: '$s' not in: ${e.getMessage}"))
      }
      refused("open")(new SearchIndex(spark, dir))
      refused("resume")(IndexBuilder.resume(spark, corpus, dir, more))
      refused("compact")(Compaction.compact(spark, dir, blockSize = 32))
      refused("upsert")(Upsert.upsert(spark, corpus.drop("docId"), dir, more,
        Seq("repo", "path")))
    }
    // the refusals wrote nothing: restamped, the index answers as before
    stamp(dir, Some(FormatVersion.Current))
    assert(top(dir) == before)
  }
}

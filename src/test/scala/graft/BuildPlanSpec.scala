package graft

import graft.core.CorpusGen
import graft.index.IndexBuilder
import graft.query.{QueryEngine, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import org.apache.spark.graft.JobRecorder
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the build's exchange plan and of warm()'s job shape.
  *
  * Block/dictionary CONTENT must not depend on how the build's exchanges
  * are partitioned: 8 and 512 shuffle partitions put the 300 docGroups'
  * runs into different tasks and files, never into different blocks. */
class BuildPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def blockRows(dir: String): Seq[(String, String, Long, Int, Long, Long,
      Int, Long, Int, Int, Int, Int, Seq[Byte])] =
    spark.read.parquet(s"$dir/postings")
      .selectExpr("field", "term", "cast(docGroup as long) docGroup", "blockIdx",
        "firstDocId", "lastDocId", "n", "sumTf", "maxTf", "minTf", "minDl",
        "maxDl", "bytes")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.getLong(4), r.getLong(5), r.getInt(6), r.getLong(7),
        r.getInt(8), r.getInt(9), r.getInt(10), r.getInt(11),
        r.getAs[Array[Byte]](12).toSeq))
      .toSeq.sortBy(t => (t._1, t._2, t._3, t._4))

  private def dictRows(dir: String): Seq[(String, String, Long, Long, Long, Int, Int)] =
    spark.read.parquet(s"$dir/dictionary")
      .select("field", "term", "df", "totalTf", "nBlocks", "maxTf", "minDl")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5), r.getInt(6)))
      .toSeq.sorted

  test("block content is independent of the shuffle partition count") {
    val n = 600L
    // docGroupSize 2 -> 300 groups: more than 32 per task under the test
    // session's 8 shuffle partitions, fewer than one under 512
    val params = IndexBuilder.Params(blockSize = 8, docGroupSize = 2L,
      fields = Seq("content"))
    val corpus = CorpusGen.generateDF(spark, n, 7L, partitions = 3)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val narrowDir = "/tmp/graft-test/build-8-partitions"
    val wideDir = "/tmp/graft-test/build-512-partitions"
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      IndexBuilder.deleteDir(spark, narrowDir)
      IndexBuilder.build(spark, corpus, narrowDir, params)
      spark.conf.set("spark.sql.shuffle.partitions", "512")
      IndexBuilder.deleteDir(spark, wideDir)
      IndexBuilder.build(spark, corpus, wideDir, params)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)

    assert(blockRows(narrowDir).nonEmpty)
    assert(blockRows(narrowDir) == blockRows(wideDir),
      "posting blocks differ between 8 and 512 shuffle partitions")
    assert(dictRows(narrowDir) == dictRows(wideDir))

    val opts = SearchOpts(k = 10, overfetch = 3, diversity = true)
    val a = QueryEngine.search(new SearchIndex(spark, narrowDir),
      "python tutorial", opts).collect().toSeq
    val b = QueryEngine.search(new SearchIndex(spark, wideDir),
      "python tutorial", opts).collect().toSeq
    assert(a == b, "search diverged between build plans")
  }

  test("warm() runs only the postings and docs cache fills, and a search " +
      "on the warmed handle runs as many jobs as on a cold one") {
    val dir = "/tmp/graft-test/warm-jobs"
    IndexBuilder.deleteDir(spark, dir)
    IndexBuilder.build(spark,
      CorpusGen.generateDF(spark, 300L, 9L, partitions = 3), dir,
      IndexBuilder.Params(blockSize = 32, docGroupSize = 128L))
    val sc = spark.sparkContext
    val opts = SearchOpts(k = 10, overfetch = 3)
    def page(idx: SearchIndex) = JobRecorder.record(sc)(
      QueryEngine.search(idx, "machine learning", opts).collect().toSeq)
    // the cold search first: the cache fills below serve every handle
    // whose plan reads the same files
    val (coldPage, coldJobs) = page(new SearchIndex(spark, dir))
    val warmed = new SearchIndex(spark, dir)
    try {
      val (_, warmJobs) = JobRecorder.record(sc)(warmed.warm())
      // a scan's Location lists the table's files, each under its directory
      def reads(j: JobRecorder.Job, table: String) = j.plan.contains(s"$dir/$table/")
      assert(warmJobs.nonEmpty && warmJobs.forall(j => j.plan.contains("InMemoryRelation") &&
        (reads(j, "postings") != reads(j, "docs"))),
        s"warm() ran a job other than a postings or docs cache fill: $warmJobs")
      assert(Seq("postings", "docs").forall(t => warmJobs.exists(reads(_, t))))
      val (warmPage, searchJobs) = page(warmed)
      assert(warmPage.nonEmpty && warmPage == coldPage, "the warmed handle's page differs")
      assert(searchJobs.size == coldJobs.size,
        s"warmed search ran ${searchJobs.size} jobs, cold ${coldJobs.size}")
    } finally {
      warmed.postings.unpersist(blocking = true)
      warmed.docs.unpersist(blocking = true)
    }
  }
}

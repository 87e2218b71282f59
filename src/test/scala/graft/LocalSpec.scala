package graft

import graft.core.CorpusGen
import graft.index.IndexBuilder
import graft.io.{ParquetTableIO, SnapshotTableIO, TableIO}
import graft.query.{LocalSearcher, QueryEngine, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.graft.JobRecorder
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Serving mode must be rank- AND score-identical to the distributed
  * engine — same index tables, same scoring code, no Spark jobs per query. */
class LocalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val (index, local) = {
    val dir = "/tmp/graft-test/local-index"
    IndexBuilder.build(spark,
      CorpusGen.generateDF(spark, 1000L, seed = 19L, partitions = 4), dir,
      IndexBuilder.Params(blockSize = 64, docGroupSize = 256L,
        fields = Seq("content", "path")))
    val idx = new SearchIndex(spark, dir)
    (idx, LocalSearcher.load(idx))
  }

  private val queries = Seq("python tutorial", "machine learning basics",
    "database performance tuning", "javascript async await",
    "react hooks usestate", "the if return")

  test("serving mode == distributed search (rank + score), incl. diversity") {
    val opts = SearchOpts(k = 10)
    queries.foreach { q =>
      val dist = QueryEngine.search(index, q, opts)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      val loc = LocalSearcher.search(local, q, opts)
        .map(h => (h.rank, h.docId, h.score))
      assert(loc == dist, s"serving mode diverged on '$q'")
    }
  }

  test("serving mode == distributed search with multi-field + phrase") {
    val opts = SearchOpts(k = 10, fields = Seq("content" -> 1.5, "path" -> 2.5),
      phraseBoost = 2.0)
    Seq("machine learning", "python tutorial").foreach { q =>
      val dist = QueryEngine.search(index, q, opts)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      val loc = LocalSearcher.search(local, q, opts)
        .map(h => (h.rank, h.docId, h.score))
      assert(loc == dist, s"serving mode diverged on '$q' (multi-field)")
    }
  }

  test("sharded serving (scatter-gather over docGroup shards) == unsharded") {
    val sharded = LocalSearcher.loadSharded(index, nShards = 3)
    // shards partition the doc space exactly (probed at page grain now —
    // doc metadata is served by the bounded cache, not an at-open map)
    val allIds = index.docs.select("docId").collect().map(_.getLong(0)).toSeq
    val perShard = sharded.shards.map(_.docsOf(allIds))
    assert(perShard.map(_.size).sum == allIds.size,
      "shards must partition the doc space without overlap or loss")
    assert(perShard.forall(_.nonEmpty))
    for {
      opts <- Seq(SearchOpts(k = 10),
        SearchOpts(k = 10, diversity = false),
        SearchOpts(k = 10, fields = Seq("content" -> 1.5, "path" -> 2.5),
          phraseBoost = 2.0))
      q <- queries
    } {
      val one = LocalSearcher.search(local, q, opts)
      val many = LocalSearcher.searchSharded(sharded, q, opts)
      assert(many == one, s"sharded serving diverged on '$q' ($opts)")
    }
  }

  test("block-max WAND skips block decodes on a tf-skewed corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 4000 docs: 30 planted docs at the FRONT carry 'needle' at tf=40;
    // ~1/3 of the rest carry it at tf=1 (df < N/2 keeps idf positive).
    // The heap floor rises to the planted scores within the first block,
    // after which every later block's upper bound (tf=1) falls below it —
    // the WAND machinery must skip those decodes entirely.
    val docs = spark.range(0, 4000).map { i =>
      val tf = if (i < 30) 40 else if (i % 3 == 0) 1 else 0
      val filler = (0 until (30 + (i % 40)).toInt)
        .map(j => s"w${(i * 7 + j) % 199}").mkString(" ")
      (i, "r" + (i % 5), s"p/$i", "en", (("needle " * tf) + filler).trim)
    }.toDF("docId", "repo", "path", "lang", "content")
    val dir = "/tmp/graft-test/skew-index"
    IndexBuilder.build(spark, docs, dir,
      IndexBuilder.Params(blockSize = 64, docGroupSize = 4096L))
    val li = LocalSearcher.load(new SearchIndex(spark, dir))
    val totalBlocks = li.blocksFor("content", "needle").length
    assert(totalBlocks > 10, s"expected many blocks, got $totalBlocks")

    li.decodeCount.set(0L)
    val hits = LocalSearcher.search(li, "needle",
      SearchOpts(k = 10, overfetch = 3, diversity = false))
    val decoded = li.decodeCount.get
    assert(hits.nonEmpty && hits.head.docId < 30L,
      s"top hit must be a planted high-tf doc, got ${hits.map(_.docId)}")
    assert(decoded < totalBlocks,
      s"block-max WAND decoded all $totalBlocks blocks — no pruning")
    // and pruning never changes results: exhaustive-equivalent check
    val dist = QueryEngine.search(new SearchIndex(spark, dir), "needle",
      SearchOpts(k = 10, overfetch = 3, diversity = false, wand = false))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(hits.map(h => (h.rank, h.docId, h.score)) == dist)
  }

  test("byte-budgeted block cache: identity under constant eviction + bounded footprint") {
    // a budget far below the index's postings bytes forces eviction on
    // every query; results must stay identical to the unbounded image and
    // the resident footprint must respect the cap
    val budget = 16 * 1024L
    val capped = LocalSearcher.load(index, blockCacheBytes = budget)
    for {
      opts <- Seq(SearchOpts(k = 10),
        SearchOpts(k = 10, fields = Seq("content" -> 1.5, "path" -> 2.5),
          phraseBoost = 2.0))
      q <- queries
    } {
      val a = LocalSearcher.search(capped, q, opts)
      val b = LocalSearcher.search(local, q, opts)
      assert(a == b, s"budgeted serving diverged on '$q' ($opts)")
      assert(capped.residentBlockBytes <= budget,
        s"cache over budget: ${capped.residentBlockBytes} > $budget")
    }
    // repeat pass: still identical (evicted terms re-fetch correctly)
    queries.foreach { q =>
      assert(LocalSearcher.search(capped, q, SearchOpts(k = 10)) ==
        LocalSearcher.search(local, q, SearchOpts(k = 10)))
    }
    assert(capped.residentBlockTerms > 0)
  }

  test("budgeted doc-metadata cache: identity under eviction + bounded residency") {
    // a cap below one page (k*overfetch = 30) forces eviction on every
    // paginate; results must stay identical and residency must respect it
    val cap = 10
    val capped = LocalSearcher.load(index, docCacheEntries = cap)
    for {
      opts <- Seq(SearchOpts(k = 10),
        SearchOpts(k = 10, fields = Seq("content" -> 1.5, "path" -> 2.5),
          phraseBoost = 2.0))
      q <- queries
    } {
      val a = LocalSearcher.search(capped, q, opts)
      val b = LocalSearcher.search(local, q, opts)
      assert(a == b, s"doc-capped serving diverged on '$q' ($opts)")
      assert(capped.residentDocs <= cap,
        s"doc cache over cap: ${capped.residentDocs} > $cap")
    }
    // repeat pass: evicted metadata re-probes correctly
    queries.foreach { q =>
      assert(LocalSearcher.search(capped, q, SearchOpts(k = 10)) ==
        LocalSearcher.search(local, q, SearchOpts(k = 10)))
    }
    assert(capped.residentDocs > 0)
  }

  test("serving-mode latency is reference-class (sub-20ms once warm)") {
    val opts = SearchOpts(k = 10)
    queries.foreach(q => LocalSearcher.search(local, q, opts)) // warm
    val times = (1 to 5).flatMap { _ =>
      queries.map { q =>
        val t0 = System.nanoTime()
        LocalSearcher.search(local, q, opts)
        (System.nanoTime() - t0) / 1e6
      }
    }.sorted
    val p50 = times(times.length / 2)
    // generous bound: the reference reports 3-20ms on comparable corpus size
    assert(p50 < 50.0, s"serving p50 ${p50}ms too slow: $times")
  }

  test("empty/unknown queries return empty") {
    assert(LocalSearcher.search(local, "", SearchOpts()).isEmpty)
    assert(LocalSearcher.search(local, "zzzznotaword", SearchOpts()).isEmpty)
  }

  private def bits(hits: Seq[LocalSearcher.Hit]): Seq[(Int, Long, Long)] =
    hits.map(h => (h.rank, h.docId, java.lang.Double.doubleToRawLongBits(h.score)))

  test("cold reader: the first search == a warmed reader == the exhaustive plan, bitwise") {
    val phrase = SearchOpts(k = 10, fields = Seq("content" -> 1.5, "path" -> 2.5),
      phraseBoost = 2.0)
    Seq(
      "python tutorial" -> SearchOpts(k = 10),
      "machine learning" -> phrase,
      "python zzqxabsent tutorial" -> SearchOpts(k = 10), // one term the dictionary lacks
      "zzqxabsent qqvvnothere" -> SearchOpts(k = 10) // every term absent
    ).foreach { case (q, opts) =>
      LocalSearcher.search(local, q, opts) // warms the shared reader
      val cold = LocalSearcher.load(index)
      val first = LocalSearcher.search(cold, q, opts)
      val warm = LocalSearcher.search(local, q, opts)
      val exhaustive = QueryEngine.search(index, q, opts.copy(wand = false)).collect()
        .map(r => (r.getInt(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
      assert(first == warm, s"'$q': cold reader != warmed reader")
      assert(bits(first) == bits(warm) && bits(first) == exhaustive,
        s"'$q': cold reader != exhaustive plan")
      assert(first.isEmpty == q.startsWith("zzqx"), s"'$q': ${first.size} hits")
    }
  }

  test("cold sharded readers: 2 x max(4, nproc) shards finish (no nested-pool deadlock), == unsharded") {
    val n = 2 * math.max(4, Runtime.getRuntime.availableProcessors())
    val sharded = LocalSearcher.loadSharded(index, n)
    val opts = SearchOpts(k = 10)
    val got = Await.result(Future(queries.map(q => LocalSearcher.searchSharded(sharded, q, opts)))(
      ExecutionContext.global), 5.minutes)
    assert(got == queries.map(q => LocalSearcher.search(local, q, opts)))
  }

  test("cold search failure: a table deleted under an open reader rethrows " +
      "the reader's own exception and leaves no partial cache entry") {
    /** A copy of the fixture index with every table open, then `table` removed. */
    def without(table: String): SearchIndex = {
      val d = new File(s"/tmp/graft-test/local-index-no-$table")
      FileUtils.deleteDirectory(d)
      FileUtils.copyDirectory(new File(index.dir), d)
      val idx = new SearchIndex(spark, d.getPath)
      idx.postings; idx.dictionary; idx.docs; idx.dictBuckets
      FileUtils.deleteDirectory(new File(d, table))
      idx
    }
    def thrownIn(e: Throwable, method: String) =
      e.getStackTrace.exists(_.getMethodName.endsWith(method))
    val q = "python tutorial"
    val keys = Seq("python", "tutorial").map(t => ("content", t))

    // the block fetch fails: its own exception, as the direct read throws
    // it; the dictionary read before it completed and cached whole entries
    val noPostings = without("postings")
    val li = LocalSearcher.load(noPostings)
    val e = intercept[Throwable](LocalSearcher.search(li, q))
    assert(e.isInstanceOf[java.io.FileNotFoundException], s"not the read's own exception: $e")
    assert(thrownIn(e, "fetchBlocks"), s"not the block fetch's exception: $e")
    val direct = intercept[Throwable](LocalSearcher.load(noPostings).blocksOf(keys))
    assert(e.getClass == direct.getClass, s"rethrown $e, the read itself throws $direct")
    assert(li.residentBlockTerms == 0, "a failed block fetch left cache entries")
    assert(li.residentDictTerms == keys.size, "the dictionary probe did not complete")
    assert(intercept[Throwable](LocalSearcher.search(li, q)).getClass == e.getClass,
      "a repeat after the failure did not fail the same way")

    // the dictionary probe fails: nothing is cached, no block is fetched
    val li2 = LocalSearcher.load(without("dictionary"))
    val e2 = intercept[Throwable](LocalSearcher.search(li2, q))
    assert(e2.isInstanceOf[java.io.FileNotFoundException] && thrownIn(e2, "lookup"),
      s"not the dictionary probe's exception: $e2")
    assert(li2.residentDictTerms == 0 && li2.residentBlockTerms == 0)

    // the page read fails: no doc entry is cached
    val li3 = LocalSearcher.load(without("docs"))
    val e3 = intercept[Throwable](LocalSearcher.search(li3, q))
    assert(e3.isInstanceOf[java.io.FileNotFoundException] && thrownIn(e3, "pageProbe"),
      s"not the page read's exception: $e3")
    assert(li3.residentDocs == 0, "a failed page read left cache entries")
    assert(li3.residentDictTerms == keys.size && li3.residentBlockTerms == keys.size)
  }

  test("a candidate whose docs row is missing is dropped alike by both tiers") {
    import org.apache.spark.sql.functions.col
    val q = "python tutorial"
    val opts = SearchOpts(k = 10)
    val gone = LocalSearcher.search(local, q, opts).head.docId
    // a copy of the fixture index whose docs table lacks `gone`'s row
    val d = new File("/tmp/graft-test/local-index-missing-doc")
    FileUtils.deleteDirectory(d)
    FileUtils.copyDirectory(new File(index.dir), d)
    val docsPath = s"${d.getPath}/docs"
    val docs = spark.read.parquet(docsPath)
    val at = docs.filter(col("docId") === gone).select("docGroup", "segment").head()
    val rest = docs.filter(col("docGroup") === at.get(0) && col("segment") === at.get(1) &&
      col("docId") =!= gone)
    ParquetTableIO.overwritePartitions(spark.createDataFrame(
      java.util.Arrays.asList(rest.collect(): _*), rest.schema), docsPath, Seq("docGroup", "segment"))

    val idx = new SearchIndex(spark, d.getPath)
    val dist = QueryEngine.search(idx, q, opts).collect()
      .map(r => (r.getInt(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
    val served = LocalSearcher.search(LocalSearcher.load(idx), q, opts)
    assert(bits(served) == dist, "the tiers dropped the candidate differently")
    assert(LocalSearcher.searchSharded(LocalSearcher.loadSharded(idx, 3), q, opts) == served)
    assert(dist.size == opts.k && !dist.exists(_._2 == gone), s"'$gone' not dropped: $dist")
  }

  /** The fixture corpus built again on snapshot storage. */
  private lazy val snapshotDir = {
    val dir = "/tmp/graft-test/local-index-snapshot"
    IndexBuilder.deleteDir(spark, dir)
    IndexBuilder.build(spark,
      CorpusGen.generateDF(spark, 1000L, seed = 19L, partitions = 4), dir,
      IndexBuilder.Params(blockSize = 64, docGroupSize = 256L,
        fields = Seq("content", "path"), io = SnapshotTableIO))
    dir
  }

  test("job shape: a fresh reader's load and first cold queries run no Spark job, " +
      "dictionary_meta and stats reads included, on ParquetTableIO and SnapshotTableIO") {
    val sc = spark.sparkContext
    val opts = SearchOpts(k = 10)
    // the second query has a term the dictionary lacks: the banded re-probe
    val qs = Seq("database performance tuning", "python zzqxabsent tutorial")
    Seq((ParquetTableIO: TableIO) -> index.dir, (SnapshotTableIO: TableIO) -> snapshotDir)
        .foreach { case (io, dir) =>
      // before the direct reads: 1 job to load, 4 for the first cold query
      val (hits, jobs) = JobRecorder.record(sc) {
        val li = LocalSearcher.load(new SearchIndex(spark, dir, io))
        qs.map(q => LocalSearcher.search(li, q, opts))
      }
      assert(jobs.isEmpty, s"$io: fresh reader load + cold queries ran jobs $jobs")
      assert(hits.forall(_.nonEmpty))
      val dist = qs.map(q => QueryEngine.search(new SearchIndex(spark, dir, io), q, opts)
        .collect().map(r => (r.getInt(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq)
      assert(hits.map(bits) == dist, s"$io: cold serving pages != distributed pages")
    }
  }

  test("a warmed index (tables cached) reads the same pages") {
    val warmed = new SearchIndex(spark, index.dir).warm()
    try {
      assert(warmed.docsTable.files.nonEmpty && warmed.postingsTable.files.nonEmpty,
        "the direct reader lost the files of a cached table")
      val opts = SearchOpts(k = 10)
      queries.foreach { q =>
        val page = QueryEngine.search(warmed, q, opts).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
        assert(page.nonEmpty || q == "the if return")
        assert(LocalSearcher.search(LocalSearcher.load(warmed), q, opts)
          .map(h => (h.rank, h.docId, h.score)) == page, s"'$q': warmed serving != warmed engine")
        assert(LocalSearcher.search(local, q, opts).map(h => (h.rank, h.docId, h.score)) == page,
          s"'$q': warmed engine != cold serving")
      }
    } finally {
      warmed.postings.unpersist(blocking = true)
      warmed.docs.unpersist(blocking = true)
    }
  }

  test("job shape: a warm repeat runs no Spark job and opens no file") {
    val sc = spark.sparkContext
    val opts = SearchOpts(k = 10)
    val q = "database performance tuning"
    val idx = new SearchIndex(spark, index.dir)
    val li = LocalSearcher.load(idx)
    val hits = LocalSearcher.search(li, q, opts)
    def opened = Seq(idx.dictionaryTable, idx.postingsTable, idx.docsTable)
      .map(_.filesOpened.get).sum
    val before = opened
    assert(before > 0, "the cold query opened no file")
    val (again, jobs) = JobRecorder.record(sc)(LocalSearcher.search(li, q, opts))
    assert(again == hits)
    assert(jobs.isEmpty, s"warm repeat ran jobs: $jobs")
    assert(opened == before, "warm repeat read files")
  }
}

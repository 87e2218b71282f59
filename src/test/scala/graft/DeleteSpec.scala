package graft

import graft.core.CorpusGen
import graft.index.{Compaction, Deletes, IndexBuilder}
import graft.query.{LocalSearcher, OracleBM25, QueryEngine, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tombstone deletes (graft.index.Deletes — the Lucene live-docs model):
  *   - query-time exclusion in ALL paths (WAND, exhaustive, serving,
  *     sharded serving, fallback wildcard), with stats deliberately stale
  *     until purge — verified against OracleBM25 scored with FULL-corpus
  *     stats over live docs only;
  *   - physical purge at compaction: expungeDeletes leaves an index
  *     BITWISE equal to a fresh build of the survivor corpus, and GC keeps
  *     exactly the tombstones whose docs survive a PARTIAL merge;
  *   - idempotence, unknown-id no-ops, staged-swap crash recovery.
  */
class DeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val params = IndexBuilder.Params(blockSize = 32, docGroupSize = 128L,
    fields = Seq("content"))
  private val queries = Seq("python tutorial", "machine learning",
    "database performance tuning", "data")
  private val delPred = pmod(col("docId"), lit(7)) === 3

  private def buildAt(dir: String, n: Long, seed: Long): Unit = {
    IndexBuilder.deleteDir(spark, dir)
    IndexBuilder.build(spark, CorpusGen.generateDF(spark, n, seed, partitions = 3),
      dir, params)
  }

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Double)] =
    df.select("rank", "docId", "score").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq

  /** Oracle with Lucene live-delete semantics: index (stats/df) over ALL
    * docs, candidates restricted to live docs. */
  private def liveOracle(dir: String, n: Long, seed: Long)
      : (OracleBM25.Index, Seq[OracleBM25.OracleDoc]) = {
    val meta = spark.read.parquet(s"$dir/docs")
      .select("docId", "repo", "path", "qualityScore", "repoScore")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getDouble(3), r.getDouble(4))).toMap
    val docs = CorpusGen.generateDF(spark, n, seed, partitions = 3)
      .select("docId", "content").collect().map { r =>
        val id = r.getLong(0)
        val (repo, path, q, rs) = meta(id)
        OracleBM25.OracleDoc(id, repo, path, Map("content" -> r.getString(1)), q, rs)
      }.toSeq
    (new OracleBM25.Index(docs, Seq("content")), docs.filter(_.docId % 7 != 3))
  }

  test("live deletes: WAND == exhaustive == full-stats oracle over live docs; " +
      "serving and sharded serving identical") {
    val dir = "/tmp/graft-test/del-live"
    buildAt(dir, 400L, seed = 11L)
    val total = Deletes.deleteWhere(spark, dir, delPred)
    assert(total == spark.read.parquet(s"$dir/docs")
      .filter(delPred).count(), "every matching doc tombstoned")
    assert(total > 0, "fixture must actually delete something")

    val idx = new SearchIndex(spark, dir)
    assert(idx.deletes.size == total)
    val (oidx, liveDocs) = liveOracle(dir, 400L, seed = 11L)
    val li = LocalSearcher.load(idx)
    val sh = LocalSearcher.loadSharded(idx, 3)

    for (q <- queries) {
      val opts = SearchOpts(k = 10, overfetch = 3, diversity = false)
      val wand = hits(QueryEngine.search(idx, q, opts))
      val exh = hits(QueryEngine.search(idx, q, opts.copy(wand = false)))
      val want = OracleBM25.search(oidx, liveDocs, q, opts)
        .map(h => (h.rank, h.docId, h.score))
      assert(wand.forall(_._2 % 7 != 3), s"deleted doc in WAND results for '$q'")
      assert(wand == exh, s"WAND != exhaustive under deletes for '$q'")
      assert(wand == want, s"engine != live-docs oracle for '$q'")
      val serve = LocalSearcher.search(li, q, opts).map(h => (h.rank, h.docId, h.score))
      val sharded = LocalSearcher.searchSharded(sh, q, opts).map(h => (h.rank, h.docId, h.score))
      assert(serve == wand, s"serving path diverges under deletes for '$q'")
      assert(sharded == wand, s"sharded serving diverges under deletes for '$q'")
    }
  }

  test("deletes are idempotent; unknown ids are a no-op; deleteIds resolves groups") {
    val dir = "/tmp/graft-test/del-idem"
    buildAt(dir, 300L, seed = 12L)
    import spark.implicits._
    val n1 = Deletes.deleteIds(spark, dir, Seq(5L, 9L, 131L).toDF("docId"))
    assert(n1 == 3)
    // re-delete + unknown ids: set union, unknowns dropped
    val n2 = Deletes.deleteIds(spark, dir, Seq(5L, 9L, 999999L, -4L).toDF("docId"))
    assert(n2 == 3)
    // groups resolved against the docs table (docGroupSize=128); read via
    // Deletes.df — the raw partition column path-infers as Int
    val groups = Deletes.df(spark, dir).get
      .select("docId", "docGroup").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(5L -> 0L, 9L -> 0L, 131L -> 1L))
    // membership view
    val ds = Deletes.loadSet(spark, dir)
    assert(ds.contains(0L, 5L) && ds.contains(1L, 131L) && !ds.contains(0L, 6L))
    assert(!ds.contains(7L, 999999L))
  }

  test("expungeDeletes: purged index bitwise == fresh build of the survivor " +
      "corpus; tombstones gone; queries equal exact-stats results") {
    val dir = "/tmp/graft-test/del-purge"
    val fresh = "/tmp/graft-test/del-purge-fresh"
    buildAt(dir, 400L, seed = 13L)
    Deletes.deleteWhere(spark, dir, delPred)
    // single segment: plain compact() is a no-op, the expunge knob is not
    assert(Compaction.compact(spark, dir, blockSize = params.blockSize).isEmpty)
    assert(Compaction.expungeDeletes(spark, dir, params.blockSize).nonEmpty)
    assert(Deletes.count(spark, dir) == 0L, "all tombstones applied -> GC'd")
    assert(!IndexBuilder.fileExists(spark, Deletes.tombstones(dir)),
      "empty tombstone table must disappear")
    // re-expunge with no tombstones: no-op
    assert(Compaction.expungeDeletes(spark, dir, params.blockSize).isEmpty)

    IndexBuilder.deleteDir(spark, fresh)
    IndexBuilder.build(spark,
      CorpusGen.generateDF(spark, 400L, 13L, partitions = 3).filter(!delPred),
      fresh, params)

    def table(d: String, name: String, cols: Seq[String]) =
      spark.read.parquet(s"$d/$name").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    val blockCols = Seq("field", "term", "firstDocId", "lastDocId", "n",
      "sumTf", "maxTf", "minTf", "minDl", "maxDl")
    val purgedBlocks = spark.read.parquet(s"$dir/postings")
      .select((blockCols.map(col) :+ md5(col("bytes")).as("b")): _*)
      .collect().map(_.toSeq).toSet
    val freshBlocks = spark.read.parquet(s"$fresh/postings")
      .select((blockCols.map(col) :+ md5(col("bytes")).as("b")): _*)
      .collect().map(_.toSeq).toSet
    assert(purgedBlocks == freshBlocks, "posting blocks differ from fresh build")
    assert(table(dir, "docs", Seq("docId", "repo", "path", "dl_content")) ==
      table(fresh, "docs", Seq("docId", "repo", "path", "dl_content")))
    assert(table(dir, "dictionary",
        Seq("field", "term", "df", "totalTf", "nBlocks", "maxTf", "minDl")) ==
      table(fresh, "dictionary",
        Seq("field", "term", "df", "totalTf", "nBlocks", "maxTf", "minDl")))
    assert(table(dir, "stats", Seq("field", "n", "avgdl")) ==
      table(fresh, "stats", Seq("field", "n", "avgdl")))

    // and the purged index now answers with EXACT stats — identical to the
    // fresh survivor build, rank and score
    val pi = new SearchIndex(spark, dir)
    val fi = new SearchIndex(spark, fresh)
    for (q <- queries)
      assert(hits(QueryEngine.search(pi, q, SearchOpts())) ==
        hits(QueryEngine.search(fi, q, SearchOpts())))
  }

  test("partial merge: purges only the merged segments' deletes, GC keeps " +
      "tombstones pointing into unmerged segments, exclusion still total") {
    val dir = "/tmp/graft-test/del-partial"
    IndexBuilder.deleteDir(spark, dir)
    val corpus = CorpusGen.generateDF(spark, 300L, 14L, partitions = 3)
    IndexBuilder.build(spark, corpus.filter(col("docId") < 100), dir, params)
    IndexBuilder.resume(spark, corpus.filter(col("docId") < 200), dir,
      params.copy(inputSnapshot = "snapshot-1"))
    IndexBuilder.resume(spark, corpus, dir, params.copy(inputSnapshot = "snapshot-2"))
    // deletes straddling the merge boundary: some in snapshot-0/1 (will be
    // purged), some in snapshot-2 (must survive as tombstones)
    val delIds = Seq(10L, 55L, 150L, 210L, 290L)
    import spark.implicits._
    Deletes.deleteIds(spark, dir, delIds.toDF("docId"))
    val merged = Compaction.compactSegments(spark, dir,
      Seq("snapshot-0", "snapshot-1"), params.blockSize)
    assert(merged.nonEmpty)
    // GC: docs 10/55/150 purged with the merge -> tombstones dropped;
    // 210/290 live in snapshot-2 -> tombstones kept
    val left = spark.read.parquet(Deletes.tombstones(dir))
      .select("docId").collect().map(_.getLong(0)).toSet
    assert(left == Set(210L, 290L))
    // purged ids are out of the postings physically
    graft.functions.GraftFunctions.register(spark)
    val inPostings = spark.read.parquet(s"$dir/postings")
      .select(explode(expr("decode_postings(firstDocId, bytes)")).as("p"))
      .select(col("p.docId")).distinct()
      .filter(col("docId").isin(delIds: _*)).collect().map(_.getLong(0)).toSet
    assert(inPostings == Set(210L, 290L), "merged segments must not carry deleted docs")
    // exclusion is still total through every path
    val idx = new SearchIndex(spark, dir)
    for (q <- queries) {
      val r = hits(QueryEngine.search(idx, q, SearchOpts(k = 50, diversity = false)))
      assert(r.forall(h => !delIds.contains(h._2)), s"deleted doc served for '$q'")
      assert(r == hits(QueryEngine.search(idx, q,
        SearchOpts(k = 50, diversity = false, wand = false))))
    }
  }

  test("fallback wildcard arm excludes tombstoned docs") {
    val dir = "/tmp/graft-test/del-fallback"
    buildAt(dir, 200L, seed = 15L)
    val idx0 = new SearchIndex(spark, dir)
    // pick a path needle matching some doc, then tombstone that doc
    val victim = idx0.docs.select("docId", "path").limit(1).collect()(0)
    val needle = victim.getString(1).toLowerCase
    Deletes.deleteIds(spark, dir,
      { import spark.implicits._; Seq(victim.getLong(0)).toDF("docId") })
    val idx = new SearchIndex(spark, dir)
    val out = QueryEngine.fallback(idx, needle).select("docId")
      .collect().map(_.getLong(0)).toSet
    assert(!out.contains(victim.getLong(0)), "wildcard arm served a deleted doc")
  }

  test("tombstone broadcast budget: over-budget opens route deletes through " +
      "the declarative anti-join path with identical results") {
    val dir = "/tmp/graft-test/del-budget"
    buildAt(dir, 400L, seed = 17L)
    val total = Deletes.deleteWhere(spark, dir, delPred)
    assert(total > 1, "fixture must delete more than the tiny budget")

    // loadSet honors the budget: over it, the membership view is NOT
    // materialized and the marker is returned instead
    val over = Deletes.loadSet(spark, dir, maxEntries = 1L)
    assert(over.overBudget && over.isEmpty)
    assert(!Deletes.loadSet(spark, dir).overBudget, "default stays unbounded")

    val bounded = new SearchIndex(spark, dir,
      maxBroadcastTombstones = 1L)
    assert(bounded.deletes.overBudget)
    val reference = new SearchIndex(spark, dir)
    assert(!reference.deletes.overBudget)
    for (q <- queries) {
      val opts = SearchOpts(k = 10, overfetch = 3, diversity = false)
      val viaJoin = hits(QueryEngine.search(bounded, q, opts))
      val viaSet = hits(QueryEngine.search(reference, q, opts))
      assert(viaJoin.forall(_._2 % 7 != 3), s"deleted doc served for '$q'")
      assert(viaJoin == viaSet, s"anti-join fallback diverged for '$q'")
    }
  }

  test("staged-swap crash recovery: stage beside live is dropped, stage " +
      "after rename-away is rolled in") {
    val dir = "/tmp/graft-test/del-crash"
    buildAt(dir, 200L, seed = 16L)
    import spark.implicits._
    Deletes.deleteIds(spark, dir, Seq(1L, 2L).toDF("docId"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(Deletes.tombstones(dir))
    val stage = new org.apache.hadoop.fs.Path(Deletes.tombstones(dir) + "._stage")
    val old = new org.apache.hadoop.fs.Path(Deletes.tombstones(dir) + "._old")

    // window A: crash mid-stage-write (stage beside live) -> stage dropped,
    // live state intact
    fs.mkdirs(stage)
    assert(Deletes.count(spark, dir) == 2L)
    assert(!fs.exists(stage))

    // window B: crash between rename-away and rename-in -> stage (complete
    // by protocol) is rolled in
    val recovered = new org.apache.hadoop.fs.Path(dir, "tombstones_copy")
    org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, recovered, false,
      spark.sparkContext.hadoopConfiguration)
    fs.rename(live, old)
    fs.rename(recovered, stage)
    assert(Deletes.count(spark, dir) == 2L)
    assert(fs.exists(live) && !fs.exists(stage) && !fs.exists(old))
    assert(new SearchIndex(spark, dir).deletes.size == 2L)
  }

  test("one tombstone load per reader open: the serving tier reuses the set " +
      "SearchIndex loaded, and loads its own only over the broadcast budget") {
    val dir = "/tmp/graft-test/del-open"
    buildAt(dir, 200L, seed = 18L)
    val total = Deletes.deleteWhere(spark, dir, delPred)
    assert(total > 1)
    // 0: the tombstone view and the stats are read directly on the
    // driver. 3 before (the view's groupBy, its shuffle stage and result
    // under AQE, and the stats collect); 10 before that (a schema-inference
    // job per table read, a budget count() per SearchIndex open and a
    // second tombstone load in LocalSearcher.load)
    val ((idx, li), jobs) = JobRecorder.record(spark.sparkContext) {
      val idx = new SearchIndex(spark, dir)
      (idx, LocalSearcher.load(idx))
    }
    assert(jobs.isEmpty, s"reader open jobs: $jobs")
    assert(li.deletes eq idx.deletes, "the serving tier reloaded the tombstones")
    assert(li.deletes.size == total)
    val bounded = new SearchIndex(spark, dir, maxBroadcastTombstones = 1L)
    assert(bounded.deletes.overBudget)
    val served = LocalSearcher.load(bounded).deletes
    assert(!served.overBudget && served.size == total,
      "over budget, the serving tier must hold every tombstone")
  }

  test("listing counts with tombstones: a fresh reader's open and first cold " +
      "queries make no TableIO.read call and one TableIO.files call per table, " +
      "tombstones included, on ParquetTableIO and SnapshotTableIO; the " +
      "distributed page on the same handle == the serving page, bitwise") {
    import graft.io.{ParquetTableIO, SnapshotTableIO, TableIO}
    Seq((ParquetTableIO: TableIO) -> "/tmp/graft-test/del-count-p",
        (SnapshotTableIO: TableIO) -> "/tmp/graft-test/del-count-s").foreach { case (base, dir) =>
      IndexBuilder.deleteDir(spark, dir)
      IndexBuilder.build(spark, CorpusGen.generateDF(spark, 400L, 17L, partitions = 3),
        dir, params.copy(io = base))
      assert(Deletes.deleteWhere(spark, dir, delPred, base) > 1)
      val io = new CountingTableIO(base)
      val idx = new SearchIndex(spark, dir, io)
      val li = LocalSearcher.load(idx)
      val opts = SearchOpts(k = 10)
      val served = queries.map(q => LocalSearcher.search(li, q, opts)
        .map(h => (h.rank, h.docId, java.lang.Double.doubleToRawLongBits(h.score))))
      assert(served.count(_.nonEmpty) > 1 && served.flatten.forall(_._2 % 7 != 3))
      assert(io.reads.isEmpty, s"$base: the serving reader called read on ${io.reads}")
      val layout = IndexBuilder.Layout(dir)
      val touched = Seq(Deletes.tombstones(dir), layout.stats, layout.dictionaryMeta,
        layout.dictionary, layout.postings, layout.docs)
      assert(io.listings.sorted == touched.sorted, s"$base: listings ${io.listings}")
      val dist = queries.map(q => QueryEngine.search(idx, q, opts).collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
      assert(dist == served, s"$base: distributed pages != serving pages")
      assert(io.listings.sorted == touched.sorted && io.reads.isEmpty,
        s"$base: the distributed plan read storage again: ${io.listings} ${io.reads}")
    }
  }
}

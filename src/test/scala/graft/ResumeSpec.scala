package graft

import graft.core.CorpusGen
import graft.index.IndexBuilder
import graft.query.{QueryEngine, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-resume semantics (north_rule): a build interrupted after some
  * docGroups completes via lineage anti-join, and the result is
  * indistinguishable from a from-scratch build — exactly-once postings, no
  * double-counted tf (SURVEY §7.6 hard-part 5). */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val params = IndexBuilder.Params(blockSize = 32, docGroupSize = 128L,
    fields = Seq("content"))

  test("partial build + resume == full build (dictionary, stats, lineage, search)") {
    import spark.implicits._
    val corpus = CorpusGen.generateDF(spark, 600L, seed = 11L, partitions = 4)
    val full = "/tmp/graft-test/resume-full"
    val part = "/tmp/graft-test/resume-part"

    IndexBuilder.build(spark, corpus, full, params)

    // simulate a mid-build crash: only half the docGroups were committed
    val groups = corpus.select(floor($"docId" / 128d).cast("long").as("g"))
      .distinct().as[Long].collect().sorted
    val firstHalf = groups.take(groups.length / 2).toSet
    val partial = corpus.filter(floor($"docId" / 128d).cast("long")
      .isin(firstHalf.toSeq: _*))
    IndexBuilder.build(spark, partial, part, params)

    // lineage after the "crash" covers only the first half
    val lin1 = spark.read.parquet(s"$part/lineage")
      .select("partitionId").as[Long].collect().toSet
    assert(lin1 == firstHalf)

    // resume with the FULL corpus under a fresh snapshot: only pending rows
    // get built (distinct inputSnapshot per input batch is the contract)
    IndexBuilder.resume(spark, corpus, part,
      params.copy(inputSnapshot = "snapshot-1"))

    val lin2 = spark.read.parquet(s"$part/lineage")
      .select("partitionId").as[Long].collect().toSet
    assert(lin2 == groups.toSet)

    def dict(dir: String) = spark.read.parquet(s"$dir/dictionary")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(dict(part) == dict(full), "dictionary differs after resume")

    def stats(dir: String) = spark.read.parquet(s"$dir/stats")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stats(part) == stats(full), "stats differ after resume")

    val iFull = new SearchIndex(spark, full)
    val iPart = new SearchIndex(spark, part)
    Seq("python tutorial", "machine learning", "the if return").foreach { q =>
      val a = QueryEngine.search(iFull, q, SearchOpts()).collect().map(_.toSeq).toSeq
      val b = QueryEngine.search(iPart, q, SearchOpts()).collect().map(_.toSeq).toSeq
      assert(a == b, s"resumed index answers differently on '$q'")
    }
  }

  test("incremental derived maintenance == full re-derivation, bitwise") {
    import spark.implicits._
    // derived tables maintained across incremental appends: three straddled
    // batches (cuts inside docGroups of 128) ingested as a build and two
    // resumes, against a monolithic fresh build; a tiny bucket target so
    // the vocabulary spans many (tlen, termBucket) pairs
    val all = CorpusGen.generateDF(spark, 600L, seed = 53L, partitions = 4)
    val res = "/tmp/graft-test/straddled-resumes"
    val mono = "/tmp/graft-test/straddled-mono"
    val p = params.copy(dictTargetBucketRows = 32L)
    val cuts = Seq(0L -> 150L, 150L -> 400L, 400L -> Long.MaxValue)
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val batch = all.filter($"docId" >= lo && $"docId" < hi)
      val pi = p.copy(inputSnapshot = s"s$i")
      if (i == 0) IndexBuilder.build(spark, batch, res, pi)
      else IndexBuilder.resume(spark, batch, res, pi)
    }
    IndexBuilder.build(spark, all, mono, p)

    def rows(d: String, t: String, cols: Seq[String]) =
      spark.read.parquet(s"$d/$t").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    // packing-independent dictionary columns, the bucket assignment included
    // (a 3-segment index legitimately has more, partial, blocks)
    val nb = IndexBuilder.dictBucketCount(spark, mono).get
    assert(nb >= 8, s"fixture too small to exercise bucketing (nBuckets=$nb)")
    assert(IndexBuilder.dictBucketCount(spark, res).contains(nb))
    val dictStable = Seq("field", "term", "df", "totalTf", "maxTf", "minDl",
      "tlen", "termBucket")
    assert(rows(res, "dictionary", dictStable) == rows(mono, "dictionary", dictStable),
      "resumed dictionary != monolithic build on packing-independent columns")
    val statCols = Seq("field", "n", "avgdl", "sumDl")
    assert(rows(res, "stats", statCols) == rows(mono, "stats", statCols),
      "resumed stats != monolithic build (avgdl must be BITWISE equal)")
    // combinable metrics and fan-in are packing-independent: after batch 0
    // the corpus spanned 2 groups, the straddled appends grew common terms
    // to 5 — exact right after the last resume
    val metricCols = Seq("field", "docs", "postingsEmitted", "bytesRawEstimate",
      "maxMergeFanIn", "avgMergeFanIn", "shaViolations", "docIdCollisions")
    assert(rows(res, "metrics", metricCols) == rows(mono, "metrics", metricCols),
      "resumed metrics != monolithic build")
    def maxFan(d: String) = spark.read.parquet(s"$d/metrics")
      .select("maxMergeFanIn").as[Long].collect().head
    assert(maxFan(mono) == 5L, s"corpus shape drifted: maxFan=${maxFan(mono)}")
    assert(maxFan(res) == 5L, s"fan-in not current after the resume: ${maxFan(res)}")
    // packing-dependent metrics match the resumed index's own postings
    val blocks = spark.read.parquet(s"$res/postings")
      .agg(count(lit(1)), sum(length($"bytes"))).collect()(0)
    assert(rows(res, "metrics", Seq("blocks", "bytesCompressed")) ==
      Set(Seq(blocks.getLong(0), blocks.getLong(1))),
      "metrics blocks/bytes do not describe the committed postings")

    // query-level differential on top of the table-level one
    val iRes = new SearchIndex(spark, res)
    val iMono = new SearchIndex(spark, mono)
    Seq("python tutorial", "machine learning", "the if return").foreach { q =>
      val a = QueryEngine.search(iRes, q, SearchOpts()).collect().map(_.toSeq).toSeq
      val b = QueryEngine.search(iMono, q, SearchOpts()).collect().map(_.toSeq).toSeq
      assert(a == b, s"resumed index answers differently on '$q'")
    }
  }

  test("dictionary_meta absent (crash window) -> a resume restores it") {
    import spark.implicits._
    val all = CorpusGen.generateDF(spark, 300L, seed = 71L, partitions = 2)
    val dir = "/tmp/graft-test/dict-meta-crash"
    IndexBuilder.build(spark, all.filter($"docId" < 150), dir, params)
    assert(IndexBuilder.dictBucketCount(spark, dir).isDefined)
    graft.io.ParquetTableIO.drop(spark, s"$dir/dictionary_meta")
    assert(IndexBuilder.dictBucketCount(spark, dir).isEmpty)
    IndexBuilder.resume(spark, all.filter($"docId" >= 150), dir,
      params.copy(inputSnapshot = "s1"))
    assert(IndexBuilder.dictBucketCount(spark, dir).isDefined,
      "the refresh must restore dictionary_meta")
  }

  test("resume on a complete index is a no-op for postings counts") {
    import spark.implicits._
    val corpus = CorpusGen.generateDF(spark, 300L, seed = 13L, partitions = 3)
    val dir = "/tmp/graft-test/resume-noop"
    IndexBuilder.build(spark, corpus, dir, params)
    val before = spark.read.parquet(s"$dir/metrics")
      .select("postingsEmitted").as[Long].collect().toSeq
    IndexBuilder.resume(spark, corpus, dir,
      params.copy(inputSnapshot = "snapshot-1"))
    val after = spark.read.parquet(s"$dir/metrics")
      .select("postingsEmitted").as[Long].collect().toSeq
    assert(before == after, "resume double-counted postings")
  }

  test("pending-row filter is a join against lineage — no driver isin/collect") {
    import spark.implicits._
    val corpus = CorpusGen.generateDF(spark, 300L, seed = 19L, partitions = 3)
    val dir = "/tmp/graft-test/resume-plan"
    IndexBuilder.build(spark, corpus, dir, params)
    val withGroups = corpus
      .withColumn("docGroup", floor(col("docId") / 128d).cast("long"))
    val pending = IndexBuilder.pendingRows(withGroups,
      spark.read.parquet(s"$dir/lineage"), denseIds = true)
    val plan = pending.queryExecution.optimizedPlan.toString
    assert(plan.contains("Join"), s"pending filter is not a join:\n$plan")
    assert(!plan.contains(" IN ("), s"pending filter uses literal isin:\n$plan")
    assert(pending.count() == 0, "complete index should have no pending rows")
  }

  test("append to a committed group lands as a new segment, not a drop") {
    import spark.implicits._
    // group 0 is [0, 128); first batch fills it only partially
    val all = CorpusGen.generateDF(spark, 200L, seed = 23L, partitions = 2)
    val b1 = all.filter($"docId" < 100)
    val b2 = all.filter($"docId" >= 100) // 100..127 straddle committed group 0
    val dir = "/tmp/graft-test/resume-straddle"
    val full = "/tmp/graft-test/resume-straddle-full"
    IndexBuilder.build(spark, b1, dir, params)
    IndexBuilder.resume(spark, b2, dir, params.copy(inputSnapshot = "snapshot-1"))
    IndexBuilder.build(spark, all, full, params)

    def dict(d: String) = spark.read.parquet(s"$d/dictionary")
      .select("field", "term", "df", "totalTf").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(dict(dir) == dict(full), "straddled append lost or duplicated postings")
    assert(spark.read.parquet(s"$dir/docs").count() == 200L)

    val iApp = new SearchIndex(spark, dir)
    val iFull = new SearchIndex(spark, full)
    Seq("python tutorial", "machine learning", "the if return").foreach { q =>
      val a = QueryEngine.search(iApp, q, SearchOpts()).collect().map(_.toSeq).toSeq
      val b = QueryEngine.search(iFull, q, SearchOpts()).collect().map(_.toSeq).toSeq
      assert(a == b, s"appended index answers differently on '$q'")
    }
  }

  test("crash between segment write and lineage commit: retry is exactly-once") {
    import spark.implicits._
    val all = CorpusGen.generateDF(spark, 300L, seed = 31L, partitions = 2)
    val b1 = all.filter($"docId" < 150)
    val b2 = all.filter($"docId" >= 150)
    val dir = "/tmp/graft-test/resume-crash"
    val full = "/tmp/graft-test/resume-crash-full"
    IndexBuilder.build(spark, b1, dir, params)
    IndexBuilder.resume(spark, b2, dir, params.copy(inputSnapshot = "snapshot-1"))
    // simulate the crash window: postings/docs for snapshot-1 are on disk
    // but its lineage partition (the commit marker, written last) is not
    graft.io.ParquetTableIO.deletePartitions(spark, s"$dir/lineage",
      Seq("inputSnapshot" -> "snapshot-1"))
    // the retry re-presents the same batch under the SAME snapshot: its
    // dynamic partition overwrite must replace its own partitions, not
    // duplicate them
    IndexBuilder.resume(spark, b2, dir, params.copy(inputSnapshot = "snapshot-1"))

    IndexBuilder.build(spark, all, full, params)
    assert(spark.read.parquet(s"$dir/docs").count() == 300L,
      "crash-retry duplicated or lost docs")
    def dict(d: String) = spark.read.parquet(s"$d/dictionary")
      .select("field", "term", "df", "totalTf").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(dict(dir) == dict(full), "crash-retry double-counted postings")
    val q = "python tutorial"
    val a = QueryEngine.search(new SearchIndex(spark, dir), q, SearchOpts())
      .collect().map(_.toSeq).toSeq
    val b = QueryEngine.search(new SearchIndex(spark, full), q, SearchOpts())
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("a batch of zero-token docs still commits its lineage (no re-ingest loop)") {
    import spark.implicits._
    val b1 = CorpusGen.generateDF(spark, 100L, seed = 41L, partitions = 2)
    // batch 2: docs whose content tokenizes to NOTHING — no postings at all
    val b2 = spark.range(100, 120)
      .select($"id".as("docId"), lit("r0").as("repo"),
        concat(lit("p/"), $"id").as("path"), lit("c").as("commit"),
        lit("en").as("lang"), lit("!!! ??? ***").as("content"))
    val b3 = CorpusGen.generateDF(spark, 300L, seed = 41L, partitions = 2)
      .filter($"docId" >= 200 && $"docId" < 220)
    val dir = "/tmp/graft-test/resume-zerotok"
    IndexBuilder.build(spark, b1, dir, params)
    IndexBuilder.resume(spark, b2.toDF(), dir, params.copy(inputSnapshot = "s1"))
    // the zero-posting batch must be committed: its groups carry lineage
    val committedMax = spark.read.parquet(s"$dir/lineage")
      .agg(max($"maxDocId")).collect()(0).getLong(0)
    assert(committedMax == 119L,
      s"zero-token batch not committed (maxDocId=$committedMax)")
    // and later appends neither re-ingest it nor trip the collision audit
    IndexBuilder.resume(spark, b3, dir, params.copy(inputSnapshot = "s2"))
    assert(spark.read.parquet(s"$dir/docs").count() == 140L)
  }

  test("hash-id corpora (no docId column): resume skips whole done groups") {
    import spark.implicits._
    // static-build contract: ids derive from xxhash64 -> pmod group buckets;
    // resume of the SAME corpus must be a no-op (group-level anti-join)
    val corpus = CorpusGen.generateDF(spark, 200L, seed = 37L, partitions = 2)
      .drop("docId")
    val dir = "/tmp/graft-test/resume-hashids"
    IndexBuilder.build(spark, corpus, dir, params)
    val before = spark.read.parquet(s"$dir/metrics")
      .select("postingsEmitted").as[Long].collect().head
    assert(before > 0)
    IndexBuilder.resume(spark, corpus, dir,
      params.copy(inputSnapshot = "snapshot-1"))
    val after = spark.read.parquet(s"$dir/metrics")
      .select("postingsEmitted").as[Long].collect().head
    assert(after == before, "hash-id resume re-ingested done groups")
    assert(spark.read.parquet(s"$dir/docs").count() == 200L)
  }

  test("docId collision audit fails the build") {
    import spark.implicits._
    val corpus = CorpusGen.generateDF(spark, 100L, seed = 29L, partitions = 2)
      .withColumn("docId", col("docId") % 50) // force collisions
    val e = intercept[IllegalStateException] {
      IndexBuilder.build(spark, corpus, "/tmp/graft-test/resume-collide", params)
    }
    assert(e.getMessage.contains("docId collision"))

    // a colliding append raises the same error and commits no lineage row,
    // and a clean retry of the batch equals an index that never saw the
    // collision. The two colliding docs share id 450 (docGroup 3, outside
    // the clean batch) and no term, so only the docs write sees them: the
    // postings write commits its partitions and the failed append must
    // drop them again
    val all = CorpusGen.generateDF(spark, 300L, seed = 29L, partitions = 2)
    val batch = all.filter($"docId" >= 200)
    val twins = batch.filter($"docId" >= 298)
      .withColumn("content", when($"docId" === 298L, lit("alpha alpha")).otherwise(lit("beta")))
      .withColumn("docId", lit(450L))
    val colliding = batch.filter($"docId" < 298).unionByName(twins)
    val dir = "/tmp/graft-test/resume-collide-append"
    val clean = "/tmp/graft-test/resume-collide-clean"
    val s1 = params.copy(inputSnapshot = "s1")
    Seq(dir, clean).foreach(d => IndexBuilder.build(spark, all.filter($"docId" < 200), d, params))
    val e2 = intercept[IllegalStateException](IndexBuilder.resume(spark, colliding, dir, s1))
    assert(e2.getMessage.contains("docId collision"), e2.getMessage)
    assert(spark.read.parquet(s"$dir/lineage").filter($"inputSnapshot" === "s1").isEmpty,
      "a colliding append committed a lineage row")
    IndexBuilder.resume(spark, batch, dir, s1)
    IndexBuilder.resume(spark, batch, clean, s1)
    for (t <- Seq("docs", "postings", "dictionary", "dictionary_meta", "stats",
        "metrics", "lineage"))
      assert(TableRows.same(graft.io.ParquetTableIO, dir, clean, t),
        s"$t differs after the clean retry")
  }

  test("sha256 invariant: corrupted content is detected per row and per group") {
    import spark.implicits._
    val corpus = CorpusGen.generateDF(spark, 200L, seed = 17L, partitions = 2)
    // corrupt one row: content changes but carried sha256 does not
    val corrupted = corpus.withColumn("content",
      when($"docId" === corpus.select(min($"docId")).as[Long].collect()(0),
        concat($"content", lit(" tampered"))).otherwise($"content"))
    val dir = "/tmp/graft-test/sha-violation"
    IndexBuilder.build(spark, corrupted, dir, params)
    val viol = spark.read.parquet(s"$dir/metrics")
      .select("shaViolations").as[Long].collect().head
    assert(viol == 1L, s"expected exactly 1 sha violation, got $viol")
    assert(spark.read.parquet(s"$dir/lineage").filter(!$"shaOk").count() == 1)
    assert(spark.read.parquet(s"$dir/docs").filter(!$"shaOk").count() == 1)
  }
}

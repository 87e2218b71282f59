package graft

import graft.core.CorpusGen
import graft.index.{Compaction, IndexBuilder}
import graft.query.{QueryEngine, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Segment compaction (force-merge analog): merging all committed segments
  * must leave an index BITWISE equal to a fresh monolithic build of the
  * same corpus at the same blockSize — same doc rows, same encoded posting
  * blocks, same dictionary/stats — and queries must be invariant across the
  * whole protocol, including both crash windows (pre-commit roll-back,
  * post-commit roll-forward). */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val params = IndexBuilder.Params(blockSize = 32, docGroupSize = 128L,
    fields = Seq("content"))
  private val queries = Seq("python tutorial", "machine learning", "data")

  /** 3 batches cut at docIds 100/200 with docGroupSize=128: groups 0 and 1
    * each end up holding TWO segments (the straddled-append shape a
    * streaming ingest produces). */
  private def buildFragmented(dir: String, seed: Long) = {
    val corpus = CorpusGen.generateDF(spark, 300L, seed, partitions = 2)
    IndexBuilder.build(spark, corpus.filter(col("docId") < 100), dir, params)
    IndexBuilder.resume(spark, corpus.filter(col("docId") < 200), dir,
      params.copy(inputSnapshot = "snapshot-1"))
    IndexBuilder.resume(spark, corpus, dir,
      params.copy(inputSnapshot = "snapshot-2"))
    corpus
  }

  private def segmentsOf(dir: String): Set[String] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/lineage")
      .select("inputSnapshot").distinct().as[String].collect().toSet
  }

  private def searchAll(dir: String): Seq[Seq[Seq[Any]]] = {
    val idx = new SearchIndex(spark, dir)
    queries.map(q =>
      QueryEngine.search(idx, q, SearchOpts()).collect().map(_.toSeq).toSeq)
  }

  private def blockRows(dir: String) =
    spark.read.parquet(s"$dir/postings")
      .select(col("field"), col("term"), col("docGroup"), col("blockIdx"),
        col("firstDocId"), col("lastDocId"), col("n"), col("sumTf"),
        col("maxTf"), col("minTf"), col("minDl"), col("maxDl"),
        md5(col("bytes")).as("b"))
      .collect().map(_.toSeq).toSet

  private def dict(dir: String) = spark.read.parquet(s"$dir/dictionary")
    .select("field", "term", "df", "totalTf", "nBlocks", "maxTf", "minDl")
    .collect().map(_.toSeq).toSet

  test("compact == fresh monolithic build bitwise; queries invariant; blocks shrink") {
    val dir = "/tmp/graft-test/compaction"
    val fresh = "/tmp/graft-test/compaction-fresh"
    // TWO fields: the merge is keyed (field, term, docGroup) — a multi-field
    // index must round-trip bitwise too
    val params = this.params.copy(fields = Seq("content", "path"))
    val corpus = CorpusGen.generateDF(spark, 300L, 61L, partitions = 2)
    IndexBuilder.build(spark, corpus.filter(col("docId") < 100), dir, params)
    IndexBuilder.resume(spark, corpus.filter(col("docId") < 200), dir,
      params.copy(inputSnapshot = "snapshot-1"))
    IndexBuilder.resume(spark, corpus, dir,
      params.copy(inputSnapshot = "snapshot-2"))
    assert(segmentsOf(dir) == Set("snapshot-0", "snapshot-1", "snapshot-2"))
    // the straddled groups really are fragmented (falsifiability guard)
    val multiSegGroups = spark.read.parquet(s"$dir/postings")
      .groupBy("docGroup").agg(countDistinct("segment").as("s"))
      .filter(col("s") > 1).count()
    assert(multiSegGroups >= 2, "fixture failed to fragment any docGroup")
    val pre = searchAll(dir)
    val preBlocks = blockRows(dir).size

    val res = Compaction.compact(spark, dir, blockSize = 32)
    assert(res.contains(Compaction.segmentName(
      Seq("snapshot-0", "snapshot-1", "snapshot-2"))))
    assert(segmentsOf(dir) == Set(res.get))
    assert(searchAll(dir) == pre, "compaction changed query results")
    assert(blockRows(dir).size < preBlocks, "compaction merged no blocks")

    IndexBuilder.build(spark, corpus, fresh, params)
    assert(blockRows(dir) == blockRows(fresh),
      "compacted posting blocks != fresh monolithic build")
    assert(dict(dir) == dict(fresh), "compacted dictionary != fresh build")
    def docRows(d: String) = spark.read.parquet(s"$d/docs").drop("segment")
      .collect().map(_.toSeq).toSet
    assert(docRows(dir) == docRows(fresh), "compacted docs != fresh build")
    def stats(d: String) = spark.read.parquet(s"$d/stats")
      .collect().map(_.toSeq).toSet
    assert(stats(dir) == stats(fresh))
    // lineage per-group commit state carries over (resume semantics intact)
    def lin(d: String) = spark.read.parquet(s"$d/lineage")
      .select("partitionId", "docs", "maxDocId", "shaOk")
      .collect().map(_.toSeq).toSet
    assert(lin(dir) == lin(fresh), "compacted lineage group state drifted")

    // single-segment index: compaction is a no-op
    assert(Compaction.compact(spark, dir, blockSize = 32).isEmpty)
  }

  private def dictCore(dir: String) = spark.read.parquet(s"$dir/dictionary")
    .select("field", "term", "df", "totalTf", "maxTf", "minDl")
    .collect().map(_.toSeq).toSet

  test("partial compaction: contiguous tail merges, stats invariant; interleaved run refused") {
    val dir = "/tmp/graft-test/compaction-partial"
    buildFragmented(dir, seed = 73L)
    val pre = searchAll(dir)
    val preDict = dictCore(dir)

    val res = Compaction.compactSegments(spark, dir,
      Seq("snapshot-1", "snapshot-2"), blockSize = 32)
    assert(res.contains(Compaction.segmentName(Seq("snapshot-1", "snapshot-2"))))
    assert(segmentsOf(dir) == Set("snapshot-0", res.get),
      "partial merge must leave untouched segments in place")
    assert(searchAll(dir) == pre, "partial compaction changed query results")
    assert(dictCore(dir) == preDict, "partial compaction drifted term stats")

    // A run that would interleave an unmerged segment's range must be
    // refused: cut batches WITHIN one docGroup (128 docs, cuts at 40/80) so
    // group 0 holds snapshot-0 < snapshot-1 < snapshot-2.
    val dir2 = "/tmp/graft-test/compaction-gap"
    val corpus = CorpusGen.generateDF(spark, 128L, seed = 79L, partitions = 2)
    IndexBuilder.build(spark, corpus.filter(col("docId") < 40), dir2, params)
    IndexBuilder.resume(spark, corpus.filter(col("docId") < 80), dir2,
      params.copy(inputSnapshot = "snapshot-1"))
    IndexBuilder.resume(spark, corpus, dir2,
      params.copy(inputSnapshot = "snapshot-2"))
    val e = intercept[IllegalArgumentException] {
      Compaction.compactSegments(spark, dir2,
        Seq("snapshot-0", "snapshot-2"), blockSize = 32)
    }
    assert(e.getMessage.contains("contiguous"))
    // the refused call must not have touched anything
    assert(segmentsOf(dir2) == Set("snapshot-0", "snapshot-1", "snapshot-2"))
  }

  test("compactToBudget merges the cheapest contiguous window down to the budget") {
    val dir = "/tmp/graft-test/compaction-tail"
    buildFragmented(dir, seed = 83L)
    val pre = searchAll(dir)
    // the policy minimizes lineage bytesCompressed over contiguous windows
    // (ingest order s0 < s1 < s2, so the candidates at budget 2 are
    // {s0,s1} and {s1,s2}) — compute the expected pick from lineage
    val bytes = spark.read.parquet(s"$dir/lineage")
      .groupBy(col("inputSnapshot"))
      .agg(org.apache.spark.sql.functions.sum(col("bytesCompressed")).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Seq(Seq("snapshot-0", "snapshot-1"),
        Seq("snapshot-1", "snapshot-2"))
      .minBy(_.map(bytes).sum)
    val r = Compaction.compactToBudget(spark, dir, maxSegments = 2, blockSize = 32)
    assert(r.contains(Compaction.segmentName(expected)),
      s"policy must pick the min-bytes contiguous window $expected")
    val survivor = (Set("snapshot-0", "snapshot-1", "snapshot-2") -- expected).head
    assert(segmentsOf(dir) == Set(survivor, r.get))
    assert(searchAll(dir) == pre, "budget merge changed query results")
    assert(Compaction.compactToBudget(spark, dir, maxSegments = 2, blockSize = 32)
      .isEmpty, "within-budget index must be a no-op")
  }

  test("compactToBudget falls through to the next-cheapest contiguous window (non-monotone ingest)") {
    import spark.implicits._
    val dir = "/tmp/graft-test/compaction-nonmono"
    // out-of-order file batches: b0 spans TWO disjoint id ranges (its
    // global maxDocId is driven by the high range), b1/b2 fill the gap in
    // group 0 — global ingest order (b1 < b2 < b0) then disagrees with
    // group 0's range order (b0 < b1 < b2)
    def docs(ids: Seq[Long], content: Long => String) = ids
      .map(i => (i, s"r${i % 3}", s"p/$i", "sc", content(i)))
      .toDF("docId", "repo", "path", "lang", "content")
    val short = (i: Long) => s"alpha beta w$i"
    val long = (i: Long) => (0 until 400).map(j => s"w${(i * 7 + j) % 900}").mkString(" ")
    val params = IndexBuilder.Params(blockSize = 32, docGroupSize = 128L,
      fields = Seq("content"))
    IndexBuilder.build(spark, docs(0L until 10L, short) union docs(500L until 510L, short),
      dir, params.copy(inputSnapshot = "b0"))
    IndexBuilder.resume(spark, docs(10L until 20L, long), dir,
      params.copy(inputSnapshot = "b1")) // heavy: most postings bytes
    IndexBuilder.resume(spark, docs(20L until 30L, short), dir,
      params.copy(inputSnapshot = "b2"))
    def hits(d: String) = QueryEngine.search(new SearchIndex(spark, d),
      "alpha beta", SearchOpts()).collect().map(_.toSeq).toSeq
    val pre = hits(dir)
    assert(pre.nonEmpty, "fixture query must match")
    // cheapest window at budget 2 is {b2, b0} (both light), but it is
    // non-contiguous in group 0 (b1's range sits between) — the policy
    // must reject it and merge the next-cheapest {b1, b2} instead
    val r = Compaction.compactToBudget(spark, dir, maxSegments = 2, blockSize = 32)
    assert(r.contains(Compaction.segmentName(Seq("b1", "b2"))),
      s"expected fallback to the contiguous window {b1,b2}, got $r")
    assert(segmentsOf(dir) == Set("b0", r.get))
    assert(hits(dir) == pre, "fallback merge changed query results")
  }

  test("compaction carries lineage timestamps forward (retention age survives the merge)") {
    val dir = "/tmp/graft-test/compaction-age"
    buildFragmented(dir, seed = 97L)
    val pre = spark.read.parquet(s"$dir/lineage")
      .groupBy(col("partitionId"))
      .agg(org.apache.spark.sql.functions.max(col("updatedAt")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    Thread.sleep(1100)
    assert(Compaction.compact(spark, dir, blockSize = 32).nonEmpty)
    val post = spark.read.parquet(s"$dir/lineage")
      .select(col("partitionId"), col("updatedAt"))
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(post == pre,
      "merged lineage must inherit each group's newest constituent " +
        "timestamp, not current_timestamp — retention would stop aging out")
    // carry table is cleaned up after the swap
    assert(!graft.io.ParquetTableIO.exists(spark, s"$dir/_compaction_carry"))
  }

  test("an empty pending marker (crash inside writeMarker) is swept, not a brick") {
    val dir = "/tmp/graft-test/compaction-emptymarker"
    buildFragmented(dir, seed = 101L)
    val pre = searchAll(dir)
    val pending = new org.apache.hadoop.fs.Path(s"$dir/_pending_compaction")
    val fs = pending.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(pending, true).close() // zero bytes: died before the content write
    assert(!Compaction.recoverPendingCompaction(spark, dir))
    assert(!fs.exists(pending), "empty marker must be deleted")
    assert(searchAll(dir) == pre)
    // and a real compaction still proceeds afterwards
    assert(Compaction.compact(spark, dir, blockSize = 32).nonEmpty)
  }

  test("pre-commit crash rolls back: old segments keep serving unchanged") {
    val dir = "/tmp/graft-test/compaction-crash1"
    buildFragmented(dir, seed = 67L)
    val pre = searchAll(dir)
    val preDict = dict(dir)
    val segs = segmentsOf(dir).toSeq.sorted
    val newSeg = Compaction.segmentName(segs)

    // crash window: intent marker + a PARTIAL new segment (docs only, no
    // postings, no commit marker)
    val pending = new org.apache.hadoop.fs.Path(s"$dir/_pending_compaction")
    Compaction.writeMarker(spark, pending, (newSeg +: segs).mkString("\n"))
    graft.io.ParquetTableIO.overwritePartitions(
      spark.read.parquet(s"$dir/docs").drop("segment")
        .withColumn("segment", lit(newSeg)),
      s"$dir/docs", Seq("docGroup", "segment"))

    assert(Compaction.recoverPendingCompaction(spark, dir))
    val fs = pending.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(pending), "pending marker must be cleared")
    assert(segmentsOf(dir) == segs.toSet, "roll-back touched lineage")
    import spark.implicits._
    val docSegs = spark.read.parquet(s"$dir/docs")
      .select("segment").distinct().as[String].collect().toSet
    assert(docSegs == segs.toSet, "partial new segment survived roll-back")
    assert(dict(dir) == preDict)
    assert(searchAll(dir) == pre, "roll-back changed query results")
    assert(!Compaction.recoverPendingCompaction(spark, dir), "recover must be a no-op after recovery")
  }

  test("orphaned commit marker (crash between the final marker deletes) is swept, not replayed") {
    val dir = "/tmp/graft-test/compaction-orphan"
    buildFragmented(dir, seed = 89L)
    val pre = searchAll(dir)
    // a completed roll-forward deletes pending FIRST, so the only possible
    // single-marker residue is commit-without-pending — recovery must treat
    // it as finished work, not as a live phase 2
    val commit = new org.apache.hadoop.fs.Path(s"$dir/_compaction_commit")
    Compaction.writeMarker(spark, commit, "compact-deadbeef0000")
    assert(!Compaction.recoverPendingCompaction(spark, dir))
    val fs = commit.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(commit), "orphaned commit marker must be swept")
    assert(segmentsOf(dir) == Set("snapshot-0", "snapshot-1", "snapshot-2"))
    assert(searchAll(dir) == pre)
    // and a subsequent real compaction proceeds normally
    assert(Compaction.compact(spark, dir, blockSize = 32).nonEmpty)
    assert(searchAll(dir) == pre)
  }

  test("post-commit crash rolls forward at index open") {
    val dir = "/tmp/graft-test/compaction-crash2"
    buildFragmented(dir, seed = 71L)
    val pre = searchAll(dir)
    val segs = segmentsOf(dir).toSeq.sorted
    val newSeg = Compaction.segmentName(segs)

    // expected carried timestamps: per-group NEWEST constituent updatedAt
    val preCarry = spark.read.parquet(s"$dir/lineage")
      .groupBy(col("partitionId"))
      .agg(max(col("updatedAt")).as("carriedAt"))
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap

    // full phase 1 (marker + CARRY + segment — the real crash state always
    // has the carry table present) + commit marker, then "crash" before any
    // phase-2 work
    val pending = new org.apache.hadoop.fs.Path(s"$dir/_pending_compaction")
    val commit = new org.apache.hadoop.fs.Path(s"$dir/_compaction_commit")
    Compaction.writeMarker(spark, pending, (newSeg +: segs).mkString("\n"))
    Compaction.writeCarry(spark, dir, segs, graft.io.ParquetTableIO)
    Compaction.writeCompactedSegment(spark, dir, segs, newSeg, 32,
      graft.io.ParquetTableIO)
    Compaction.writeMarker(spark, commit, newSeg)

    // SearchIndex ctor recovery must finish the swap
    val post = searchAll(dir)
    val fs = pending.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(pending) && !fs.exists(commit),
      "markers must be cleared by roll-forward")
    assert(segmentsOf(dir) == Set(newSeg), "old segments survived roll-forward")
    assert(post == pre, "roll-forward changed query results")
    // roll-forward THROUGH RECOVERY must consume the carry: merged lineage
    // keeps each group's newest constituent timestamp (retention age
    // survives the crash), rather than resetting to recovery time
    val postLineage = spark.read.parquet(s"$dir/lineage")
      .select(col("partitionId"), col("updatedAt"))
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(postLineage == preCarry,
      "recovered lineage must carry constituent timestamps, not reset them")
    assert(!graft.io.ParquetTableIO.exists(spark, s"$dir/_compaction_carry"),
      "carry table must be dropped after roll-forward")
  }

  test("every postings file stores nBytes after build, append and compaction") {
    val dir = "/tmp/graft-test/compaction-nbytes"
    buildFragmented(dir, 67L)
    def check(stage: String): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(s"$dir/postings")
      val it = root.getFileSystem(conf).listFiles(root, true)
      var files = 0
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) {
          files += 1
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
          try assert(r.getFooter.getFileMetaData.getSchema.containsField("nBytes"),
            s"$stage: $f has no nBytes column")
          finally r.close()
        }
      }
      assert(files > 0)
      assert(spark.read.parquet(s"$dir/postings")
        .filter(col("nBytes") =!= length(col("bytes"))).isEmpty,
        s"$stage: nBytes differs from the stored block length")
    }
    check("build + append")
    assert(Compaction.compact(spark, dir, blockSize = 32).nonEmpty)
    check("compaction")
  }
}

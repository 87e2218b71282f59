package graft

import graft.core.CorpusGen
import graft.index.IndexBuilder
import graft.query.{QueryEngine, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the things that keep the engine fast at scale
  * must be visible in the plan, not assumed — predicate pushdown into the
  * postings/dictionary/docs parquet scans, the pruned doc-metadata page
  * probe, and TakeOrderedAndProject for global top-k (no full sort). */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val index: SearchIndex = {
    val dir = "/tmp/graft-test/plan-index"
    val corpus = CorpusGen.generateDF(spark, 400L, seed = 31L, partitions = 3)
    // small bucket target: the dictionary provisions MANY termBuckets at
    // test vocabulary, so the two-level pruning assertions below are real
    // (a single-bucket layout would satisfy them vacuously)
    IndexBuilder.build(spark, corpus, dir,
      IndexBuilder.Params(blockSize = 64, docGroupSize = 128L,
        dictTargetBucketRows = 16L))
    new SearchIndex(spark, dir)
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("postings scan pushes term IN (...) into parquet") {
    val plan = planOf(QueryEngine.candidates(index, "python tutorial",
      SearchOpts(wand = false)))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("In(term, [python,tutorial]"),
      s"term filter not pushed:\n${plan.take(3000)}")
  }

  test("doc-metadata page probe pushes docId IN (...) into the scan (R10)") {
    import org.apache.spark.sql.functions._
    // the shape search() issues after collecting the top-m page: a pruned
    // membership probe, never a join against a full docs-table scan
    val probe = index.docs
      .filter(col("docId").isin(3L, 77L, 201L))
      .select(col("docId"), col("repo"), col("path"), col("lang"),
        col("qualityScore"), col("repoScore"))
    val plan = planOf(probe)
    assert(plan.contains("PushedFilters:") && plan.contains("In(docId"),
      s"docId membership not pushed to the docs scan:\n${plan.take(3000)}")
  }

  test("block-metadata aggregates never read the compressed bytes column") {
    import org.apache.spark.sql.functions._
    // the derived-refresh / lineage aggregates sum the stored nBytes
    // column — that scan must be METADATA-only: `bytes` (the
    // ~95%-of-table payload column) must not appear in the scan schema
    val postings = index.postings
    assert(postings.columns.contains("nBytes"), "fresh build must write nBytes")
    val agg = postings.groupBy(col("field"), col("term"))
      .agg(sum(col("n")).as("df"),
        sum(col("nBytes")).as("bc"))
    val scans = planOf(agg).linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(!scans.contains("bytes:binary"),
      s"aggregate still reads the compressed payload column:\n$scans")
  }

  test("global top-m uses TakeOrderedAndProject (no full sort)") {
    import org.apache.spark.sql.functions._
    val cand = QueryEngine.candidates(index, "python tutorial", SearchOpts())
    val top = cand.orderBy(col("score").desc, col("docId").asc).limit(30)
    assert(planOf(top).contains("TakeOrderedAndProject"))
  }

  test("fuzzy expansion probes the dictionary through tlen partition pruning") {
    import org.apache.spark.sql.functions._
    // the probe fuzzyExpand issues: tlen isin + per-term levenshtein. The
    // tlen predicate must land in PartitionFilters (pruned dirs), not in
    // the data filter — O(matching length bands), not O(vocab).
    val probe = index.dictionary
      .filter(col("tlen").isin(5, 6, 7))
      .filter(col("field") === "content" &&
        levenshtein(col("term"), lit("pythn")) <= 1)
      .select("term")
    val plan = planOf(probe)
    val partFilters = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(partFilters.contains("tlen"),
      s"tlen not in PartitionFilters:\n${plan.take(3000)}")
    // and the expansion itself still finds the misspelled term's neighbor
    val expanded = QueryEngine.fuzzyExpand(index, "pythn tutorial")
    assert(expanded.contains("python"), s"got $expanded")
  }

  test("fuzzy pigeonhole prefilter: fewer rows reach the levenshtein DP, expansion unchanged") {
    import org.apache.spark.sql.functions._
    val terms = Seq("pythn", "tutorial")
    val pre = QueryEngine.fuzzyCandidates(index, terms, Seq("content"))
    val all = QueryEngine.fuzzyCandidates(index, terms, Seq("content"),
      prefilter = false)
    val (nPre, nAll) = (pre.count(), all.count())
    assert(nPre < nAll, s"prefilter did not shrink the DP set: $nPre vs $nAll")
    // the prefilter must stay a pure NECESSARY condition: levenshtein over
    // the raw banded set yields the identical expansion
    def maxD(t: String) = if (t.length < 3) 0 else if (t.length <= 5) 1 else 2
    val lev = terms.map(t => abs(col("tlen") - t.length) <= maxD(t) &&
      levenshtein(col("term"), lit(t)) <= maxD(t)).reduce(_ || _)
    def expand(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.filter(lev).select("term").distinct().collect().map(_.getString(0)).toSet
    assert(expand(pre) == expand(all),
      "pigeonhole prefilter changed the fuzzy expansion")
    // plan: tlen pruning survives AND the Contains prefilter is in the plan
    val plan = planOf(pre)
    assert(plan.contains("Contains("),
      s"pigeonhole Contains missing from the plan:\n${plan.take(3000)}")
    assert(plan.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString.contains("tlen"),
      s"tlen pruning lost with the prefilter:\n${plan.take(3000)}")
  }

  test("pigeonhole segments: every string within ed<=d contains a segment verbatim") {
    // deterministic brute-force check of the PassJoin necessity bound:
    // all single/double edits (delete, substitute, insert) of sample terms
    val alphabet = "abz"
    def edits1(s: String): Seq[String] = {
      val del = s.indices.map(i => s.take(i) + s.drop(i + 1))
      val sub = for (i <- s.indices; c <- alphabet) yield s.take(i) + c + s.drop(i + 1)
      val ins = for (i <- 0 to s.length; c <- alphabet) yield s.take(i) + c + s.drop(i)
      del ++ sub ++ ins
    }
    for (t <- Seq("python", "tutorial", "abc", "spark")) {
      val d = if (t.length < 3) 0 else if (t.length <= 5) 1 else 2
      val segs = QueryEngine.pigeonholeSegments(t, d)
      assert(segs.mkString == t, s"segments must tile $t, got $segs")
      val neighbors =
        if (d >= 2) edits1(t).flatMap(edits1).distinct else edits1(t).distinct
      neighbors.foreach { s =>
        assert(segs.exists(s.contains),
          s"ed<=$d neighbor '$s' of '$t' contains no segment of $segs")
      }
    }
  }

  test("fallback wildcard arm is guarded: above the doc cap the plan has no substring scan") {
    // guard closed (cap 0): the plan must not contain the path Contains
    // filter — only the indexed (postings) arm runs
    val guarded = planOf(QueryEngine.fallback(index, "zzznotindexed src",
      SearchOpts(), wildcardMaxDocs = 0L))
    assert(!guarded.contains("Contains("),
      s"substring scan ran despite the guard:\n${guarded.take(3000)}")
    // guard open (default): the arm exists and is bounded by
    // TakeOrderedAndProject (never more than a page of docIds)
    val open = planOf(QueryEngine.fallback(index, "zzznotindexed src", SearchOpts()))
    assert(open.contains("Contains(") && open.contains("TakeOrderedAndProject"),
      s"wildcard arm missing or not TakeOrdered-bounded:\n${open.take(3000)}")
  }

  test("dictionary lookup probe prunes tlen partitions for the query terms") {
    val plan = planOf(index.dictionary
      .filter(org.apache.spark.sql.functions.col("tlen").isin(6: Any, 8: Any))
      .filter(org.apache.spark.sql.functions.col("term").isin("python", "tutorial")))
    val partFilters = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(partFilters.contains("tlen"), s"lookup probe unpruned:\n${plan.take(2000)}")
  }

  test("lookup survives a bucket-count/snapshot mismatch: mispruned terms " +
      "re-probe through the tlen band, never silently dropped") {
    import org.apache.spark.sql.functions.{col, lit}
    val terms = Seq("python", "tutorial", "machine", "learning")
    val nb = index.dictBuckets.get
    assert(nb >= 4, s"fixture must be multi-bucket (nb=$nb)")
    val truth = index.lookup(Seq("content"), terms)
    assert(truth.nonEmpty)
    // a SECOND SearchIndex over the same dir, with its meta forged to a
    // DIFFERENT bucket count — the exact skew a full refresh re-provisioning
    // between the two snapshot reads would produce: the pruned probe
    // addresses wrong partitions for ~half the terms
    val forged = new SearchIndex(spark, index.dir) {
      override lazy val dictBuckets: Option[Int] = Some(nb + 1)
    }
    assert(forged.lookup(Seq("content"), terms) == truth,
      "bucket-count skew silently dropped terms from the lookup")
  }

  test("exact-term lookup prunes BOTH partition levels (tlen + termBucket) " +
      "and reads only the terms' buckets") {
    val terms = Seq("python", "tutorial")
    val probe = index.lookupDf(Seq("content"), terms)
    val plan = planOf(probe)
    val partFilters = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(partFilters.contains("tlen") && partFilters.contains("termBucket"),
      s"lookup probe missing a pruning level:\n${plan.take(2000)}")
    // the pruned scan reads at most |terms| (tlen, bucket) directories
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount }.sum
    assert(scanned <= terms.size,
      s"expected <=${terms.size} pruned partitions, scanned $scanned")
    // pruning never changes the answer: probe == unpruned dictionary filter
    val unpruned = index.dictionary
      .filter(org.apache.spark.sql.functions.col("field") === "content" &&
        org.apache.spark.sql.functions.col("term").isin(terms: _*))
      .select("field", "term", "df")
    assert(probe.collect().map(_.toSeq).toSet ==
      unpruned.collect().map(_.toSeq).toSet)
  }

  test("driver-side termBucketOf == Spark's pmod(xxhash64(term), n), bitwise") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val terms = Seq("python", "tutorial", "a", "δοκιμή", "日本語テキスト",
      "x" * 50, "MiXeD_case-42", "", " odd")
    for (n <- Seq(1, 7, 64, 4096)) {
      val sql = terms.toDF("term")
        .select(pmod(xxhash64(col("term")), lit(n.toLong)).cast("int"))
        .as[Int].collect().toSeq
      val drv = terms.map(IndexBuilder.termBucketOf(_, n))
      assert(sql == drv, s"bucket hash diverges at n=$n: sql=$sql driver=$drv")
    }
  }

  test("dictionary lookup scan prunes columns and pushes the term filter") {
    import org.apache.spark.sql.functions._
    val df = index.dictionary
      .filter(col("field") === "content" && col("term").isin("python", "tutorial"))
      .select("field", "term", "df")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:") && plan.contains("In(term"))
    assert(plan.contains("ReadSchema") && !plan.contains("totalTf"),
      "column pruning failed — totalTf should not be read")
  }

  test("page probes at k·overfetch = 30 ids push docId IN into the docs scan") {
    import graft.query.LocalSearcher
    val m = SearchOpts().k * SearchOpts().overfetch
    assert(m == 30)
    val ids = (0L until 400L by 13L).take(m)
    // above spark.sql.parquet.pushdown.inFilterThreshold (10) parquet
    // evaluates the set as a min/max range, but it must still be pushed
    def pushedIds(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val pushed = df.queryExecution.executedPlan.collectLeaves()
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata.getOrElse("PushedFilters", "") }.mkString
      """In\(docId, \[([^\]]*)\]""".r.findFirstMatchIn(pushed)
        .map(_.group(1).split(",").map(_.trim.toLong).toSet)
        .getOrElse(fail(s"docId IN not pushed to the docs scan: $pushed"))
    }
    Seq(
      "engine" -> index.pageProbe(ids),
      "serving" -> LocalSearcher.load(index).docsProbe(ids),
      "serving shard" -> LocalSearcher.loadSharded(index, 2).shards(1).docsProbe(ids)
    ).foreach { case (name, probe) =>
      assert(pushedIds(probe) == ids.toSet, s"$name probe pushed a different id set")
    }
  }
}

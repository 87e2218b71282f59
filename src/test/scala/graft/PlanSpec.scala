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
    // the page read in Spark's form (the engine reads it directly, tested
    // below): a pruned membership probe, never a join against a full
    // docs-table scan
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
    import org.apache.spark.sql.functions.col
    val terms = Seq("python", "tutorial")
    val idx = new SearchIndex(spark, index.dir) // its own read counters
    val nb = idx.dictBuckets.get
    val pairs = terms.map(t => (t.length, IndexBuilder.termBucketOf(t, nb))).toSet
    val dict = idx.dictionaryTable
    val wanted = dict.files.filter(f => pairs.contains((f.int("tlen"), f.int("termBucket"))))
    assert(wanted.map(f => (f.int("tlen"), f.int("termBucket"))).distinct.size <= terms.size)
    assert(dict.files.size > wanted.size, "fixture: the dictionary must span more partitions")
    val got = idx.lookup(Seq("content"), terms)
    assert(got.size == terms.size, s"fixture: both terms are in the dictionary, got $got")
    // the direct read opened exactly the files of the terms' partitions
    assert(dict.filesOpened.get == wanted.size,
      s"opened ${dict.filesOpened.get} files, the terms' partitions hold ${wanted.size}")
    // pruning never changes the answer: lookup == Spark's unpruned filter IN
    val unpruned = index.dictionary
      .filter(col("field") === "content" && col("term").isin(terms: _*))
      .select("field", "term", "df").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == unpruned)
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

  test("page probes at k·overfetch = 30 ids skip row groups of a docs table " +
      "written with several row groups, == Spark's filter IN") {
    import org.apache.commons.io.FileUtils
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.query.LocalSearcher
    val m = SearchOpts().k * SearchOpts().overfetch
    assert(m == 30)
    // a copy of the index whose docs table is rewritten in row groups of a
    // few rows (this fixture only), docId-sorted within each partition
    val dir = new java.io.File("/tmp/graft-test/plan-index-rowgroups")
    FileUtils.deleteDirectory(dir)
    FileUtils.copyDirectory(new java.io.File(index.dir), dir)
    FileUtils.deleteDirectory(new java.io.File(dir, "docs"))
    index.docs.repartition(col("docGroup"), col("segment")).sortWithinPartitions("docId")
      .write.option("parquet.block.size", 1L)
      .option("parquet.page.size.row.check.min", 5L)
      .option("parquet.page.size.row.check.max", 5L)
      .partitionBy("docGroup", "segment").parquet(s"$dir/docs")
    val idx = new SearchIndex(spark, dir.getPath)
    val docs = idx.docsTable
    val ids = (0L until 400L by 13L).take(m)
    def viaSpark(where: org.apache.spark.sql.Column) =
      idx.docs.filter(where && col("docId").isin(ids: _*))
        .select("docId", "repo", "path", "lang", "qualityScore", "repoScore").collect()
        .map(r => r.getLong(0) -> LocalSearcher.DocMeta(r.getString(1), r.getString(2),
          r.getString(3), r.getDouble(4), r.getDouble(5))).toMap
    val page = idx.pageProbe(ids)
    assert(page.size == m && page == viaSpark(lit(true)))
    // an unsharded page opens every file: read + skipped is every row group
    assert(docs.filesOpened.get == docs.files.size)
    val (read, skipped) = (docs.rowGroupsRead.get, docs.rowGroupsSkipped.get)
    assert(read + skipped > 2 * m, s"fixture: ${read + skipped} row groups")
    assert(read <= m, s"read $read of ${read + skipped} row groups for $m ids")
    // a serving shard's page: its docGroups only, the same rows as Spark's
    val shard = idx.pageProbe(ids, Some((1, 2)))
    assert(shard.nonEmpty && shard.size < m && shard == viaSpark(pmod(col("docGroup"), lit(2)) === 1))
  }

  test("the serving block fetch == Spark's filter IN on the postings table") {
    import org.apache.spark.sql.functions.col
    import graft.query.LocalSearcher
    val keys = Seq("python", "tutorial", "zzqxabsent").map(t => ("content", t))
    val got = LocalSearcher.load(index).blocksOf(keys)
    val want = index.postings
      .filter(col("field") === "content" && col("term").isin(keys.map(_._2): _*))
      .collect().toSeq
      .map(r => (r.getAs[String]("term"), r.getAs[Any]("docGroup").toString.toLong,
        r.getAs[Int]("blockIdx"), r.getAs[Long]("firstDocId"),
        r.getAs[Array[Byte]]("bytes").toSeq))
    def flat(t: String) = got(("content", t)).toSeq
      .map(b => (b.term, b.docGroup, b.blockIdx, b.firstDocId, b.bytes.toSeq))
    assert(got(("content", "zzqxabsent")).isEmpty)
    Seq("python", "tutorial").foreach { t =>
      assert(flat(t).nonEmpty && flat(t).toSet == want.filter(_._1 == t).toSet, s"blocks of $t")
    }
  }

  test("a requested column missing from a file fails the direct read, never reads as null") {
    import spark.implicits._
    val t = "/tmp/graft-test/plan-missing-column"
    graft.io.ParquetTableIO.drop(spark, t)
    Seq((1L, "a")).toDF("x", "y").write.parquet(s"$t/g=1")
    Seq(2L).toDF("x").write.parquet(s"$t/g=2")
    val listing = graft.io.ParquetTableIO.files(spark, t)
    assert(listing.schema.fieldNames.toSeq == Seq("x", "y", "g"), "fixture: the schema has y")
    val direct = new graft.io.DirectTable(listing)
    assert(direct.rows(Seq("x", "g")).map(_.toSeq).toSet == Set(Seq(1L, 1), Seq(2L, 2)))
    val e = intercept[IllegalStateException](direct.rows(Seq("x", "y")))
    assert(e.getMessage.contains("column y is missing"), e.getMessage)
    // pruned to the file that has y, the same read succeeds
    assert(direct.rows(Seq("y"), partitions = _.int("g") == 1).map(_.toSeq) == Seq(Seq("a")))
  }

  test("late materialization: direct reads over many row groups, with nulls, " +
      "partition columns among the outputs and one or two predicates, == " +
      "Spark's filter IN; one footer read per file however many reads") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = "/tmp/graft-test/plan-late"
    graft.io.ParquetTableIO.drop(spark, t)
    (0 until 3000).map { i =>
      (i.toLong, if (i % 7 == 0) null else s"k${i % 50}",
        if (i % 5 == 0) None else Some(i % 13), i * 0.5, s"text-$i" * (1 + i % 3),
        Array[Byte](i.toByte, (i >> 8).toByte), i % 3, if (i % 2 == 0) "a b" else "c%d")
    }.toDF("id", "key", "n", "score", "text", "raw", "g", "s")
      .repartition(col("g"), col("s")).sortWithinPartitions("key", "id")
      .write.option("parquet.block.size", 4096L)
      .option("parquet.page.size.row.check.min", 5L)
      .option("parquet.page.size.row.check.max", 5L)
      .partitionBy("g", "s").parquet(t)
    val listing = graft.io.ParquetTableIO.files(spark, t)
    val direct = new graft.io.DirectTable(listing)
    assert(listing.files.exists(_.path.getParent.getName == "s=c%25d"),
      "fixture: an escaped partition directory")
    val groups = listing.files.map(f => listing.footer(f.path).getBlocks.size)
    assert(groups.forall(_ > 3), s"fixture: row groups per file $groups")
    val table = spark.read.parquet(t)
    val out = Seq("id", "s", "key", "n", "raw", "g", "text")
    def cells(row: Seq[Any]) = row.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }
    def viaSpark(where: org.apache.spark.sql.Column, cs: Seq[String]) =
      table.filter(where).select(cs.map(col): _*).collect().toSeq.map(r => cells(r.toSeq))
        .sortBy(_.toString)
    def viaDirect(cs: Seq[String], where: Seq[graft.io.DirectTable.In],
        partitions: graft.io.DataFile => Boolean = _ => true) =
      direct.rows(cs, where, partitions).map(r => cells(r.toSeq)).sortBy(_.toString)
    val keys = Seq("k3", "k17", "k40", "absent")
    val ns = Seq(1, 2, 12)
    val ids = Seq(5L, 777L, 1500L, 2999L, 4000L)
    val cases = Seq(
      (out, Seq(graft.io.DirectTable.In("key", keys)), col("key").isin(keys: _*)),
      (out, Seq(graft.io.DirectTable.In("key", keys), graft.io.DirectTable.In("n", ns)),
        col("key").isin(keys: _*) && col("n").isin(ns: _*)),
      (Seq("g", "text"), Seq(graft.io.DirectTable.In("id", ids)), col("id").isin(ids: _*)),
      (Seq("score", "s"), Seq(graft.io.DirectTable.In("n", ns), graft.io.DirectTable.In("id",
        0L until 3000L by 3L)), col("n").isin(ns: _*) && (col("id") % 3 === 0)))
    cases.foreach { case (cs, where, cond) =>
      val want = viaSpark(cond, cs)
      assert(want.nonEmpty, s"fixture: no row for $where")
      assert(viaDirect(cs, where) == want, s"direct rows != Spark's for $where")
    }
    assert(viaDirect(out, Seq(graft.io.DirectTable.In("key", keys)), _.int("g") == 1) ==
      viaSpark(col("key").isin(keys: _*) && col("g") === 1, out))
    assert(viaDirect(out, Nil) == viaSpark(org.apache.spark.sql.functions.lit(true), out))
    assert(direct.rowGroupsSkipped.get > 0, "no row group was pruned")
    val e = intercept[IllegalStateException](direct.rows(Seq("id", "zz")))
    assert(e.getMessage.contains("column zz is missing"), e.getMessage)
    assert(direct.footersRead == listing.files.size,
      s"${direct.footersRead} footers read for ${listing.files.size} files")
  }
}

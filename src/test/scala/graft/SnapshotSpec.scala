package graft

import graft.core.CorpusGen
import graft.index.{Compaction, Deletes, IndexBuilder, Upsert}
import graft.io.{ParquetTableIO, SnapshotTableIO, TableIO}
import graft.query.{LocalSearcher, QueryEngine, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SnapshotTableIO — the Iceberg-style snapshot-isolated table layer:
  *
  *  - op parity: the same mutation sequence reads back identically through
  *    SnapshotTableIO and ParquetTableIO (dynamic overwrite, full overwrite,
  *    partition delete incl. the `*` glob, empty-result overwrite);
  *  - full-engine differential: build → resume → tombstone → upsert →
  *    compact on a snapshot index returns BM25 pages identical to the
  *    plain-parquet index at every lifecycle point;
  *  - reader isolation: a scan PLANNED before a compaction still reads its
  *    own snapshot after the swap commits (the ADVICE-r3 gap this layer
  *    closes — plain parquet deletes the files out from under it);
  *  - crash atomicity: moved-but-uncommitted data files are invisible to
  *    readers and reclaimed by vacuum;
  *  - vacuum: physical reclaim after a metadata-only partition delete, with
  *    the retained snapshots byte-identical before/after;
  *  - time travel: readVersion returns the pre-mutation table;
  *  - partition pruning survives the manifest read path;
  *  - reads take the schema from table metadata: no job, and the schema
  *    and rows Spark's inferring read returns, on both TableIOs;
  *  - the serving tier reads tombstones through the index's storage.
  */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fixture(tag: Int): DataFrame = {
    import spark.implicits._
    (0 until 24).map(i => (i.toLong, i % 4, s"row-$tag-$i"))
      .toDF("id", "g", "payload")
  }

  private def rows(io: TableIO, path: String): Set[Seq[Any]] =
    io.read(spark, path).select(col("id"), col("g").cast("int"), col("payload"))
      .collect().map(_.toSeq).toSet

  test("op parity: identical read-back vs ParquetTableIO through dynamic " +
      "overwrite, partition delete, glob delete, full overwrite, empty write") {
    val ps = "/tmp/graft-test/snap-par-s"
    val pp = "/tmp/graft-test/snap-par-p"
    val ios: Seq[(TableIO, String)] = Seq(SnapshotTableIO -> ps, ParquetTableIO -> pp)
    ios.foreach { case (io, p) => io.drop(spark, p) }

    def check(step: String): Unit =
      assert(rows(SnapshotTableIO, ps) == rows(ParquetTableIO, pp), s"diverged after $step")

    ios.foreach { case (io, p) => io.overwritePartitions(fixture(1), p, Seq("g")) }
    check("initial write")
    // dynamic overwrite of a subset of partitions (g=0,1 replaced; 2,3 kept)
    ios.foreach { case (io, p) =>
      io.overwritePartitions(fixture(2).filter(col("g") < 2), p, Seq("g")) }
    check("dynamic partial overwrite")
    ios.foreach { case (io, p) => io.deletePartitions(spark, p, Seq("g" -> "3")) }
    check("partition delete")
    ios.foreach { case (io, p) => io.deletePartitions(spark, p, Seq("g" -> "*")) }
    assert(SnapshotTableIO.read(spark, ps).isEmpty, "glob delete must empty the table")
    // empty snapshot still reads with the right columns (dead-bucket shape)
    assert(SnapshotTableIO.read(spark, ps).columns.toSeq.sorted == Seq("g", "id", "payload"))
    ios.foreach { case (io, p) => io.overwriteTable(fixture(3), p, Seq("g")) }
    check("full overwrite after empty")
    // empty dynamic overwrite replaces nothing
    ios.foreach { case (io, p) =>
      io.overwritePartitions(fixture(3).limit(0), p, Seq("g")) }
    check("empty dynamic overwrite")
    // vacuum must not change the current snapshot
    val before = rows(SnapshotTableIO, ps)
    assert(SnapshotTableIO.vacuum(spark, ps, retain = 1) > 0, "stale files expected")
    assert(rows(SnapshotTableIO, ps) == before)
  }

  private val key = Seq("repo", "path")
  private def corpus = CorpusGen.generateDF(spark, 160L, seed = 77L, partitions = 3)
  private def params(io: TableIO) = IndexBuilder.Params(blockSize = 32,
    docGroupSize = 64L, fields = Seq("content"), io = io)

  private def page(idx: SearchIndex, q: String): Seq[Seq[Any]] =
    QueryEngine.search(idx, q, SearchOpts(k = 10))
      .select("rank", "docId", "score", "repo", "path")
      .collect().toIndexedSeq.map(_.toSeq)

  test("full engine lifecycle on SnapshotTableIO == ParquetTableIO " +
      "(build, resume, tombstone, upsert, compact)") {
    val dS = "/tmp/graft-test/snap-life-s"
    val dP = "/tmp/graft-test/snap-life-p"
    val both = Seq((SnapshotTableIO: TableIO, dS), (ParquetTableIO: TableIO, dP))
    val queries = Seq("data merge window", "filter scan", "spark")

    both.foreach { case (io, d) =>
      IndexBuilder.deleteDir(spark, d)
      val p = params(io)
      IndexBuilder.build(spark, corpus.filter(col("docId") < 100), d,
        p.copy(inputSnapshot = "b0"))
      IndexBuilder.resume(spark, corpus, d, p.copy(inputSnapshot = "b1"))
      Deletes.deleteWhere(spark, d, pmod(col("docId"), lit(11)) === 4, io)
      val batch = corpus.filter(col("docId") % 6 === 0).drop("docId")
        .withColumn("content", concat(col("content"), lit(" snapup")))
      Upsert.upsert(spark, batch, d, p.copy(inputSnapshot = "b2"), key)
    }
    val (idxS, idxP) = (new SearchIndex(spark, dS, SnapshotTableIO),
      new SearchIndex(spark, dP))
    queries.foreach(q => assert(page(idxS, q) == page(idxP, q),
      s"mid-lifecycle page diverged for '$q'"))

    both.foreach { case (io, d) =>
      assert(Compaction.expungeDeletes(spark, d, blockSize = 32, io).nonEmpty)
    }
    val (cS, cP) = (new SearchIndex(spark, dS, SnapshotTableIO),
      new SearchIndex(spark, dP))
    queries.foreach(q => assert(page(cS, q) == page(cP, q),
      s"post-compaction page diverged for '$q'"))
    // and the live doc view is identical
    def live(idx: SearchIndex) = idx.docs.select("docId", "repo", "path", "sha256")
      .collect().map(_.toSeq).toSet
    assert(live(cS) == live(cP))
    // the serving tier loads through the index's io too: identical pages
    val (lsS, lsP) = (graft.query.LocalSearcher.load(cS),
      graft.query.LocalSearcher.load(cP))
    queries.foreach { q =>
      assert(graft.query.LocalSearcher.search(lsS, q, SearchOpts(k = 10)) ==
        graft.query.LocalSearcher.search(lsP, q, SearchOpts(k = 10)),
        s"serving-tier page diverged on snapshot storage for '$q'")
    }
  }

  test("reader isolation: a scan planned before compaction keeps reading " +
      "its snapshot after the swap (and after a metadata partition delete)") {
    val d = "/tmp/graft-test/snap-iso"
    IndexBuilder.deleteDir(spark, d)
    val p = params(SnapshotTableIO)
    IndexBuilder.build(spark, corpus.filter(col("docId") < 80), d,
      p.copy(inputSnapshot = "b0"))
    IndexBuilder.resume(spark, corpus, d, p.copy(inputSnapshot = "b1"))

    val layout = IndexBuilder.Layout(d)
    // plan BEFORE the mutation; action only AFTER it commits
    val pinnedBlocks = SnapshotTableIO.read(spark, layout.postings)
      .groupBy(col("segment")).count()
    val preSegs = SnapshotTableIO.read(spark, layout.postings)
      .select("segment").distinct().collect().map(_.getString(0)).toSet
    assert(preSegs.size == 2, "fixture must be fragmented")

    assert(Compaction.compact(spark, d, blockSize = 32, SnapshotTableIO).nonEmpty)

    // the pre-compaction plan still executes against ITS snapshot: both old
    // segments present, none of the merged segment — on ParquetTableIO the
    // replaced segments' files are already deleted here
    val pinned = pinnedBlocks.collect().map(r => r.getString(0)).toSet
    assert(pinned == preSegs,
      s"pinned scan leaked the swap: $pinned vs $preSegs")
    // a FRESH read sees exactly the compacted segment
    val post = SnapshotTableIO.read(spark, layout.postings)
      .select("segment").distinct().collect().map(_.getString(0)).toSet
    assert(post.size == 1 && (post -- preSegs).size == 1)
    // the swap was metadata-only: vacuum now reclaims the old segments
    assert(SnapshotTableIO.vacuum(spark, layout.postings, retain = 1) > 0)
  }

  test("crash atomicity: moved-but-uncommitted files are invisible and vacuumed") {
    val t = "/tmp/graft-test/snap-crash"
    SnapshotTableIO.drop(spark, t)
    SnapshotTableIO.overwriteTable(fixture(1), t, Seq("g"))
    val before = rows(SnapshotTableIO, t)

    // simulate the crash window: a data file landed in a partition dir but
    // the manifest rename never happened — copy a live file under a fake
    // commit name
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val anyFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/g=1"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val orphan = new org.apache.hadoop.fs.Path(s"$t/g=1/cdeadbeef0000-${anyFile.getName}")
    org.apache.hadoop.fs.FileUtil.copy(fs, anyFile, fs, orphan, false,
      spark.sparkContext.hadoopConfiguration)

    assert(rows(SnapshotTableIO, t) == before, "orphan file leaked into a read")
    assert(SnapshotTableIO.vacuum(spark, t, retain = 1) == 1L)
    assert(!fs.exists(orphan))
    assert(rows(SnapshotTableIO, t) == before)
  }

  test("time travel: readVersion returns the pre-mutation table") {
    val t = "/tmp/graft-test/snap-tt"
    SnapshotTableIO.drop(spark, t)
    SnapshotTableIO.overwriteTable(fixture(1), t, Seq("g"))
    val v1 = SnapshotTableIO.currentVersion(spark, t).get
    val then_ = rows(SnapshotTableIO, t)
    SnapshotTableIO.overwritePartitions(fixture(2).filter(col("g") === 0), t, Seq("g"))
    SnapshotTableIO.deletePartitions(spark, t, Seq("g" -> "2"))
    assert(rows(SnapshotTableIO, t) != then_)
    val back = SnapshotTableIO.readVersion(spark, t, v1)
      .select(col("id"), col("g").cast("int"), col("payload"))
      .collect().map(_.toSeq).toSet
    assert(back == then_, "time travel must reproduce snapshot v1")
  }

  test("delta manifests: steady commits write O(changed-files) deltas, " +
      "chains rebase to full, time travel and vacuum resolve across chains") {
    val t = "/tmp/graft-test/snap-delta"
    SnapshotTableIO.drop(spark, t)
    val recorded = scala.collection.mutable.Map[Long, Set[Seq[Any]]]()
    SnapshotTableIO.overwriteTable(fixture(0), t, Seq("g")) // v1: full
    recorded(1L) = rows(SnapshotTableIO, t)
    (1 to 12).foreach { i => // v2..v13: single-partition dynamic overwrites
      SnapshotTableIO.overwritePartitions(
        fixture(i).filter(col("g") === i % 4), t, Seq("g"))
      recorded(i + 1L) = rows(SnapshotTableIO, t)
    }

    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def raw(v: Long): List[String] = {
      val p = new org.apache.hadoop.fs.Path(f"$t/_manifests/v$v%09d.manifest")
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    def isDelta(v: Long) = raw(v).drop(2).headOption.exists(_.startsWith("#delta "))
    assert(isDelta(2L), "an incremental overwrite must commit a delta")
    assert((3L to 13L).exists(v => !isDelta(v)),
      "a 12-commit chain must rebase to a full manifest at least once")
    // a delta writes O(changed files): strictly fewer body lines than the
    // full table's file list
    val fullLines = raw(1L).length - 2
    val deltaLines = raw(2L).length - 3
    assert(deltaLines < fullLines,
      s"delta body ($deltaLines lines) not smaller than full ($fullLines)")

    // time travel resolves across the chain
    Seq(2L, 7L, 13L).foreach { v =>
      val got = SnapshotTableIO.readVersion(spark, t, v)
        .select(col("id"), col("g").cast("int"), col("payload"))
        .collect().map(_.toSeq).toSet
      assert(got == recorded(v), s"readVersion($v) diverged")
    }

    // vacuum keeps the retained versions' ancestor manifests (a retained
    // delta is useless without its chain) and only reclaims data files
    assert(SnapshotTableIO.vacuum(spark, t, retain = 2) > 0)
    assert(rows(SnapshotTableIO, t) == recorded(13L))
    assert(SnapshotTableIO.readVersion(spark, t, 12L)
      .select(col("id"), col("g").cast("int"), col("payload"))
      .collect().map(_.toSeq).toSet == recorded(12L))
  }

  test("streaming re-crawl on SnapshotTableIO: correct live view, bounded " +
      "snapshot debt via per-batch vacuum, no orphans after final reclaim") {
    import spark.implicits._
    val base = "/tmp/graft-test/snap-stream"
    IndexBuilder.deleteDir(spark, base)
    val input = s"$base/in"
    val indexDir = s"$base/index"
    val p = IndexBuilder.Params(blockSize = 32, docGroupSize = 64L,
      fields = Seq("content"), io = SnapshotTableIO)

    def gen(from: Long, until: Long, parts: Int) =
      spark.range(from, until, 1, parts).map(i => (i, CorpusGen.row(41L, i)))
        .select(col("_2.repo").as("repo"), col("_2.path").as("path"),
          col("_2.commit").as("commit"), col("_2.lang").as("lang"),
          col("_2.content").as("content"))

    gen(0L, 120L, 4).write.mode("overwrite").parquet(input)
    val schema = spark.read.parquet(input).schema
    def run(): Unit = graft.streaming.StreamingIndexer.runUpsertAvailableNow(
      spark, input, schema, indexDir, s"$base/ckpt", key, p,
      maxSegments = 3, vacuumRetain = 2)
    run()
    val changed = gen(0L, 40L, 2)
      .withColumn("content", concat(col("content"), lit(" zzedit refreshed")))
    changed.unionByName(gen(40L, 120L, 2)).unionByName(gen(120L, 150L, 2))
      .write.mode("append").parquet(input)
    run()

    // live (key, sha) view equals the final crawl state — through many
    // snapshot commits (resumes, upserts, tombstones, budget merges) with
    // vacuum running after every micro-batch
    val idx = new SearchIndex(spark, indexDir, SnapshotTableIO)
    val dead = graft.index.Deletes.df(spark, indexDir, SnapshotTableIO)
      .get.select("docId")
    val liveShas = idx.docs.join(dead, Seq("docId"), "left_anti")
      .select("repo", "path", "sha256")
      .as[(String, String, String)].collect().toSet
    val wantShas = changed.unionByName(gen(40L, 120L, 2))
      .unionByName(gen(120L, 150L, 2))
      .select(col("repo"), col("path"), sha2(col("content"), 256))
      .as[(String, String, String)].collect().toSet
    assert(liveShas == wantShas, "live view != final crawl state")
    val zz = QueryEngine.search(idx, "zzedit", SearchOpts(k = 60, diversity = false))
      .collect()
    assert(zz.length == 40 && zz.forall(_.getAs[Long]("docId") >= 120L),
      "stale versions surfaced (or fresh ones missing) in search")

    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifests(table: String): Int = {
      val d = new org.apache.hadoop.fs.Path(s"$table/_manifests")
      if (!fs.exists(d)) 0 else fs.listStatus(d).count(_.getPath.getName.endsWith(".manifest"))
    }
    val layout = IndexBuilder.Layout(indexDir)
    // retained versions plus the delta-chain ancestors a retained manifest
    // needs to resolve (chain length bounded by the rebase policy)
    Seq(layout.docs, layout.postings, layout.dictionary, layout.lineage)
      .foreach(t => assert(manifests(t) <= 2 + 8,
        s"vacuumRetain=2 violated at $t: ${manifests(t)} manifests"))

    // final reclaim to horizon 1: physical files == exactly the current
    // snapshot's file list (zero orphans, zero history)
    graft.index.Vacuum.vacuumIndex(spark, indexDir, retain = 1, SnapshotTableIO)
    def physicalParquet(table: String): Int = {
      def walk(d: org.apache.hadoop.fs.Path): Int =
        fs.listStatus(d).map { st =>
          val n = st.getPath.getName
          if (st.isDirectory)
            (if (n == "_manifests" || n == "_staging") 0 else walk(st.getPath))
          else if (n.endsWith(".parquet")) 1 else 0
        }.sum
      walk(new org.apache.hadoop.fs.Path(table))
    }
    Seq(layout.docs, layout.postings).foreach { t =>
      assert(physicalParquet(t) == SnapshotTableIO.read(spark, t).inputFiles.length,
        s"orphan files survive the final vacuum at $t")
    }
    // and the index still answers identically after the reclaim
    val idx2 = new SearchIndex(spark, indexDir, SnapshotTableIO)
    assert(page(idx2, "zzedit") == page(idx, "zzedit"))
  }

  test("fuzz: interleaved upsert/delete/compact/vacuum commits — pinned " +
      "readers bitwise-stable across MaxChain rebases, zero read failures") {
    val d = "/tmp/graft-test/snap-fuzz"
    IndexBuilder.deleteDir(spark, d)
    val p = params(SnapshotTableIO)
    IndexBuilder.build(spark, corpus, d, p.copy(inputSnapshot = "fz-base"))
    val layout = IndexBuilder.Layout(d)
    def docsNow() = SnapshotTableIO.read(spark, layout.docs)
    def snap(df: DataFrame): Set[Seq[Any]] =
      df.select(col("docId").cast("long"), col("repo"), col("path"), col("sha256"))
        .collect().map(_.toSeq).toSet
    // pinned readers: each plan resolved its manifest at pin time; every
    // later commit — including delta-chain rebases at MaxChain and vacuums
    // inside the retain horizon — must never change what it reads
    val pins = scala.collection.mutable.ArrayBuffer[(DataFrame, Set[Seq[Any]])]()
    def pin(): Unit = { val df = docsNow(); pins += df -> snap(df); () }
    pin()
    val rnd = new scala.util.Random(7L)
    (1 to 12).foreach { i =>
      rnd.nextInt(4) match {
        case 0 => // re-crawl upsert of a key slice (tombstone + fresh ids)
          val b = corpus.filter(col("docId") % 5 === (i % 5).toLong).drop("docId")
            .withColumn("content", concat(col("content"), lit(s" fz$i")))
          Upsert.upsert(spark, b, d, p.copy(inputSnapshot = s"fz-u$i"), key)
        case 1 => // brand-new keys through the upsert add path
          val fresh = CorpusGen.generateDF(spark, 30L, seed = 900L + i,
            partitions = 2).drop("docId")
          Upsert.upsert(spark, fresh, d, p.copy(inputSnapshot = s"fz-a$i"), key)
        case 2 =>
          Deletes.deleteWhere(spark, d,
            pmod(col("docId"), lit(7)) === (i % 7).toLong, SnapshotTableIO)
        case 3 => // may be a no-op when nothing qualifies — that is fine
          Compaction.expungeDeletes(spark, d, blockSize = 32, SnapshotTableIO)
          ()
      }
      // every live pin re-reads bitwise-equal BEFORE the vacuum...
      pins.foreach { case (df, exp) =>
        assert(snap(df) == exp, s"pinned reader drifted at step $i") }
      // ...and survives a vacuum whose horizon covers it (retain 30 >> the
      // ≤2-iteration age of the kept pins)
      graft.index.Vacuum.vacuumIndex(spark, d, retain = 30, SnapshotTableIO)
      pins.foreach { case (df, exp) =>
        assert(snap(df) == exp, s"pinned reader lost files to vacuum at step $i") }
      pin()
      if (pins.size > 2) pins.remove(0, pins.size - 2) // rotate the horizon
      assert(SnapshotTableIO.chainDepth(spark, layout.docs) <= 8,
        "delta chain exceeded MaxChain")
    }
    // the fuzz must actually have crossed a MaxChain rebase somewhere
    val versions = Seq(layout.docs, layout.postings, Deletes.tombstones(d))
      .flatMap(t => SnapshotTableIO.currentVersion(spark, t))
    assert(versions.exists(_ > 8),
      s"fixture too small to cross a MaxChain rebase (versions: $versions)")
    // final sweep to the steady horizon still leaves the current state whole
    val finalRows = snap(docsNow())
    graft.index.Vacuum.vacuumIndex(spark, d, retain = 2, SnapshotTableIO)
    assert(snap(docsNow()) == finalRows, "tight vacuum changed the current snapshot")
  }

  test("partition pruning survives the manifest read path") {
    val t = "/tmp/graft-test/snap-prune"
    SnapshotTableIO.drop(spark, t)
    SnapshotTableIO.overwriteTable(fixture(1), t, Seq("g"))
    val q = SnapshotTableIO.read(spark, t).filter(col("g") === 2)
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scan.nonEmpty && scan.head.toString.contains("PartitionFilters"))
    assert(scan.head.selectedPartitions.partitionCount == 1,
      "scan must prune to the one matching partition")
    assert(q.count() == 6)
  }

  /** The tables of an index dir: its non-hidden subdirectories. */
  private def tables(d: String): Seq[String] = {
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(d)).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.map(n => s"$d/$n")
  }

  /** Rows as a multiset; binary cells compared by content. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }).groupBy(identity).map { case (r, n) => r -> n.size }

  test("table reads resolve the schema from metadata: no job, and the schema " +
      "and rows of Spark's inferring read, through build, resume, delete, " +
      "upsert and compact on both TableIOs") {
    val sc = spark.sparkContext
    Seq((SnapshotTableIO: TableIO, "/tmp/graft-test/snap-read-s"),
        (ParquetTableIO: TableIO, "/tmp/graft-test/snap-read-p")).foreach { case (io, d) =>
      def check(step: String): Unit = {
        val ts = tables(d).filter(io.exists(spark, _))
        assert(ts.nonEmpty)
        ts.foreach { t =>
          val (df, jobs) = JobRecorder.record(sc)(io.read(spark, t))
          assert(jobs.isEmpty, s"$io $step: reading $t ran jobs $jobs")
          val files = df.inputFiles.toSeq
          // the read as it was: Spark infers the schema from one footer
          val inferred =
            if (io == ParquetTableIO) spark.read.parquet(t)
            else if (files.isEmpty) df // zero-file snapshot: a stored shape
            else spark.read.option("basePath", t).parquet(files: _*)
          assert(df.schema == inferred.schema, s"$io $step: $t schema " +
            s"${df.schema.simpleString} != inferred ${inferred.schema.simpleString}")
          assert(bag(df) == bag(inferred), s"$io $step: $t rows differ")
        }
      }
      IndexBuilder.deleteDir(spark, d)
      val p = params(io)
      IndexBuilder.build(spark, corpus.filter(col("docId") < 100), d,
        p.copy(inputSnapshot = "b0"))
      check("build")
      IndexBuilder.resume(spark, corpus, d, p.copy(inputSnapshot = "b1"))
      check("resume")
      Deletes.deleteWhere(spark, d, pmod(col("docId"), lit(11)) === 4, io)
      check("delete")
      val batch = corpus.filter(col("docId") % 6 === 0).drop("docId")
        .withColumn("content", concat(col("content"), lit(" snapup")))
      Upsert.upsert(spark, batch, d, p.copy(inputSnapshot = "b2"), key)
      check("upsert")
      assert(Compaction.expungeDeletes(spark, d, blockSize = 32, io).nonEmpty)
      check("compact")
    }
  }

  test("a table of more files than Spark lists without a job reads with no " +
      "job on both TableIOs, with Spark's rows") {
    import spark.implicits._
    val sc = spark.sparkContext
    val threshold = spark.sessionState.conf.parallelPartitionDiscoveryThreshold
    val df = (0 until 600).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "g")
      .repartition(threshold + 8)
    Seq((SnapshotTableIO: TableIO, "/tmp/graft-test/snap-many-s"),
        (ParquetTableIO: TableIO, "/tmp/graft-test/snap-many-p")).foreach { case (io, t) =>
      io.drop(spark, t)
      io.overwriteTable(df, t, Seq("g"))
      val (read, jobs) = JobRecorder.record(sc)(io.read(spark, t))
      assert(jobs.isEmpty, s"$io: reading $t ran jobs $jobs")
      assert(read.inputFiles.length > threshold, s"fixture: ${read.inputFiles.length} files")
      assert(read.schema.fieldNames.toSeq == Seq("id", "v", "g"))
      assert(bag(read) == bag(df), s"$io: rows differ")
      assert(bag(read.filter(col("g") === 1)) == bag(df.filter(col("g") === 1)),
        s"$io: rows of a pruned partition differ")
    }
  }

  test("listing equivalence: every table's listing == Spark's own directory " +
      "read (files, schema, rows) through build, resume, delete, upsert, " +
      "retention expiry and compact on both TableIOs; escaped partition " +
      "values; planted _temporary and .crc residue stays invisible") {
    import graft.index.Retention
    import org.apache.commons.io.FileUtils
    val conf = spark.sparkContext.hadoopConfiguration
    Seq((SnapshotTableIO: TableIO, "/tmp/graft-test/snap-list-s"),
        (ParquetTableIO: TableIO, "/tmp/graft-test/snap-list-p")).foreach { case (io, d) =>
      def check(step: String): Unit = {
        val ts = tables(d).filter(io.exists(spark, _))
        assert(ts.nonEmpty)
        ts.foreach { t =>
          val what = s"$io $step: $t"
          val fs = new Path(t).getFileSystem(conf)
          val root = fs.makeQualified(new Path(t))
          // never-committed residue beside the table's files: a copy of
          // one data file in a _temporary dir and as a .crc-named file
          val some = graft.io.ParquetFooters.dataFiles(fs, root).headOption.map(_.getPath)
          val residue = some.toSeq.flatMap { f =>
            val tmp = new Path(root, s"_temporary/0/${f.getName}")
            val crc = new Path(f.getParent, s".${f.getName}.planted.crc")
            Seq(tmp, crc).foreach(p => org.apache.hadoop.fs.FileUtil.copy(fs, f, fs, p, false, conf))
            Seq(new Path(root, "_temporary"), crc)
          }
          val listing = try io.files(spark, t) finally residue.foreach(fs.delete(_, true))
          // Spark's directory read: of the table itself, or, for a snapshot
          // table, of a copy holding only the current snapshot's files
          val refRoot =
            if (io == ParquetTableIO) root
            else {
              val copy = new java.io.File(s"$d-copy/${root.getName}")
              FileUtils.deleteDirectory(copy)
              FileUtils.copyDirectory(new java.io.File(root.toUri.getPath), copy)
              SnapshotTableIO.vacuum(spark, copy.getPath, retain = 1)
              fs.makeQualified(new Path(copy.getPath))
            }
          def rel(p: Path, under: Path) = p.toString.stripPrefix(under.toString + "/")
          val refFiles = graft.io.ParquetFooters.dataFiles(fs, refRoot).map(_.getPath)
          assert(listing.files.map(f => rel(f.path, root)) == refFiles.map(rel(_, refRoot)),
            s"$what: files differ")
          if (listing.files.nonEmpty) {
            val ref = spark.read.parquet(refRoot.toString)
            assert(ref.inputFiles.map(f => rel(new Path(new java.net.URI(f)), refRoot)).sorted.toSeq ==
              listing.files.map(f => rel(f.path, root)), s"$what: Spark lists other files")
            assert(listing.schema == ref.schema, s"$what: schema " +
              s"${listing.schema.simpleString} != ${ref.schema.simpleString}")
            assert(listing.partitionColumns == ref.schema.fieldNames.toSeq
              .takeRight(listing.partitionColumns.size), s"$what: partition columns")
            assert(bag(listing.toDF(spark)) == bag(ref), s"$what: rows differ")
            // the direct reader over the listing returns the same rows
            import org.apache.spark.sql.types._
            val flat: Set[DataType] = Set(StringType, LongType, IntegerType, DoubleType,
              FloatType, BooleanType, BinaryType)
            if (listing.schema.forall(f => flat.contains(f.dataType))) {
              val direct = new graft.io.DirectTable(listing).rows(listing.schema.fieldNames.toSeq)
              assert(direct.map(_.toSeq.map {
                case b: Array[Byte] => b.toSeq
                case x => x
              }).groupBy(identity).map { case (r, n) => r -> n.size } == bag(ref),
                s"$what: direct rows differ")
            }
            listing.files.foreach { f =>
              assert(listing.partitionColumns.forall(f.values.contains), s"$what: ${f.path} values")
            }
          }
        }
      }
      IndexBuilder.deleteDir(spark, d)
      val p = params(io)
      IndexBuilder.build(spark, corpus.filter(col("docId") < 100), d, p.copy(inputSnapshot = "b0"))
      check("build")
      // a segment name Spark escapes in its partition directories
      IndexBuilder.resume(spark, corpus, d, p.copy(inputSnapshot = "b1 [x]%"))
      assert(tables(d).exists(t => new java.io.File(s"$t/inputSnapshot=b1 %5Bx%5D%25").isDirectory),
        "fixture: the lineage has an escaped partition directory")
      check("resume")
      Deletes.deleteWhere(spark, d, pmod(col("docId"), lit(11)) === 4, io)
      check("delete")
      val batch = corpus.filter(col("docId") % 6 === 0).drop("docId")
        .withColumn("content", concat(col("content"), lit(" snapup")))
      Upsert.upsert(spark, batch, d, p.copy(inputSnapshot = "b2"), key)
      check("upsert")
      Retention.expireSnapshots(spark, d, Seq("b0"), io)
      check("expire")
      assert(Compaction.expungeDeletes(spark, d, blockSize = 32, io).nonEmpty)
      check("compact")
    }
  }

  test("the serving tier reads tombstones through the index's storage: an " +
      "orphan tombstone file naming a live doc hides it from no page") {
    import spark.implicits._
    val d = "/tmp/graft-test/snap-orphan-tomb"
    IndexBuilder.deleteDir(spark, d)
    IndexBuilder.build(spark, corpus, d, params(SnapshotTableIO))
    Deletes.deleteWhere(spark, d, pmod(col("docId"), lit(11)) === 4, SnapshotTableIO)
    val q = "python tutorial"
    val before = page(new SearchIndex(spark, d, SnapshotTableIO), q)
    assert(before.nonEmpty)
    val victim = before.head(1).asInstanceOf[Long]
    val group = SnapshotTableIO.read(spark, IndexBuilder.Layout(d).docs)
      .filter(col("docId") === victim).select(col("docGroup").cast("long"))
      .head().getLong(0)

    // a never-committed data file in the victim's tombstone partition: the
    // residue of a writer that died before its manifest commit
    val plant = s"$d/_plant"
    Seq(victim).toDF("docId").coalesce(1).write.mode("overwrite").parquet(plant)
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(plant)).map(_.getPath)
      .filter(_.getName.startsWith("part-")).head
    val tombDir = new Path(s"${Deletes.tombstones(d)}/docGroup=$group")
    fs.mkdirs(tombDir)
    assert(fs.rename(part, new Path(tombDir, s"orphan-${part.getName}")))
    fs.delete(new Path(plant), true)
    assert(Deletes.loadSet(spark, d).contains(group, victim),
      "fixture: a raw parquet read must see the orphan tombstone")

    val idx = new SearchIndex(spark, d, SnapshotTableIO)
    assert(page(idx, q) == before, "the distributed plan saw an uncommitted file")
    def served(hits: Seq[LocalSearcher.Hit]) =
      hits.map(h => Seq(h.rank, h.docId, h.score, h.repo, h.path))
    assert(served(LocalSearcher.search(LocalSearcher.load(idx), q, SearchOpts(k = 10))) ==
      before, "the serving tier dropped a live doc")
    assert(served(LocalSearcher.searchSharded(LocalSearcher.loadSharded(idx, 2), q,
      SearchOpts(k = 10))) == before, "a serving shard dropped a live doc")
  }

  test("serving page == distributed page == exhaustive plan, bitwise, on " +
      "SnapshotTableIO with uncommitted files planted in the docs, postings " +
      "and dictionary partitions; unsharded and 2-shard readers") {
    val d = "/tmp/graft-test/snap-orphan-read"
    IndexBuilder.deleteDir(spark, d)
    IndexBuilder.build(spark, corpus, d, params(SnapshotTableIO))
    val layout = IndexBuilder.Layout(d)
    val queries = Seq("python tutorial", "machine learning", "database performance tuning")
    val opts = SearchOpts(k = 10)
    def bits(rows: Seq[(Int, Long, Double)]) =
      rows.map { case (r, id, s) => (r, id, java.lang.Double.doubleToRawLongBits(s)) }
    def dist(idx: SearchIndex, q: String, o: SearchOpts) = bits(QueryEngine.search(idx, q, o)
      .collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))))
    def served(hits: Seq[LocalSearcher.Hit]) = bits(hits.map(h => (h.rank, h.docId, h.score)))
    val before = queries.map(q => dist(new SearchIndex(spark, d, SnapshotTableIO), q, opts))
    assert(before.forall(_.nonEmpty))

    // never-committed residue beside a committed file in each table: a
    // copy of the postings file (every block twice), and dictionary / docs
    // rows with a different df / repo
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committed(table: String) = SnapshotTableIO.read(spark, table).inputFiles
      .map(f => new Path(new java.net.URI(f))).sorted.head
    def plant(table: String, rows: Path => DataFrame): Unit = {
      val file = committed(table)
      val tmp = s"$d/_plant"
      rows(file).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head
      assert(fs.rename(part, new Path(file.getParent, s"orphan-${part.getName}")))
      fs.delete(new Path(tmp), true)
    }
    plant(layout.postings, f => spark.read.parquet(f.toString))
    plant(layout.dictionary, f => spark.read.parquet(f.toString)
      .withColumn("df", col("df") + 1000L))
    plant(layout.docs, f => spark.read.parquet(f.toString)
      .withColumn("repo", lit("orphan/repo")))
    assert(ParquetTableIO.read(spark, layout.dictionary).inputFiles.exists(_.contains("orphan-")),
      "fixture: a raw listing must see the planted files")

    val idx = new SearchIndex(spark, d, SnapshotTableIO)
    val li = LocalSearcher.load(idx)
    val sharded = LocalSearcher.loadSharded(idx, 2)
    Seq(opts, opts.copy(fields = Seq("content" -> 1.5), phraseBoost = 2.0)).foreach { o =>
      queries.zipWithIndex.foreach { case (q, i) =>
        val page = dist(idx, q, o)
        if (o == opts) assert(page == before(i), s"'$q': the distributed page read a planted file")
        assert(page == dist(idx, q, o.copy(wand = false)), s"'$q': WAND != exhaustive")
        assert(served(LocalSearcher.search(li, q, o)) == page, s"'$q': serving != distributed")
        assert(served(LocalSearcher.searchSharded(sharded, q, o)) == page,
          s"'$q': 2-shard serving != distributed")
      }
    }
    assert(!LocalSearcher.search(li, "python tutorial", opts).exists(_.repo == "orphan/repo"))
  }
}

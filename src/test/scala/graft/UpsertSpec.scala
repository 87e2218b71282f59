package graft

import graft.core.CorpusGen
import graft.index.{Compaction, Deletes, IndexBuilder, Upsert}
import graft.query.{QueryEngine, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Index-level upsert (graft.index.Upsert — the RE-CRAWL lifecycle):
  *   - add / no-op / update per natural key (repo, path), with the docs
  *     table converging on exactly the latest content per key;
  *   - idempotence: re-presenting the same batch is a complete no-op;
  *   - crash convergence: the documented crash window (segment committed,
  *     tombstones not yet applied) converges on retry — the retry skips
  *     every add and re-issues exactly the lost tombstones;
  *   - determinism: the same batch against two copies of an index yields
  *     bitwise-identical docs tables (fresh ids are dense rank by key);
  *   - batch-internal duplicate keys resolve to ONE deterministic winner.
  */
class UpsertSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val params = IndexBuilder.Params(blockSize = 32, docGroupSize = 64L,
    fields = Seq("content"))
  private val key = Seq("repo", "path")
  // one re-crawl batch = one snapshot, stable across retries (Upsert doc)
  private val upsParams = IndexBuilder.Params(blockSize = 32, docGroupSize = 64L,
    fields = Seq("content"), inputSnapshot = "snapshot-up1")
  private val N = 120L

  private def v1 = CorpusGen.generateDF(spark, N, seed = 21L, partitions = 3)

  private def buildV1(dir: String): Unit = {
    IndexBuilder.deleteDir(spark, dir)
    IndexBuilder.build(spark, v1, dir, params)
  }

  /** Re-crawl batch: ids %5==1 unchanged, %5==0 changed content (fresh
    * sha carried, like a real crawler), plus `fresh` brand-new paths. */
  private def batch(fresh: Int): DataFrame = {
    val unchanged = v1.filter(col("docId") % 5 === 1).drop("docId")
    val changed = v1.filter(col("docId") % 5 === 0).drop("docId")
      .withColumn("content", concat(col("content"), lit(" zzzupdated marker")))
      .withColumn("sha256", sha2(col("content"), 256))
    val brandNew = v1.filter(col("docId") < fresh).drop("docId")
      .withColumn("path", concat(col("path"), lit(".new")))
      .withColumn("content", concat(lit("qqnovel document body "), col("content")))
      .withColumn("sha256", sha2(col("content"), 256))
    unchanged.unionByName(changed).unionByName(brandNew)
  }

  private def liveView(dir: String): Set[(String, String, String)] = {
    val docs = spark.read.parquet(s"$dir/docs")
    val dead = Deletes.df(spark, dir).map(_.select("docId"))
      .getOrElse(spark.emptyDataFrame.withColumn("docId", lit(0L)).limit(0))
    docs.join(dead, Seq("docId"), "left_anti")
      .select("repo", "path", "sha256").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  }

  test("add / no-op / update semantics, counts, and the converged live view") {
    val dir = "/tmp/graft-test/ups-basic"
    buildV1(dir)
    val b = batch(fresh = 7)
    val nChanged = N / 5 + (if (N % 5 > 0) 1L else 0L) // ids 0,5,...
    val r = Upsert.upsert(spark, b, dir, upsParams, key)
    assert(r.added == nChanged + 7, "changed keys + brand-new keys are added")
    assert(r.tombstoned == nChanged, "exactly the stale versions tombstoned")
    assert(r.unchangedSkipped == b.count() - r.added, "rest skipped")

    // live view == v1 with changed keys swapped to new content, new keys added
    val expect = v1.withColumn("_chg", col("docId") % 5 === 0).drop("docId")
      .withColumn("content", when(col("_chg"),
        concat(col("content"), lit(" zzzupdated marker"))).otherwise(col("content")))
      .withColumn("sha256", sha2(col("content"), 256)).drop("_chg")
      .unionByName(b.filter(col("path").endsWith(".new")))
      .select("repo", "path", "sha256").collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2))).toSet
    assert(liveView(dir) == expect)

    // fresh ids are dense, contiguous, above every v1 id
    val freshIds = spark.read.parquet(s"$dir/docs")
      .filter(col("docId") >= N).select("docId").collect().map(_.getLong(0)).sorted
    assert(freshIds.toSeq == (N until N + r.added).toSeq)

    // the engine serves ONLY the new versions: every changed doc matches the
    // marker term under a fresh id; no tombstoned id is served
    val idx = new SearchIndex(spark, dir)
    val hits = QueryEngine.search(idx, "zzzupdated marker",
      SearchOpts(k = 60, diversity = false)).select("docId").collect().map(_.getLong(0))
    assert(hits.nonEmpty && hits.forall(_ >= N), "stale version served")
    val novel = QueryEngine.search(idx, "qqnovel",
      SearchOpts(k = 20, diversity = false)).count()
    assert(novel == 7L, "brand-new docs must be searchable")

    // idempotence: the same batch again is a complete no-op
    val r2 = Upsert.upsert(spark, b, dir, upsParams, key)
    assert(r2 == Upsert.Result(0L, 0L, b.count()))
    assert(liveView(dir) == expect)

    // and after expunge the purged index still answers identically
    Compaction.expungeDeletes(spark, dir, params.blockSize)
    assert(Deletes.count(spark, dir) == 0L)
    val idx2 = new SearchIndex(spark, dir)
    val hits2 = QueryEngine.search(idx2, "zzzupdated marker",
      SearchOpts(k = 60, diversity = false)).select("docId").collect().map(_.getLong(0))
    assert(hits2.sorted.toSeq == hits.sorted.toSeq)
  }

  test("crash window converges: adds committed, tombstones lost -> retry " +
      "re-issues exactly the tombstones and adds nothing") {
    val dir = "/tmp/graft-test/ups-crash"
    buildV1(dir)
    val b = batch(fresh = 3)
    val r1 = Upsert.upsert(spark, b, dir, upsParams, key)
    assert(r1.tombstoned > 0)
    val view = liveView(dir)

    // simulate the crash: segment committed (adds ran first), process died
    // before Deletes.deleteIds -> tombstone table never written. In that
    // window the KeyMap maintenance step never ran either, so its validity
    // marker is absent (upsert drops it before the first mutation) — mirror
    // that here, since this completed run restored it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(Deletes.tombstones(dir)), true)
    graft.index.KeyMap.invalidate(spark, dir)
    assert(liveView(dir) != view, "both versions visible inside the window")

    val r2 = Upsert.upsert(spark, b, dir, upsParams, key)
    assert(r2.added == 0L, "retry must not duplicate the committed segment")
    assert(r2.tombstoned == r1.tombstoned, "retry re-issues the lost tombstones")
    assert(liveView(dir) == view, "retry converges to the same live view")
  }

  test("crash window converges: docs/postings written, lineage commit LOST " +
      "-> retry re-runs the adds idempotently, no duplicate docIds (ADVICE r4)") {
    val dir = "/tmp/graft-test/ups-crash-lineage"
    buildV1(dir)
    val b = batch(fresh = 3)
    val r1 = Upsert.upsert(spark, b, dir, upsParams, key)
    assert(r1.added > 0 && r1.tombstoned > 0)
    val view = liveView(dir)

    // simulate a crash BETWEEN the segment's docs/postings/derived writes
    // and the lineage commit (lineage is written LAST by buildGroups): the
    // orphan segment's rows exist in docs/postings and the derived manifest,
    // but lineage has no record of them. Deletes never ran (they run after
    // the append), and the keymap marker is absent (dropped before the
    // first mutation).
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/lineage/inputSnapshot=${upsParams.inputSnapshot}"), true)
    fs.delete(new org.apache.hadoop.fs.Path(Deletes.tombstones(dir)), true)
    graft.index.KeyMap.invalidate(spark, dir)

    // the retry must NOT classify the orphan rows as live-with-same-sha
    // (which would skip the adds and strand the segment forever): it re-runs
    // resume, whose same-segment dynamic overwrite replaces the orphan
    // partitions, and re-issues the tombstones
    val r2 = Upsert.upsert(spark, b, dir, upsParams, key)
    assert(r2.added == r1.added, "retry must re-commit the orphan segment's adds")
    assert(r2.tombstoned == r1.tombstoned, "retry re-issues the lost tombstones")
    assert(r2.unchangedSkipped == r1.unchangedSkipped)

    // the id hazard the fix closes: fresh-id assignment over a lineage that
    // never saw the orphan reuses its ids — the overwrite must leave exactly
    // one row per docId, never orphan+retry duplicates
    val d = spark.read.parquet(s"$dir/docs")
      .agg(count(lit(1)), countDistinct(col("docId"))).collect()(0)
    assert(d.getLong(0) == d.getLong(1), "duplicate docIds after retry")
    assert(liveView(dir) == view, "retry converges to the committed live view")

    // and lineage now records the segment (a third run is a pure no-op)
    val r3 = Upsert.upsert(spark, b, dir, upsParams, key)
    assert(r3 == Upsert.Result(0L, 0L, b.count()))
  }

  test("deterministic: same batch on two index copies -> identical docs " +
      "tables; batch-internal duplicate keys resolve to one winner") {
    val d1 = "/tmp/graft-test/ups-det1"
    val d2 = "/tmp/graft-test/ups-det2"
    buildV1(d1); buildV1(d2)
    // duplicate-key rows: same (repo,path), two different contents — the
    // smaller sha wins, and the choice is stable across runs
    val dup = v1.filter(col("docId") === 2).drop("docId")
      .withColumn("content", concat(col("content"), lit(" variantA")))
      .withColumn("sha256", sha2(col("content"), 256))
      .unionByName(v1.filter(col("docId") === 2).drop("docId")
        .withColumn("content", concat(col("content"), lit(" variantB")))
        .withColumn("sha256", sha2(col("content"), 256)))
    val b = batch(fresh = 2).unionByName(dup)
    val ra = Upsert.upsert(spark, b, d1, upsParams, key)
    val rb = Upsert.upsert(spark, b, d2, upsParams, key)
    assert(ra == rb)
    def docsOf(d: String) = spark.read.parquet(s"$d/docs")
      .select("docId", "repo", "path", "sha256", "dl_content", "segment")
      .collect().map(_.toSeq).toSet
    assert(docsOf(d1) == docsOf(d2), "fresh-id assignment must be deterministic")
    // exactly one winner for the duplicated key, and it's the min-sha variant
    val winner = spark.read.parquet(s"$d1/docs")
      .join(v1.filter(col("docId") === 2).select("repo", "path").drop("docId"),
        Seq("repo", "path"), "left_semi")
      .join(Deletes.df(spark, d1).get.select("docId"), Seq("docId"), "left_anti")
      .select("sha256").collect().map(_.getString(0)).toSeq
    val shas = dup.select(sha2(col("content"), 256)).collect().map(_.getString(0))
    assert(winner == Seq(shas.min), "duplicate key must resolve to the min-sha variant")
  }

  test("fresh-id base from footer statistics; a footer without them fails loudly") {
    import spark.implicits._
    val dir = "/tmp/graft-test/upsert-footer-stats"
    Seq(3L, 17L, 9L).toDF("maxDocId").write.mode("overwrite").parquet(s"$dir/with")
    assert(graft.io.ParquetFooters.maxLong(spark.read.parquet(s"$dir/with"), "maxDocId")
      .contains(17L))
    Seq(3L).toDF("maxDocId").write.mode("overwrite")
      .option("parquet.column.statistics.enabled", "false").parquet(s"$dir/without")
    val e = intercept[IllegalStateException](
      graft.io.ParquetFooters.maxLong(spark.read.parquet(s"$dir/without"), "maxDocId"))
    assert(e.getMessage.contains("no statistics for column maxDocId"), e.getMessage)
  }
}

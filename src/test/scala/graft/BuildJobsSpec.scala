package graft

import graft.core.CorpusGen
import graft.index.IndexBuilder
import graft.io.{ParquetTableIO, SnapshotTableIO, TableIO}
import org.apache.spark.graft.JobRecorder
import org.apache.spark.graft.JobRecorder.Job
import org.scalatest.funsuite.AnyFunSuite

/** The Spark jobs of the shared write path (build, resume and
  * refreshDerived) on one small fixture: how many there are, which run
  * side by side, and that the commit order holds. Jobs are told apart by
  * their SQL plan: a write by its output table, an aggregate by a column
  * only it computes. */
class BuildJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val root = "/tmp/graft-test-jobs"
  private val params = IndexBuilder.Params(blockSize = 32, docGroupSize = 128L)
  private lazy val corpus = CorpusGen.generateDF(spark, 500L, 5L, partitions = 4)
  private def base = corpus.filter("docId < 400")
  private def batch = corpus.filter("docId >= 400")
  private val appendParams = params.copy(inputSnapshot = "s1")

  /** The jobs `body` ran, under job group `group`. */
  private def recorded(group: String)(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try JobRecorder.record(sc)(body)._2 finally sc.clearJobGroup()
  }

  private def write(table: String)(j: Job) =
    j.plan.contains("InsertIntoHadoopFsRelationCommand") &&
      j.plan.contains(s"/$table,")
  private def computes(column: String)(j: Job) = j.plan.contains(column)
  private val docsAgg = computes("nDistinct") _
  private val dictAgg = computes("sumFan") _

  /** The time span of `jobs`, which must not be empty. */
  private def span(jobs: Seq[Job], what: String): (Long, Long) = {
    assert(jobs.nonEmpty, s"no $what job")
    (jobs.map(_.startMs).min, jobs.map(_.endMs).max)
  }
  private def assertOverlap(jobs: Seq[Job], a: (String, Job => Boolean),
      b: (String, Job => Boolean)): Unit = {
    val (sa, ea) = span(jobs.filter(a._2), a._1)
    val (sb, eb) = span(jobs.filter(b._2), b._1)
    assert(sa < eb && sb < ea, s"${a._1} [$sa, $ea] and ${b._1} [$sb, $eb] ran apart")
  }
  private def assertBefore(jobs: Seq[Job], a: (String, Job => Boolean),
      b: (String, Job => Boolean)): Unit = {
    val (_, ea) = span(jobs.filter(a._2), a._1)
    val (sb, _) = span(jobs.filter(b._2), b._1)
    assert(ea <= sb, s"${b._1} started at $sb, before ${a._1} ended at $ea")
  }

  /** The checks every refresh shares: docs ‖ dictionary aggregates,
    * stats ‖ metrics writes, the meta marker after every derived write. */
  private def assertRefresh(jobs: Seq[Job]): Unit = {
    assertOverlap(jobs, "docs aggregate" -> docsAgg, "dictionary aggregate" -> dictAgg)
    assertOverlap(jobs, "stats write" -> write("stats"), "metrics write" -> write("metrics"))
    val derived = "derived writes" -> ((j: Job) =>
      Seq("dictionary", "stats", "metrics").exists(t => write(t)(j)))
    assertBefore(jobs, "aggregates" -> ((j: Job) => docsAgg(j) || dictAgg(j)), derived)
    assertBefore(jobs, derived, "meta write" -> write("dictionary_meta"))
  }

  /** Build and resume: docs ‖ postings writes, then the refresh beside the
    * lineage aggregate (the plan-less jobs of its cache fill), the lineage
    * write last. */
  private def assertWrite(jobs: Seq[Job]): Unit = {
    val segment = "segment writes" -> ((j: Job) => write("docs")(j) || write("postings")(j))
    assertOverlap(jobs, "docs write" -> write("docs"), "postings write" -> write("postings"))
    val (_, segEnd) = span(jobs.filter(segment._2), segment._1)
    val lineageAgg = "lineage aggregate" -> ((j: Job) => j.plan.isEmpty && j.startMs >= segEnd)
    assertOverlap(jobs, lineageAgg, "refresh" -> ((j: Job) => docsAgg(j) || dictAgg(j)))
    assertBefore(jobs, segment, "refresh" -> ((j: Job) => docsAgg(j) || dictAgg(j)))
    assertBefore(jobs, "meta write" -> write("dictionary_meta"), "lineage write" -> write("lineage"))
    assert(jobs.filter(write("lineage")).map(_.startMs).min ==
      jobs.map(_.startMs).max, "the lineage write is not the last job")
    assertRefresh(jobs)
  }

  test("build, resume and refreshDerived: pinned job counts, side jobs in " +
      "the caller's job group, overlapped passes, unchanged commit order") {
    val dir = s"$root/parquet"
    val b = recorded("build")(IndexBuilder.build(spark, base, dir, params))
    val r = recorded("resume")(IndexBuilder.resume(spark, batch, dir, appendParams))
    val d = recorded("refresh")(IndexBuilder.refreshDerived(spark, dir))
    // 28, 30 and 14 jobs before the write path was shortened
    assert((b.size, r.size, d.size) == (20, 24, 12))
    for ((g, jobs) <- Seq("build" -> b, "resume" -> r, "refresh" -> d))
      assert(jobs.forall(_.group.contains(g)), s"a $g job left its job group")
    assertWrite(b)
    assertWrite(r)
    assertRefresh(d)
  }

  test("the same build and append on SnapshotTableIO writes identical tables") {
    val pq = s"$root/parquet-twin"
    val snap = s"$root/snapshot"
    IndexBuilder.build(spark, base, pq, params)
    IndexBuilder.resume(spark, batch, pq, appendParams)
    val sp = params.copy(io = SnapshotTableIO)
    IndexBuilder.build(spark, base, snap, sp)
    IndexBuilder.resume(spark, batch, snap, sp.copy(inputSnapshot = "s1"))
    for (t <- Seq("docs", "postings", "dictionary", "dictionary_meta", "stats",
        "metrics", "lineage")) {
      val same = TableRows(ParquetTableIO, pq, t) == TableRows(SnapshotTableIO, snap, t)
      assert(same, s"$t differs between ParquetTableIO and SnapshotTableIO")
    }
  }
}

/** A table's rows as a sorted list of strings (byte arrays by content),
  * lineage without its `updatedAt` wall-clock column. */
object TableRows {
  /** Whether `table` holds the same rows in `a` and `b` (a failed check
    * names the table, not thousands of rows). */
  def same(io: TableIO, a: String, b: String, table: String): Boolean =
    apply(io, a, table) == apply(io, b, table)

  def apply(io: TableIO, dir: String, table: String): Seq[String] = {
    val spark = SparkTestSession.spark
    val df = io.read(spark, s"$dir/$table")
    val cols = df.columns.filterNot(c => table == "lineage" && c == "updatedAt").sorted
    df.select(cols.map(df.col).toSeq: _*).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted
  }
}

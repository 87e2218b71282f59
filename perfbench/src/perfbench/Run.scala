package perfbench

import graft.core.Analyzer
import graft.index.BlockRow
import graft.query.{LocalSearcher, QueryEngine, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.sql.SparkSession

/** One benchmark run: its inputs, its tracer and Spark counters, and the
  * tallies every workload reports. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val cpus: Int, val spec: Spec,
    val workDir: String, val traceDir: java.nio.file.Path) {

  /** Seconds from JVM start until the Spark session was up. */
  val sessionReadyS: Double = Jvm.uptimeSeconds()
  val tracer = new Tracer(trace)
  val jobs: Option[JobCounters] =
    if (!trace) None
    else {
      val j = new JobCounters
      spark.sparkContext.addSparkListener(j)
      Some(j)
    }

  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  /** First few failure descriptions, printed for diagnosis. */
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(what)
  }

  /** Count one attempted operation; `body` returns whether its output was
    * correct. A throw counts as failed and the run continues. */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted.incrementAndGet()
    val ok = try body catch {
      case e: Throwable => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); return false
    }
    if (!ok) fail(s"$what: wrong output")
    ok
  }

  /** Run `body` under Spark job group `g` (traced runs only). */
  def group[T](g: String)(body: => T): T = jobs match {
    case None => body
    case Some(j) =>
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(JobCounters.GroupKey)
      val prevFallback = j.fallbackGroup
      sc.setJobGroup(g, g, interruptOnCancel = false)
      j.fallbackGroup = g
      try body
      finally {
        if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev, interruptOnCancel = false)
        j.fallbackGroup = prevFallback
      }
  }

  /** Deliver every pending Spark listener event; call before reading the
    * job counters. */
  def settle(): Unit = jobs.foreach(_.drain(spark.sparkContext))

  /** Whether Spark ran a job under group `g` (traced runs only). */
  def ranJobs(g: String): Boolean = jobs.flatMap(_.get(g)).exists(_.jobs > 0)

  // --- LocalSearcher calls, traced per layer ---------------------------

  /** Tallies of traced LocalSearcher calls. */
  val localCalls = new AtomicLong(0L)
  val localBlocks = new AtomicLong(0L)
  val localPostings = new AtomicLong(0L)
  private val probeGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Page ids each query returned last time: the harness's docsOf probe. */
  private val lastPage = new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()

  /** `LocalSearcher.search`, and when `traced`, the layer calls in the
    * order the search makes them — `dfs`, `blocksOf`, `docsOf` (for the
    * page the query returned last time), then `search` — each in its own
    * span and Spark job group, under one request span. */
  def localSearch(li: LocalSearcher.LocalIndex, q: Gen.Query, opts: SearchOpts,
      traced: Boolean, tag: String): Seq[LocalSearcher.Hit] =
    if (!traced || !trace) LocalSearcher.search(li, q.text, opts)
    else {
      val req = tracer.nextRequest()
      val hits = tracer.span("local.search", req) {
        val terms = Analyzer.distinctQueryTerms(q.text).sorted.toSeq
        val fields = opts.fields.map(_._1)
        val dfs = tracer.span("local.dfs", req) {
          group(s"$tag.r$req.dfs")(li.dfs(fields, terms)) }
        val blocks = tracer.span("local.blocks", req) {
          group(s"$tag.r$req.blocks")(li.blocksOf(dfs.keys.toSeq)) }
        tracer.span("local.docs", req) {
          group(s"$tag.r$req.docs")(li.docsOf(lastPage.getOrDefault(q.text + q.phrase, Nil))) }
        localBlocks.addAndGet(blocks.valuesIterator.map(_.length.toLong).sum)
        localPostings.addAndGet(blocks.valuesIterator.flatMap(_.iterator).map(_.n.toLong).sum)
        tracer.span("local.score", req) {
          group(s"$tag.r$req.score")(LocalSearcher.search(li, q.text, opts)) }
      }
      Seq("dfs", "blocks", "docs").foreach(c => probeGroups.add(s"$tag.r$req.$c"))
      localCalls.incrementAndGet()
      lastPage.put(q.text + q.phrase, hits.map(_.docId))
      hits
    }

  /** Share of traced dfs/blocksOf/docsOf calls that ran a Spark job. */
  def cacheMissFrac: Double = {
    val gs = probeGroups.toArray(Array.empty[String])
    if (gs.isEmpty) 0.0 else gs.count(ranJobs).toDouble / gs.length
  }

  // --- layer metrics ---------------------------------------------------

  private val layer = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  def put(name: String, v: Double): Unit = layer.put(name, v)
  def add(name: String, v: Double): Unit = layer.merge(name, v, (a, b) => a + b)
  def layerMetrics: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    layer.forEach((k, v) => b += k -> v)
    b.result()
  }

  /** Per-layer numbers of the traced LocalSearcher calls made so far;
    * `decoded` and `scored` are `li`'s counter deltas over `queries`
    * queries, traced or not. */
  def putLocalLayer(li: LocalSearcher.LocalIndex, decoded: Long, scored: Long,
      queries: Long): Unit = {
    val self = Tracer.selfByName(tracer.spans)
    val n = math.max(1L, localCalls.get()).toDouble
    def ms(name: String) = self.get(name).map(_._1 / 1e6 / n).getOrElse(0.0)
    put("query.local.dfs_ms", ms("local.dfs"))
    put("query.local.blocks_ms", ms("local.blocks"))
    put("query.local.docs_ms", ms("local.docs"))
    put("query.local.score_ms", ms("local.score"))
    put("query.local.search_ms", tracer.spans.iterator.filter(_.name == "local.search")
      .map(_.durNs).sum / 1e6 / n)
    val q = math.max(1L, queries).toDouble
    put("query.local.blocks_decoded_per_q", decoded / q)
    put("query.local.docs_scored_per_q", scored / q)
    put("query.local.blocks_total_per_q", localBlocks.get() / n)
    put("query.local.postings_total_per_q", localPostings.get() / n)
    put("query.local.block_skip_ratio",
      if (localBlocks.get() == 0) 0.0 else 1.0 - (decoded / q) / (localBlocks.get() / n))
    put("query.local.cache_miss_frac", cacheMissFrac)
    put("query.local.cache_block_mb", li.residentBlockBytes / 1e6)
    put("query.local.cache_dict_terms", li.residentDictTerms.toDouble)
    put("query.local.cache_docs", li.residentDocs.toDouble)
  }

  /** Listener counters of the `queries` traced `QueryEngine` queries
    * under groups accepted by `p`, per query, given their summed wall
    * time; `decodedPerQ` comes from the index's accumulator. */
  def putEngineLayer(p: String => Boolean, queries: Long, wallNs: Long,
      decodedPerQ: Double): Unit =
    jobs.foreach { j =>
      val a = j.sum(p)
      val q = math.max(1L, queries).toDouble
      put("query.engine.jobs_per_q", a.jobs / q)
      put("query.engine.stages_per_q", a.stages / q)
      put("query.engine.tasks_per_q", a.tasks / q)
      put("query.engine.input_mb_per_q", a.inputBytes / 1e6 / q)
      put("query.engine.task_run_ms_per_q", a.runMs / q)
      put("query.engine.driver_ms_per_q", math.max(0L, wallNs - a.jobNs) / 1e6 / q)
      put("query.engine.blocks_decoded_per_q", decodedPerQ)
    }

  /** Write-layer counters of the calls under groups accepted by `p`,
    * named `<prefix>.<counter>`, over `calls` calls of total `wallS`. */
  def putWriteLayer(prefix: String, p: String => Boolean, calls: Int, wallS: Double): Unit =
    jobs.foreach { j =>
      val a = j.sum(p)
      val c = math.max(1, calls).toDouble
      put(s"$prefix.jobs", a.jobs / c)
      put(s"$prefix.stages", a.stages / c)
      put(s"$prefix.output_mb", a.outputBytes / 1e6 / c)
      put(s"$prefix.input_mb", a.inputBytes / 1e6 / c)
      put(s"$prefix.shuffle_write_mb", a.shuffleWriteBytes / 1e6 / c)
      put(s"$prefix.spill_mb", a.spillBytes / 1e6 / c)
      put(s"$prefix.task_cpu_frac",
        if (wallS <= 0) 0.0 else a.cpuNs / 1e9 / (wallS * cpus))
    }

  /** Job time per call site of the build, as `build.pass.<File.method>_s`. */
  def putBuildPasses(): Unit = jobs.foreach { j =>
    j.passSeconds("build").foreach { case (site, s) => add(s"build.pass.${site}_s", s) }
  }

  /** `io.files.<table>` and `io.bytes.<table>` of the index at `dir`. */
  def putListing(dir: String): Unit =
    Listing.tables(dir).foreach { case (t, x) =>
      put(s"io.files.$t", x.files.toDouble)
      put(s"io.bytes.$t", x.bytes.toDouble)
    }

  /** Build counters the index itself records in its `metrics` table. */
  def putIndexMetrics(dir: String): Unit = {
    val r = spark.read.parquet(graft.index.IndexBuilder.Layout(dir).metrics).collect()
    def sumOf(c: String) = r.map(x => x.getAs[Long](c).toDouble).sum
    put("build.postings_emitted", sumOf("postingsEmitted"))
    put("build.bytes_compressed", sumOf("bytesCompressed"))
    put("build.max_merge_fan_in", if (r.isEmpty) 0.0 else r.map(_.getAs[Long]("maxMergeFanIn")).max.toDouble)
  }

  def putCodec(blocks: Seq[BlockRow]): Unit =
    attempt("codec: every block re-encodes to its stored bytes") {
      val (m, bad) = Layers.codec(blocks)
      m.foreach { case (k, v) => put(k, v) }
      bad == 0
    }

  /** GC and allocation over the measured phase: `gc0` and `gc1` are
    * [[Jvm.gc]] at its start and end. */
  def putJvm(gc0: (Long, Long), gc1: (Long, Long), allocBytes: Double, queries: Long): Unit = {
    put("jvm.gc_count", (gc1._1 - gc0._1).toDouble)
    put("jvm.gc_ms", (gc1._2 - gc0._2).toDouble)
    put("jvm.alloc_kb_per_q", allocBytes / 1024.0 / math.max(1L, queries))
  }

  /** Allocation tally of traced-run query threads. */
  val allocBytes = new DoubleAdder()
  def measureAlloc[T](body: => T): T =
    if (!trace) body
    else {
      val a0 = Jvm.threadAllocated()
      try body finally allocBytes.add((Jvm.threadAllocated() - a0).toDouble)
    }

  def writeTrace(e2e: Map[String, Double]): Unit = if (trace) {
    tracer.write(traceDir.resolve("spans.jsonl"))
    val lm = layerMetrics.toSeq.sortBy(_._1)
    val body = (lm.map { case (k, v) => s"""  "$k": ${Main.num(v)}""" } ++
      e2e.toSeq.sortBy(_._1).map { case (k, v) => s"""  "e2e.$k": ${Main.num(v)}""" })
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(traceDir.resolve("layers.json"), body.getBytes("UTF-8"))
  }
}

/** Shared engine calls. */
object Engine {
  def opts(q: Gen.Query): SearchOpts =
    if (q.phrase) SearchOpts(phraseBoost = 2.0) else SearchOpts()

  /** (rank, docId, score) rows of a distributed search. */
  def search(index: SearchIndex, q: Gen.Query, o: SearchOpts): Seq[(Int, Long, Double)] =
    QueryEngine.search(index, q.text, o).select("rank", "docId", "score").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

  /** Bitwise equality of two pages in (rank, docId, score). */
  def samePage(a: Seq[(Int, Long, Double)], b: Seq[(Int, Long, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((r1, d1, s1), (r2, d2, s2)) =>
      r1 == r2 && d1 == d2 &&
        java.lang.Double.doubleToRawLongBits(s1) == java.lang.Double.doubleToRawLongBits(s2)
    }

  def page(hits: Seq[LocalSearcher.Hit]): Seq[(Int, Long, Double)] =
    hits.map(h => (h.rank, h.docId, h.score))
}

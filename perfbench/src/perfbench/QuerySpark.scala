package perfbench

import graft.core.Analyzer
import graft.index.IndexBuilder
import graft.query.{LocalSearcher, SearchIndex}
import org.apache.spark.sql.functions.{col, octet_length, sum}

/** query-spark: the same corpus shape, opened with `new SearchIndex` and
  * never warmed, so every query re-reads the on-disk index through Spark
  * (the program holds no cache). One closed-loop client calls
  * `QueryEngine.search(...).collect()` over a wider seeded stream. */
object QuerySpark {
  def run(r: Run): Result = {
    val spark = r.spark
    val sp = r.spec
    val nDocs = sp.long("docs")
    val dir = s"${r.workDir}/index"

    // ---- set-up ----
    val corpus = Gen.docs(spark, r.seed, 0L, nDocs, r.cpus * 4)
    val buildS = Main.timed(r.group("build")(IndexBuilder.build(spark, corpus, dir)))
    val inputBytes = corpus.agg(sum(octet_length(col("content")))).first().getLong(0)
    val indexBytes = Listing.totalBytes(dir)
    val queries = Gen.distinctQueries(sp.int("distinct_queries"))
    val stream = Gen.stream(r.seed, queries.length, 1 << 16)
    var index: SearchIndex = null
    val openS = Main.timed(r.group("engine.open") { index = new SearchIndex(spark, dir) })

    // ---- measured ----
    val setupS = Jvm.uptimeSeconds()
    val gc0 = Jvm.gc()
    val dec0 = index.blocksDecoded.value
    val pages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[(Int, Long, Double)]]()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[(Int, Long, Double)])]()
    val tracedNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val tracedN = new java.util.concurrent.atomic.AtomicLong(0L)
    val closed = Load.closedLoop(1, (r.seconds * 1e9).toLong, (i, _) => {
      val qi = stream(i % stream.length)
      val q = queries(qi)
      val traced = r.trace && i % 2 == 0
      var page: Seq[(Int, Long, Double)] = null
      r.attempted.incrementAndGet()
      val t0 = System.nanoTime()
      try {
        page = r.measureAlloc {
          if (!traced) Engine.search(index, q, Engine.opts(q))
          else r.tracer.span("engine.search", r.tracer.nextRequest()) {
            r.group(s"engine.q$i")(Engine.search(index, q, Engine.opts(q))) }
        }
      } catch { case e: Throwable => r.fail(s"query-spark query: ${e.getMessage}") }
      if (traced) { tracedNs.addAndGet(System.nanoTime() - t0); tracedN.incrementAndGet() }
      if (page != null) results.add(qi -> page)
      page != null
    })
    val gc1 = Jvm.gc()
    val heapMb = Jvm.liveHeapMb()
    val decoded = index.blocksDecoded.value - dec0

    // ---- check: every page equals the serving tier's on the same index ----
    val li = LocalSearcher.load(index)
    results.forEach { case (qi, page) =>
      val q = queries(qi)
      val want = pages.computeIfAbsent(qi, _ =>
        Engine.page(LocalSearcher.search(li, q.text, Engine.opts(q))))
      if (!Engine.samePage(page, want)) r.fail(s"query-spark '${q.text}': page differs from LocalSearcher")
    }

    // ---- report ----
    val ms = closed.outcomes.map(_.latencyNs / 1e6)
    val untraced = if (!r.trace) ms.toSeq else ms.indices.filter(_ % 2 == 1).map(ms)
    if (r.trace) {
      r.settle()
      val traced = ms.indices.filter(_ % 2 == 0).map(ms)
      r.put("bench.trace_overhead_frac", Stats.median(traced) / Stats.median(untraced) - 1.0)
      r.put("query.engine.open_s", openS)
      r.putEngineLayer(_.startsWith("engine.q"), tracedN.get(), tracedNs.get(),
        decoded.toDouble / math.max(1, closed.outcomes.length))
      r.putJvm(gc0, gc1, r.allocBytes.sum(), closed.outcomes.length)
      r.putWriteLayer("build", _ == "build", 1, buildS)
      r.putBuildPasses()
      r.putIndexMetrics(dir)
      r.putListing(dir)
      val keys = queries.flatMap(q => Analyzer.distinctQueryTerms(q.text)).distinct
        .map(t => ("content", t))
      r.putCodec(li.blocksOf(keys).valuesIterator.flatten.toSeq)
      r.put("analyzer.tokenize_mb_per_s", Layers.tokenizeMbPerSec(Gen.texts(r.seed, 0, 2000)))
    }
    Result(
      queryMs = untraced,
      throughputQps = closed.throughput(Main.ThroughputSlices),
      buildDocsPerS = nDocs / buildS,
      indexBytesPerInputByte = indexBytes.toDouble / inputBytes,
      heapLiveMb = heapMb,
      setupS = setupS,
      notes = Seq(
        f"closed loop: ${closed.outcomes.length} queries, 1 client, ${closed.outcomes.length / (closed.wallNs / 1e9)}%.2f q/s",
        s"distinct queries run and checked against LocalSearcher: ${pages.size}/${queries.length}"),
      ingest = None)
  }
}

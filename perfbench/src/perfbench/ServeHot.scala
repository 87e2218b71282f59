package perfbench

import graft.core.Analyzer
import graft.index.IndexBuilder
import graft.query.{LocalSearcher, SearchIndex}
import org.apache.spark.sql.functions.{col, octet_length, sum}

/** serve-hot: a flat CorpusGen index served in-process by LocalSearcher
  * with unbounded caches, after every distinct query has run once. The
  * measured phase is an open loop at the spec's fixed offered rate, then a
  * closed loop with nproc - 1 clients. No Spark job runs after warm-up. */
object ServeHot {
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

    // reference pages from the exhaustive distributed plan, on a warmed
    // handle of its own that is released before serving starts
    var reference: IndexedSeq[Seq[(Int, Long, Double)]] = null
    val refS = Main.timed {
      val warmed = new SearchIndex(spark, dir).warm()
      reference = Main.parallel(queries.indices, r.cpus) { i =>
        val q = queries(i)
        Engine.search(warmed, q, Engine.opts(q).copy(wand = false))
      }
      warmed.postings.unpersist(blocking = true)
      warmed.docs.unpersist(blocking = true)
    }
    val index = new SearchIndex(spark, dir)
    var li: LocalSearcher.LocalIndex = null
    val warmS = Main.timed {
      li = LocalSearcher.load(index)
      // the working set's dictionary entries and blocks in one probe each;
      // the first run of each query then fetches only its page metadata
      val keys = queries.flatMap(q => Analyzer.distinctQueryTerms(q.text)).distinct
        .map(t => ("content", t))
      li.blocksOf(li.dfs(Seq("content"), keys.map(_._2)).keys.toSeq)
      Main.parallel(queries.indices, r.cpus) { i =>
        LocalSearcher.search(li, queries(i).text, Engine.opts(queries(i)))
      }
      // let the JIT compile the serving path before anything is timed
      Load.closedLoop(math.max(1, r.cpus - 1), (sp.double("warmup_s") * 1e9).toLong, (i, _) => {
        val q = queries(stream(i % stream.length))
        LocalSearcher.search(li, q.text, Engine.opts(q)).nonEmpty
      })
    }

    // ---- measured ----
    val setupS = Jvm.uptimeSeconds()
    val gc0 = Jvm.gc()
    val dec0 = li.decodeCount.get()
    val sc0 = li.scoredCount.get()
    val checkedOnce = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()
    def op(i: Int, traced: Boolean): Boolean = r.attempt("serve-hot query") {
      val qi = stream(i % stream.length)
      val q = queries(qi)
      val hits = r.measureAlloc(r.localSearch(li, q, Engine.opts(q), traced, "serve"))
      // every result is checked; a distinct query's first check is what the
      // run promises, the repeats come almost free
      checkedOnce.put(qi, true)
      Engine.samePage(Engine.page(hits), reference(qi))
    }
    val workers = math.max(1, r.cpus - 1)
    val openNs = (r.seconds * sp.double("open_loop_share") * 1e9).toLong
    val open = Load.openLoop(sp.double("open_loop_rate_qps"), openNs, workers,
      (i, _) => op(i, traced = i % 2 == 0))
    val closed = Load.closedLoop(workers, (r.seconds * 1e9).toLong - openNs,
      (i, _) => op(i + open.outcomes.length, traced = i % 2 == 0))
    val gc1 = Jvm.gc()
    val heapMb = Jvm.liveHeapMb()

    // ---- report ----
    val openMs = open.outcomes.map(_.latencyNs / 1e6)
    val closedMs = closed.outcomes.map(_.latencyNs / 1e6).toSeq
    val untraced = if (!r.trace) openMs.indices else openMs.indices.filter(_ % 2 == 1)
    // a window in which the generator itself ran late did not offer the
    // fixed rate (the host took the harness's CPUs): it is invalid and
    // left out, unless no window is valid
    val windows = Stats.windows(untraced, Main.LatencyWindow)
    val valid = windows.filter(w =>
      Stats.percentile(w.map(open.lateNs(_) / 1e6), 98) <= sp.double("max_late_ms"))
    val measuredMs = (if (valid.nonEmpty) valid else windows).flatten.map(openMs)
    val total = open.outcomes.length + closed.outcomes.length
    if (r.trace) {
      r.settle()
      val traced = open.outcomes.indices.filter(_ % 2 == 0).map(openMs)
      r.put("bench.trace_overhead_frac", Stats.median(traced) / Stats.median(measuredMs) - 1.0)
      r.put("bench.gen_late_ms_p99", Stats.percentile(open.lateNs.map(_ / 1e6).toSeq, 99))
      r.putLocalLayer(li, li.decodeCount.get() - dec0, li.scoredCount.get() - sc0, total)
      r.putJvm(gc0, gc1, r.allocBytes.sum(), total)
      r.putWriteLayer("build", _ == "build", 1, buildS)
      r.putBuildPasses()
      r.putIndexMetrics(dir)
      r.putListing(dir)
      val keys = queries.flatMap(q => Analyzer.distinctQueryTerms(q.text)).distinct
        .map(t => ("content", t))
      r.putCodec(li.blocksOf(keys).valuesIterator.flatten.toSeq)
      r.put("analyzer.tokenize_mb_per_s", Layers.tokenizeMbPerSec(Gen.texts(r.seed, 0, 2000)))
    }
    val lateP99 = Stats.percentile(open.lateNs.map(_ / 1e6).toSeq, 99)
    Result(
      queryMs = measuredMs,
      throughputQps = closed.throughput(Main.ThroughputSlices),
      buildDocsPerS = nDocs / buildS,
      indexBytesPerInputByte = indexBytes.toDouble / inputBytes,
      heapLiveMb = heapMb,
      setupS = setupS,
      notes = Seq(
        f"set-up: build $buildS%.2f s, exhaustive reference $refS%.2f s, load and warm $warmS%.2f s",
        f"open loop: ${open.outcomes.length} queries at ${sp.double("open_loop_rate_qps")}%.0f q/s offered, generator late p99 $lateP99%.3f ms, " +
          s"${valid.length} of ${windows.length} windows valid (generator late p98 <= ${sp.double("max_late_ms")} ms)",
        f"closed loop: ${closed.outcomes.length} queries, $workers clients, ${closed.outcomes.length / (closed.wallNs / 1e9)}%.1f q/s overall, " +
          f"latency p50 ${Stats.windowedMedian(closedMs, Main.LatencyWindow)}%.3f ms, tail ${Stats.windowedTail(closedMs, Main.LatencyWindow).value}%.3f ms",
        s"distinct queries checked against the exhaustive plan: ${checkedOnce.size}/${queries.length}",
        f"limit ${sp.latencyLimitMs}%.0f ms: open-loop queries over it: ${openMs.count(_ > sp.latencyLimitMs)}"),
      ingest = None)
  }
}

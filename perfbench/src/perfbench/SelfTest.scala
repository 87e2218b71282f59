package perfbench

/** The harness's own tests: `python3 perfbench/run.py --selftest`.
  * Exits non-zero on the first failure. */
object SelfTest {
  private var checks = 0

  private def check(what: String)(cond: Boolean): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }
    println(s"ok   $what")
  }

  def statistics(): Unit = {
    check("median, odd count")(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    check("median, even count is the mean of the two middles")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("median of one")(Stats.median(Seq(7.0)) == 7.0)
    val xs = (1 to 10).map(_.toDouble)
    check("nearest-rank p50 of 1..10 is 5")(Stats.percentile(xs, 50) == 5.0)
    check("nearest-rank p90 of 1..10 is 9")(Stats.percentile(xs, 90) == 9.0)
    check("nearest-rank p91 of 1..10 is 10")(Stats.percentile(xs, 91) == 10.0)
    check("nearest-rank p100 is the max")(Stats.percentile(xs, 100) == 10.0)
    check("nearest-rank p50 of 1..9 is 5")(Stats.percentile(xs.take(9), 50) == 5.0)
    val t = Stats.tail((1 to 100).map(_.toDouble))
    check("tail of 100 samples is p90 with 10 beyond")(
      t.value == 90.0 && t.percentile == 90.0 && t.n == 100 && t.beyond == 10)
    val t1 = Stats.tail((1 to 1001).map(_.toDouble))
    check("tail of 1001 samples is rank 991")(t1.value == 991.0 && t1.beyond == 10)
    val wt = Stats.windowedTail((1 to 100).map(_.toDouble) ++ (1 to 100).map(_ * 2.0) ++
      (1 to 150).map(_ * 3.0), 100)
    check("windowed tail is the median of the windows' tails, remainder in the last")(
      wt.windows == 3 && wt.value == 180.0 && wt.n == 100 && wt.percentile == 90.0)
    check("windowed median is the median of the windows' medians")(
      Stats.windowedMedian(Seq(1.0, 2.0, 3.0, 10.0, 20.0, 30.0, 5.0, 6.0, 7.0, 8.0), 3) == 6.5)
    check("windowed tail of fewer samples than a window is the plain tail")(
      Stats.windowedTail((1 to 50).map(_.toDouble), 100).value == 40.0)
    val t2 = Stats.tail(Seq(3.0, 1.0, 2.0))
    check("tail of too few samples is the max, 0 beyond")(t2.value == 3.0 && t2.beyond == 0)
  }

  def generators(): Unit = {
    val a = Gen.distinctQueries(40)
    check("query set is deterministic")(a == Gen.distinctQueries(40))
    check("a larger query set extends a smaller one")(Gen.distinctQueries(60).take(40) == a)
    check("query set is distinct and starts with the 12 reference queries")(
      a.distinct.length == 40 && a.take(12).map(_.text) == Gen.ReferenceQueries)
    check("query set mixes the four other kinds in equal shares")(
      a.drop(12).count(_.phrase) == 7 &&
        a.drop(12).count(q => Gen.LongStopWords.exists(w => q.text.startsWith(w + " "))) == 7 &&
        a.drop(12).count(q => q.text.split(' ').forall(_.startsWith("id"))) == 7)
    check("stream is deterministic per seed")(
      Gen.stream(7L, 40, 500).sameElements(Gen.stream(7L, 40, 500)))
    check("stream differs across seeds")(
      !Gen.stream(7L, 40, 500).sameElements(Gen.stream(8L, 40, 500)))
    check("stream holds every query once per window of n")(
      Gen.stream(7L, 40, 400).grouped(40).forall(_.sorted.sameElements(0 until 40)))
    check("markers are deterministic and unique per batch")(
      Gen.marker(7L, 1) == Gen.marker(7L, 1) && Gen.marker(7L, 1) != Gen.marker(7L, 2) &&
        Gen.marker(7L, 1) != Gen.marker(8L, 1))
    check("markers survive query analysis as one term")(
      graft.core.Analyzer.queryTerms(Gen.marker(7L, 3)).sameElements(Array(Gen.marker(7L, 3))))
    check("id samples are deterministic, distinct and in range")({
      val s = Gen.sampleIds(7L, 1L, 100L, 200L, 30)
      s == Gen.sampleIds(7L, 1L, 100L, 200L, 30) && s.distinct.length == 30 &&
        s.forall(i => i >= 100 && i < 200)
    })
    check("corpus text is deterministic per seed")(
      Gen.texts(7L, 0, 5).sameElements(Gen.texts(7L, 0, 5)) &&
        !Gen.texts(7L, 0, 5).sameElements(Gen.texts(8L, 0, 5)))
  }

  /** A clock that jumps straight to each deadline, plus `stall` ns before
    * operation `stallAt` is handed over. */
  final class FakeClock(stallAt: Int, stall: Long, period: Long) extends Load.Clock {
    @volatile private var t = 0L
    def now(): Long = t
    def sleepUntil(due: Long): Unit = synchronized {
      t = math.max(t, due)
      if (due == stallAt * period) t += stall
    }
  }

  def openLoop(): Unit = {
    val period = 1000000L // 1000/s
    val clock = new FakeClock(stallAt = 5, stall = 3500000L, period = period)
    val res = Load.openLoop(1000.0, 10 * period, 1, (_, _) => true, clock)
    check("open loop schedules rate x duration operations")(res.outcomes.length == 10)
    // the stalled hand-over is 3.5 ms late and the schedule catches up
    // 1 ms per period after it
    check("generator lateness is charged from each operation's due time")(
      res.lateNs.sameElements(Array(0L, 0L, 0L, 0L, 0L, 3500000L, 2500000L, 1500000L, 500000L, 0L)))
    // one worker, 10 ms period, 20 ms operations: the queue grows, and a
    // latency timed from the scheduled send includes the wait in it
    val queued = Load.openLoop(100.0, 200000000L, 1, (_, _) => { Thread.sleep(20); true })
    check("latency counts from the scheduled time, so queueing shows")(
      queued.outcomes.length == 20 && queued.outcomes(0).latencyNs < 60000000L &&
        queued.outcomes(19).latencyNs > 150000000L)

    val real = Load.openLoop(200.0, 200000000L, 2, (i, _) => i % 7 != 3)
    check("open loop counts failed operations")(real.outcomes.count(!_.ok) ==
      (0 until real.outcomes.length).count(_ % 7 == 3))
    check("open loop with a throwing operation counts it failed")(
      Load.openLoop(100.0, 50000000L, 1, (_, _) => sys.error("boom")).outcomes.forall(!_.ok))
    val closed = Load.closedLoop(2, 100000000L, (_, _) => { Thread.sleep(1); true })
    check("closed loop completes operations and reports throughput")(
      closed.outcomes.length > 10 && closed.throughput(4) > 0)
    val sliced = Load.ClosedResult(Array.fill(7)(Load.Outcome(1L, ok = true)),
      Array(1L, 2L, 3L, 4L, 5L, 6L, 95L), 100L)
    check("closed-loop throughput is the median over slices")(
      math.abs(sliced.throughput(2) - 3.5 * 2 / 1e-7) < 1.0)
  }

  def tracer(): Unit = {
    import Tracer.Span
    val spans = Seq(Span(1, 0, 1, "q", 0, 100), Span(2, 1, 1, "a", 10, 40),
      Span(3, 1, 1, "b", 30, 60), Span(4, 1, 1, "c", 80, 90))
    val self = Tracer.selfTimes(spans)
    check("self time subtracts the union of child intervals")(self(1) == 100 - 50 - 10)
    check("leaf self time is its duration")(self(2) == 30 && self(4) == 10)
    val t = new Tracer(true)
    val req = t.nextRequest()
    t.span("outer", req) { t.span("inner", req) { Thread.sleep(2) } }
    val rec = t.spans
    val outer = rec.find(_.name == "outer").get
    check("nested spans record their parent and request")(
      rec.length == 2 && rec.find(_.name == "inner").get.parent == outer.id &&
        rec.forall(_.request == req))
    val off = new Tracer(false)
    check("a disabled tracer records nothing")(off.span("x", 1L)(42) == 42 && off.spans.isEmpty)
  }

  def callSites(): Unit = {
    val details = "org.apache.spark.sql.Dataset.collect(Dataset.scala:3390)\n" +
      "graft.index.IndexBuilder$.$anonfun$buildGroups$5(IndexBuilder.scala:541)\n" +
      "graft.index.IndexBuilder$.build(IndexBuilder.scala:345)"
    check("call site is the first program frame, anonymous functions named by method")(
      JobCounters.callSite(details) == "IndexBuilder.buildGroups")
    check("call site without a program frame is 'other'")(
      JobCounters.callSite("org.apache.spark.rdd.RDD.count(RDD.scala:1)") == "other")
  }

  /** Each workload end to end on a tiny corpus, traced and untraced. */
  def smoke(spec: String, cpus: Int, work: String): Unit =
    for (w <- Spec.workloads(spec); trace <- Seq(false, true)) {
      val (r, res) = Main.runWorkload(w, 11L, 2.0, trace, cpus, Spec.load(spec, w, smoke = true), work)
      val e2e = Main.endToEnd(res, r)
      check(s"smoke $w trace=$trace: no failed operation")(
        r.failed.get() == 0 && r.attempted.get() > 0)
      check(s"smoke $w trace=$trace: metrics are finite and positive")(
        Seq("query_p50_ms", "throughput_qps", "build_docs_per_s", "index_bytes_per_input_byte",
          "heap_live_mb", "setup_s").forall(k => e2e(k) > 0 && !e2e(k).isInfinite))
      if (trace) {
        val m = r.layerMetrics
        check(s"smoke $w: layer record has codec, analyzer, build and io numbers")(
          Seq("codec.decode_ns_per_posting", "analyzer.tokenize_mb_per_s", "build.jobs",
            "io.bytes.postings").forall(k => m.getOrElse(k, 0.0) > 0))
        check(s"smoke $w: spans were written")(
          java.nio.file.Files.size(r.traceDir.resolve("spans.jsonl")) > 0)
      }
    }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--train")) {
      // the class-data archive's training pass: every workload, traced,
      // on the tiny corpus
      for (w <- Main.declaredWorkloads(opts("benchmark")))
        Main.runWorkload(w, 1L, 1.0, trace = true, opts("cpus").toInt,
          Spec.load(opts("spec"), w, smoke = true), opts("work"))
      sys.exit(0)
    }
    statistics()
    generators()
    openLoop()
    tracer()
    callSites()
    smoke(opts("spec"), opts("cpus").toInt, opts("work"))
    println(s"$checks checks passed")
    sys.exit(0)
  }
}

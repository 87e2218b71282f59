package perfbench

import org.apache.spark.sql.SparkSession

/** The write-side timings only the ingest workload has (s). */
case class IngestTimes(appendS: Double, freshS: Double, upsertS: Double,
    deleteS: Double, compactS: Double) {
  def asMap: Map[String, Double] = Map("append_s" -> appendS, "fresh_s" -> freshS,
    "upsert_s" -> upsertS, "delete_s" -> deleteS, "compact_s" -> compactS)
}

/** What a workload measured. `queryMs` are the untraced query latencies. */
case class Result(queryMs: Seq[Double], throughputQps: Double, buildDocsPerS: Double,
    indexBytesPerInputByte: Double, heapLiveMb: Double, setupS: Double,
    notes: Seq[String], ingest: Option[IngestTimes])

/** Entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cpus <n> --spec <spec.json> --benchmark <BENCHMARK.json> --work <dir>`.
  * Prints a summary of every metric by name and unit, then, as the last
  * line, one JSON object with `correct`, `attempted`, `failed` and the
  * metrics BENCHMARK.json lists for the run's mode (end-to-end when
  * untraced, per-layer when traced). */
object Main {

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `f` over `xs` on `threads` threads, results in input order. */
  def parallel[A](xs: IndexedSeq[Int], threads: Int)(f: Int => A): IndexedSeq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futs = xs.map(x => pool.submit(new java.util.concurrent.Callable[A] { def call(): A = f(x) }))
      futs.map(_.get())
    } finally pool.shutdownNow()
  }

  /** A JSON number with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  case class Metric(name: String, unit: String)

  /** Metric names and units, in BENCHMARK.json's order. */
  def declared(benchmarkJson: String, key: String): Seq[Metric] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(benchmarkJson))
    val it = root.path(key).elements()
    val b = Seq.newBuilder[Metric]
    while (it.hasNext) { val n = it.next(); b += Metric(n.path("name").asText(), n.path("unit").asText()) }
    b.result()
  }

  /** Workload names in BENCHMARK.json. */
  def declaredWorkloads(benchmarkJson: String): Seq[String] = {
    val it = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(benchmarkJson)).path("workloads").elements()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next().path("name").asText()
    b.result()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    try {
      val workload = arg("workload")
      val trace = arg("trace") == "1"
      val (r, res) = runWorkload(workload, arg("seed").toLong, arg("seconds").toDouble, trace,
        arg("cpus").toInt, Spec.load(arg("spec"), workload, smoke = false), arg("work"))
      report(r, res, arg("benchmark"), trace)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs one workload in a fresh directory under `work`, removed after. */
  def runWorkload(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, spec: Spec, work: String): (Run, Result) = {
    val runDir = java.nio.file.Paths.get(work, s"$workload-${ProcessHandle.current().pid()}")
    val traceDir = java.nio.file.Paths.get(work, "trace", s"$workload-seed$seed")
    val spark = session(cpus, runDir.toString)
    try {
      val r = new Run(spark, workload, seed, seconds, trace, cpus, spec,
        runDir.toString, traceDir)
      val res = workload match {
        case "serve-hot" => ServeHot.run(r)
        case "query-spark" => QuerySpark.run(r)
        case "ingest" => Ingest.run(r)
        case other => sys.error(s"unknown workload '$other'")
      }
      r.writeTrace(endToEnd(res, r))
      (r, res)
    } finally {
      spark.stop()
      deleteTree(runDir)
    }
  }

  /** Requests per window of the latency median and tail. At serve-hot's
    * rate a young-generation pause delays about ten queries; 500 puts
    * each window's tail (p98, ten beyond) clear of that count instead of
    * on it, so the tail does not flip with whether a pause fell in the
    * window. */
  val LatencyWindow = 500
  /** Slices of the closed loop's wall time for its throughput. */
  val ThroughputSlices = 8

  def endToEnd(res: Result, r: Run): Map[String, Double] = {
    val tail = Stats.windowedTail(res.queryMs, LatencyWindow)
    Map(
      "query_p50_ms" -> Stats.windowedMedian(res.queryMs, LatencyWindow),
      "query_tail_ms" -> tail.value,
      "throughput_qps" -> res.throughputQps,
      "build_docs_per_s" -> res.buildDocsPerS,
      "index_bytes_per_input_byte" -> res.indexBytesPerInputByte,
      "heap_live_mb" -> res.heapLiveMb,
      "setup_s" -> res.setupS,
      "failed_frac" -> r.failed.get().toDouble / math.max(1L, r.attempted.get())) ++
      res.ingest.map(_.asMap).getOrElse(Map.empty)
  }

  /** The 13 end-to-end metrics with their units, in print order. */
  val Units: Seq[(String, String)] = Seq("query_p50_ms" -> "ms", "query_tail_ms" -> "ms",
    "throughput_qps" -> "1/s", "failed_frac" -> "ratio", "build_docs_per_s" -> "docs/s",
    "append_s" -> "s", "fresh_s" -> "s", "upsert_s" -> "s", "delete_s" -> "s",
    "compact_s" -> "s", "index_bytes_per_input_byte" -> "ratio", "heap_live_mb" -> "MB",
    "setup_s" -> "s")

  def report(r: Run, res: Result, benchmarkJson: String, trace: Boolean): Unit = {
    val e2e = endToEnd(res, r)
    val tail = Stats.windowedTail(res.queryMs, LatencyWindow)
    println(s"perfbench ${r.workload} seed=${r.seed} seconds=${r.seconds} trace=${if (trace) 1 else 0} cpus=${r.cpus}")
    Units.foreach { case (k, unit) =>
      val extra = k match {
        case "query_p50_ms" => s"  (n=${res.queryMs.length}; median of ${tail.windows} windows' medians)"
        case "query_tail_ms" => f"  (p${tail.percentile}%.2f of ${tail.n} requests, ${tail.beyond} beyond; median of ${tail.windows} windows)"
        case _ => ""
      }
      e2e.get(k) match {
        case Some(v) => println(f"  $k%-28s ${num(v)}%s $unit%s$extra")
        case None => println(f"  $k%-28s n/a (ingest only)")
      }
    }
    println(f"  - Spark session up ${r.sessionReadyS}%.2f s after JVM start")
    res.notes.foreach(n => println(s"  - $n"))
    r.failures.forEach(f => println(s"  FAILED: $f"))
    val layer = r.layerMetrics
    if (trace) {
      layer.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  layer $k%-40s ${num(v)}") }
      println(s"  trace written to ${r.traceDir}")
    }
    val wanted = declared(benchmarkJson, if (trace) "per_layer" else "end_to_end")
    val values = if (trace) layer ++ e2e.filter(kv => !layer.contains(kv._1)) else e2e
    val ms = wanted.map { m =>
      val v = values.getOrElse(m.name, 0.0)
      s""""${m.name}": {"value": ${num(v)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    val correct = r.failed.get() == 0
    println(s"""{"correct": $correct, "attempted": ${r.attempted.get()}, "failed": ${r.failed.get()}, "metrics": {$ms}}""")
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val w = java.nio.file.Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.deleteIfExists(x))
      finally w.close()
    }
}

package perfbench

import graft.core.{Analyzer, CorpusGen}
import graft.index.{Compaction, Deletes, IndexBuilder, Upsert}
import graft.query.{LocalSearcher, SearchIndex}
import graft.query.QueryEngine.SearchOpts
import org.apache.spark.sql.functions.{col, octet_length, sum}
import scala.collection.mutable.ArrayBuffer

/** ingest: a full build of the base corpus, K append batches (`resume`),
  * one re-crawl upsert of changed content for existing keys, one delete
  * batch and one compaction. After every write a new reader
  * (`new SearchIndex` + `LocalSearcher.load`) runs a short burst of
  * distinct queries, the first of which asks for a marker token unique to
  * the batch just written; after every other write the same marker query
  * also runs through the distributed plan (`QueryEngine.search`) on the
  * same never-warmed handle. */
object Ingest {
  def run(r: Run): Result = {
    val spark = r.spark
    import spark.implicits._
    val sp = r.spec
    val n0 = sp.long("base_docs")
    val nBatches = sp.int("append_batches")
    val batchDocs = sp.long("append_docs")
    val every = sp.long("base_marker_every")
    val dir = s"${r.workDir}/index"
    val params = IndexBuilder.Params()
    val parts = r.cpus * 2

    // ---- inputs (lazy; nothing runs before the measured phase) ----
    val cs = Gen.corpusSeed(r.seed)
    def batchRange(b: Int) = (n0 + (b - 1) * batchDocs, n0 + b * batchDocs)
    val baseMarker = Gen.marker(r.seed, 0)
    val base = Gen.docs(spark, r.seed, 0L, n0, parts, Some(baseMarker -> ((id: Long) => id % every == 0)))
    val batches = (1 to nBatches).map { b =>
      val (lo, hi) = batchRange(b)
      Gen.docs(spark, r.seed, lo, hi, parts, Some(Gen.marker(r.seed, b) -> ((_: Long) => true)))
    }
    val upsertIds = Gen.sampleIds(r.seed, 10L, 0L, n0, sp.int("upsert_docs"))
    val upsertMarker = Gen.marker(r.seed, nBatches + 1)
    val recrawl = Gen.recrawl(spark, r.seed, upsertIds, upsertMarker, parts)
    val upsertKeys = upsertIds.map { id => val x = CorpusGen.row(cs, id); (x.repo, x.path) }.toSet
    val (b1lo, b1hi) = batchRange(1)
    val deleteIds = Gen.sampleIds(r.seed, 11L, b1lo, b1hi, sp.int("delete_docs"))
    val qs = Gen.distinctQueries(40)
    val burstQs = Gen.stream(r.seed, qs.length, 4096).distinct
      .take(sp.int("burst_queries") - 1).map(qs).toSeq

    // dead versions: no result may ever contain one
    val dead = scala.collection.mutable.Set[Long]()
    val latUntraced = ArrayBuffer[Double]()
    val latTraced = ArrayBuffer[Double]()
    var burstNs = 0L
    var burstN = 0L
    val fresh = ArrayBuffer[Double]()
    val opens = ArrayBuffer[Double]()
    // LocalSearcher counters over the traced burst queries
    var decoded = 0L
    var scored = 0L
    var reader: (SearchIndex, LocalSearcher.LocalIndex) = null
    val engineMs = ArrayBuffer[Double]()
    var engineDecoded = 0L

    /** Reopen, then run the burst; the marker query must return exactly
      * the docs `want` accepts, `wantN` of them. */
    def reopenAndBurst(w: Int, label: String, writeStart: Long, marker: String,
        wantN: Int, want: LocalSearcher.Hit => Boolean): Unit = {
      var index: SearchIndex = null
      opens += Main.timed(r.group(s"open.$w") { index = new SearchIndex(spark, dir) })
      val li = r.group(s"open.$w")(LocalSearcher.load(index))
      val burst = (Gen.Query(marker, phrase = false), SearchOpts(k = wantN)) +:
        burstQs.map(q => (q, Engine.opts(q)))
      burst.zipWithIndex.foreach { case ((q, o), j) =>
        val traced = r.trace && (j + w) % 2 == 0
        val t0 = System.nanoTime()
        var hits: Seq[LocalSearcher.Hit] = Nil
        r.attempt(s"ingest $label query '${q.text}'") {
          val (d0, s0) = (li.decodeCount.get(), li.scoredCount.get())
          hits = r.measureAlloc(r.localSearch(li, q, o, traced, s"w$w.q$j"))
          val t1 = System.nanoTime()
          if (traced) {
            decoded += li.decodeCount.get() - d0
            scored += li.scoredCount.get() - s0
          }
          (if (traced) latTraced else latUntraced) += (t1 - t0) / 1e6
          burstNs += t1 - t0
          burstN += 1
          val alive = hits.forall(h => !dead.contains(h.docId))
          val exact = j > 0 || (hits.length == wantN && hits.forall(want))
          if (j == 0 && exact) fresh += (t1 - writeStart) / 1e9
          alive && exact
        }
      }
      // the distributed plan on the same never-warmed handle, after every
      // other write: the marker query's page must equal the serving tier's
      val (mq, mo) = burst.head
      if (w % 2 == 0) r.attempt(s"ingest $label engine query") {
        val d0 = index.blocksDecoded.value
        val t0 = System.nanoTime()
        val page = r.measureAlloc {
          if (!r.trace) Engine.search(index, mq, mo)
          else r.tracer.span("engine.search", r.tracer.nextRequest()) {
            r.group(s"engine.w$w")(Engine.search(index, mq, mo)) }
        }
        engineMs += (System.nanoTime() - t0) / 1e6
        engineDecoded += index.blocksDecoded.value - d0
        Engine.samePage(page, Engine.page(LocalSearcher.search(li, mq.text, mo)))
      }
      reader = (index, li)
    }

    // ---- measured ----
    val setupS = Jvm.uptimeSeconds()
    val gc0 = Jvm.gc()
    var w = 0
    def write[T](label: String)(body: => T): (T, Double, Long) = {
      val start = System.nanoTime()
      var out: Option[T] = None
      r.attempt(s"ingest $label")(r.group(label) { out = Some(body); true })
      (out.getOrElse(null.asInstanceOf[T]), (System.nanoTime() - start) / 1e9, start)
    }

    val (_, buildS, t0) = write("build")(IndexBuilder.build(spark, base, dir, params))
    reopenAndBurst(w, "build", t0, baseMarker, ((n0 + every - 1) / every).toInt,
      h => h.docId % every == 0 && h.docId < n0)
    // the metrics table is cumulative: read the build's own counters now,
    // outside every timed window
    if (r.trace) r.putIndexMetrics(dir)

    val appendS = ArrayBuffer[Double]()
    val dictWritten = ArrayBuffer[Double]()
    batches.zipWithIndex.foreach { case (b, i) =>
      w += 1
      val before = Listing.files(s"$dir/dictionary")
      val (_, s, t) = write(s"append.${i + 1}")(IndexBuilder.resume(spark, b, dir,
        params.copy(inputSnapshot = s"append-${i + 1}")))
      appendS += s
      dictWritten += Listing.writtenBytes(before, Listing.files(s"$dir/dictionary")) / 1e6
      val (lo, hi) = batchRange(i + 1)
      reopenAndBurst(w, s"append ${i + 1}", t, Gen.marker(r.seed, i + 1), (hi - lo).toInt,
        h => h.docId >= lo && h.docId < hi)
    }

    w += 1
    val (_, upsertS, tu) = write("upsert")(Upsert.upsert(spark, recrawl, dir,
      params.copy(inputSnapshot = "upsert-1"), Seq("repo", "path")))
    dead ++= upsertIds
    reopenAndBurst(w, "upsert", tu, upsertMarker, upsertIds.length,
      h => upsertKeys.contains((h.repo, h.path)))

    w += 1
    val (tombs, deleteS, td) = write("delete")(Deletes.deleteIds(spark, dir, deleteIds.toDF("docId")))
    dead ++= deleteIds
    val deleted = deleteIds.toSet
    reopenAndBurst(w, "delete", td, Gen.marker(r.seed, 1), (b1hi - b1lo).toInt - deleteIds.length,
      h => h.docId >= b1lo && h.docId < b1hi && !deleted.contains(h.docId))

    w += 1
    val segmentsBefore = Listing.tables(s"$dir/lineage").size
    val blocksBefore = if (r.trace) spark.read.parquet(s"$dir/postings").count() else 0L
    val (_, compactS, tc) = write("compact")(Compaction.compact(spark, dir, params.blockSize))
    reopenAndBurst(w, "compact", tc, upsertMarker, upsertIds.length,
      h => upsertKeys.contains((h.repo, h.path)))
    val gc1 = Jvm.gc()
    val heapMb = Jvm.liveHeapMb()

    // ---- check: after compaction the serving page equals the exhaustive one ----
    val (index, li) = reader
    Main.parallel(burstQs.indices, r.cpus) { i =>
      val q = burstQs(i)
      r.attempt(s"ingest exhaustive '${q.text}'") {
        Engine.samePage(Engine.page(LocalSearcher.search(li, q.text, Engine.opts(q))),
          Engine.search(index, q, Engine.opts(q).copy(wand = false)))
      }
    }

    // ---- report ----
    val inputBytes = (base +: batches :+ recrawl)
      .map(_.agg(sum(octet_length(col("content")))).first().getLong(0)).sum
    val indexBytes = Listing.totalBytes(dir)
    val times = IngestTimes(Stats.median(appendS.toSeq),
      if (fresh.isEmpty) 0.0 else Stats.median(fresh.toSeq), upsertS, deleteS, compactS)
    if (r.trace) {
      r.settle()
      r.put("bench.trace_overhead_frac",
        Stats.median(latTraced.toSeq) / Stats.median(latUntraced.toSeq) - 1.0)
      r.putBuildPasses()
      r.putLocalLayer(li, decoded, scored, r.localCalls.get())
      r.put("query.engine.open_s", Stats.mean(opens.toSeq))
      if (engineMs.nonEmpty) {
        r.put("query.engine.search_ms", Stats.median(engineMs.toSeq))
        r.putEngineLayer(_.startsWith("engine.w"), engineMs.length,
          (engineMs.sum * 1e6).toLong, engineDecoded.toDouble / engineMs.length)
      }
      r.putJvm(gc0, gc1, r.allocBytes.sum(), burstN)
      r.putWriteLayer("build", _ == "build", 1, buildS)
      r.putWriteLayer("append", _.startsWith("append."), nBatches, appendS.sum)
      r.put("append.dictionary_mb_written", Stats.mean(dictWritten.toSeq))
      r.putWriteLayer("upsert", _ == "upsert", 1, upsertS)
      r.putWriteLayer("delete", _ == "delete", 1, deleteS)
      r.put("delete.tombstones", tombs.toDouble)
      r.putWriteLayer("compact", _ == "compact", 1, compactS)
      r.put("compact.segments_before", segmentsBefore.toDouble)
      r.put("compact.blocks_before", blocksBefore.toDouble)
      r.put("compact.blocks_after", spark.read.parquet(s"$dir/postings").count().toDouble)
      r.putListing(dir)
      val keys = (burstQs.flatMap(q => Analyzer.distinctQueryTerms(q.text)) :+ upsertMarker)
        .distinct.map(t => ("content", t))
      r.putCodec(li.blocksOf(keys).valuesIterator.flatten.toSeq)
      r.put("analyzer.tokenize_mb_per_s", Layers.tokenizeMbPerSec(Gen.texts(r.seed, 0, 2000)))
      times.asMap.foreach { case (k, v) => r.put(k, v) }
    }
    Result(
      queryMs = latUntraced.toSeq,
      throughputQps = burstN / (burstNs / 1e9),
      buildDocsPerS = n0 / buildS,
      indexBytesPerInputByte = indexBytes.toDouble / inputBytes,
      heapLiveMb = heapMb,
      setupS = setupS,
      notes = Seq(
        s"writes: build $n0 docs, $nBatches appends of $batchDocs, upsert ${upsertIds.length}, " +
          s"delete ${deleteIds.length}, compact ($segmentsBefore segments before)",
        s"burst queries: $burstN over ${w + 1} reopened readers",
        s"distributed marker queries: ${engineMs.length}, latencies " +
          engineMs.map(x => f"$x%.1f").mkString(", ") + " ms"),
      ingest = Some(times))
  }
}

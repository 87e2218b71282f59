package perfbench

import graft.core.CorpusGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sha2}

/** Seeded inputs. Everything the program sees is derived from the
  * `--seed` argument here: the corpus, the write batches and the query
  * stream. The same seed always gives the same inputs. */
object Gen {

  /** One query of the stream: its text and whether it carries the
    * reference's phrase boost (2.0), which makes the engine decode
    * positions. */
  case class Query(text: String, phrase: Boolean)

  /** The reference engine's 12 queries (BASELINE.md query set). */
  val ReferenceQueries: IndexedSeq[String] = IndexedSeq(
    "python tutorial", "javascript async await", "machine learning basics",
    "react hooks useState", "python optimization",
    "machine learning algorithms", "react hooks tutorial",
    "database performance tuning", "python machine learning optimization",
    "javascript async programming", "python programming tutorial",
    "machine learning optimization")

  /** Code stop-words long enough to survive query analysis (>= 3 chars):
    * the corpus's longest posting lists. */
  val LongStopWords: IndexedSeq[String] =
    CorpusGen.StopWords.filter(_.length >= 3).toIndexedSeq

  /** Derived sub-seed, so the corpus, batches and queries of one seed are
    * independent streams. */
  def subSeed(seed: Long, salt: Long): Long = CorpusGen.mix64(seed * 31L + salt)

  def corpusSeed(seed: Long): Long = subSeed(seed, 1L)

  /** Seed of the query set (see [[distinctQueries]]). */
  val QuerySetSeed = 20240601L

  /** `n` distinct queries: the 12 reference queries, then the four other
    * kinds in turn: 1-3 planted query terms; Zipf identifier-vocabulary
    * terms (`id<r>`, from fixed frequency bands); one code stop-word (a
    * long posting list) with one identifier; and 2-3 planted terms with
    * the phrase boost, which makes the engine decode positions. The set
    * does not depend on the run's seed: the corpus, the stream order and
    * the batches do. Runs on different seeds then do the same query work
    * over statistically identical corpora, which keeps the figures of one
    * run comparable with the next. */
  def distinctQueries(n: Int): IndexedSeq[Query] = {
    require(n >= ReferenceQueries.length, s"need at least ${ReferenceQueries.length} queries")
    val rnd = new java.util.SplittableRandom(QuerySetSeed)
    val seen = scala.collection.mutable.LinkedHashSet[Query]()
    ReferenceQueries.foreach(q => seen += Query(q, phrase = false))
    def planted(k: Int): String =
      Iterator.continually(CorpusGen.QueryTerms(rnd.nextInt(CorpusGen.QueryTerms.length)))
        .distinct.take(k).mkString(" ")
    // identifier frequency bands by Zipf rank: a few ids are in most
    // documents, most ids in few
    val bands = Array((0, 10), (10, 100), (100, 1000), (1000, 5000))
    def id(band: Int): String = {
      val (lo, hi) = bands(band % bands.length)
      s"id${lo + rnd.nextInt(hi - lo)}"
    }
    var i = 0
    while (seen.size < n) {
      val round = i / 4
      seen += (i % 4 match {
        case 0 => Query(planted(1 + round % 3), phrase = false)
        case 1 => Query(Seq(id(round), id(round + 2)).take(1 + round % 2).distinct.mkString(" "),
          phrase = false)
        case 2 => Query(s"${LongStopWords(rnd.nextInt(LongStopWords.length))} ${id(round + 1)}",
          phrase = false)
        case _ => Query(planted(2 + round % 2), phrase = true)
      })
      i += 1
    }
    seen.toIndexedSeq
  }

  /** A stream of `len` indices into `n` distinct queries: seeded
    * permutations of all of them, back to back, so every query is equally
    * frequent and any window of `n` requests holds each once. */
  def stream(seed: Long, n: Int, len: Int): Array[Int] = {
    val rnd = new java.util.SplittableRandom(subSeed(seed, 3L))
    val out = new Array[Int](len)
    val perm = Array.tabulate(n)(identity)
    var i = 0
    while (i < len) {
      var j = n - 1
      while (j > 0) {
        val k = rnd.nextInt(j + 1)
        val t = perm(j); perm(j) = perm(k); perm(k) = t
        j -= 1
      }
      var m = 0
      while (m < n && i < len) { out(i) = perm(m); i += 1; m += 1 }
    }
    out
  }

  /** A token unique to one write batch of one seed. Corpus tokens are
    * stop-words, `id<r>` and the planted query terms, so `mk...` collides
    * with none of them. */
  def marker(seed: Long, batch: Int): String =
    s"mk${java.lang.Long.toHexString(subSeed(seed, 4L) & 0xffffffffL)}b$batch"

  /** Corpus rows with dense docIds in [from, until) (the shape
    * `CorpusGen.generateDF` gives), optionally with `marker` appended to
    * the content of every row whose id satisfies `marked`; the sha256
    * column is recomputed over the final content. */
  def docs(spark: SparkSession, seed: Long, from: Long, until: Long,
      partitions: Int, marker: Option[(String, Long => Boolean)] = None): DataFrame = {
    import spark.implicits._
    val cs = corpusSeed(seed)
    val mk = marker.map(_._1).orNull
    val pred = marker.map(_._2).orNull
    spark.range(from, until, 1L, partitions)
      .map { id =>
        val r = CorpusGen.row(cs, id)
        val content = if (pred != null && pred(id)) s"${r.content} $mk" else r.content
        (id, r.repo, r.path, r.commit, r.lang, content)
      }
      .toDF("docId", "repo", "path", "commit", "lang", "content")
      .withColumn("sha256", sha2(col("content"), 256))
  }

  /** Re-crawled versions of existing rows: same natural key (repo, path),
    * changed content carrying `marker`. No docId: the index assigns it. */
  def recrawl(spark: SparkSession, seed: Long, ids: Seq[Long], marker: String,
      partitions: Int): DataFrame = {
    import spark.implicits._
    val cs = corpusSeed(seed)
    spark.createDataset(ids).repartition(partitions)
      .map { id =>
        val r = CorpusGen.row(cs, id)
        (r.repo, r.path, r.commit, r.lang, s"${r.content} recrawled $marker")
      }
      .toDF("repo", "path", "commit", "lang", "content")
      .withColumn("sha256", sha2(col("content"), 256))
  }

  /** Content text of rows [from, until) on the driver (tokenizer probe). */
  def texts(seed: Long, from: Long, until: Long): Array[String] = {
    val cs = corpusSeed(seed)
    (from until until).map(id => CorpusGen.row(cs, id).content).toArray
  }

  /** `k` distinct ids from [from, until), seeded. */
  def sampleIds(seed: Long, salt: Long, from: Long, until: Long, k: Int): Seq[Long] = {
    val rnd = new java.util.SplittableRandom(subSeed(seed, salt))
    val span = until - from
    require(k <= span, s"cannot sample $k ids from $span")
    val picked = scala.collection.mutable.LinkedHashSet[Long]()
    while (picked.size < k) picked += from + rnd.nextLong(span)
    picked.toSeq.sorted
  }
}

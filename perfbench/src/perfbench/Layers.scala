package perfbench

import graft.core.Analyzer
import graft.index.{BlockRow, Codec}

/** Layer probes the harness times directly on the workload's own data:
  * the block codec on the workload's hot blocks and the tokenizer on its
  * corpus text. */
object Layers {

  /** Median over `reps` repetitions of the ns per call of `f`, each
    * repetition running `f` until at least `minNs` have passed. */
  private def nsPerCall(reps: Int, minNs: Long)(f: => Long): Double = {
    var sink = 0L
    val per = (1 to reps).map { _ =>
      var calls = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < minNs) { sink += f; calls += 1; t = System.nanoTime() }
      (t - t0).toDouble / calls
    }
    if (sink == 42L) System.err.print("") // keep `sink` live
    Stats.median(per)
  }

  /** Codec costs over `blocks`: ns per posting for the columnar decode
    * without and with positions and for the encode, and stored bytes per
    * posting. Also re-encodes every block and checks the bytes round-trip,
    * returning the number of blocks that did not. */
  def codec(blocks: Seq[BlockRow]): (Map[String, Double], Int) = {
    val bs = blocks.filter(_.n > 0).toArray
    if (bs.isEmpty) return (Map.empty, 0)
    val postings = bs.map(_.n.toLong).sum.toDouble
    val rows = bs.map(b => Codec.decodeBlock(b.firstDocId, b.bytes).toSeq)
    val mismatched = bs.indices.count(i =>
      !java.util.Arrays.equals(Codec.encodeBlock(bs(i).firstDocId, rows(i)), bs(i).bytes))
    def all(needPos: Boolean): Long = {
      var n = 0L
      var i = 0
      while (i < bs.length) {
        n += Codec.decodeBlockColumnar(bs(i).firstDocId, bs(i).bytes, needPos).n
        i += 1
      }
      n
    }
    def enc(): Long = {
      var n = 0L
      var i = 0
      while (i < bs.length) { n += Codec.encodeBlock(bs(i).firstDocId, rows(i)).length; i += 1 }
      n
    }
    val ms = 100L * 1000000L
    (Map(
      "codec.decode_ns_per_posting" -> nsPerCall(5, ms)(all(false)) / postings,
      "codec.decode_pos_ns_per_posting" -> nsPerCall(5, ms)(all(true)) / postings,
      "codec.encode_ns_per_posting" -> nsPerCall(5, ms)(enc()) / postings,
      "codec.bytes_per_posting" -> bs.map(_.bytes.length.toLong).sum / postings),
      mismatched)
  }

  /** `Analyzer.tokenize` throughput over `texts`, in MB/s of input. */
  def tokenizeMbPerSec(texts: Array[String]): Double = {
    val bytes = texts.iterator.map(_.length.toLong).sum.toDouble
    val ns = nsPerCall(5, 100L * 1000000L) {
      var n = 0L
      var i = 0
      while (i < texts.length) { n += Analyzer.tokenize(texts(i)).length; i += 1 }
      n
    }
    bytes / 1e6 / (ns / 1e9)
  }
}

package graft.index

import graft.core.Posting

/** Occurrence-grained reference block builder over token occurrences sorted
  * by (field, term, docGroup, docId, pos): accumulates one posting at a
  * time and emits a compressed block every `blockSize` postings. CodecSpec
  * checks [[PostingBlockIterator]] against it, byte for byte. */
final class BlockBuildIterator(
    rows: Iterator[(String, String, Long, Long, Int, Int)],
    blockSize: Int) extends Iterator[BlockRow] {

  private val buf = rows.buffered
  private val out = scala.collection.mutable.Queue[BlockRow]()

  override def hasNext: Boolean = {
    while (out.isEmpty && buf.hasNext) consumeKey()
    out.nonEmpty
  }
  override def next(): BlockRow = {
    if (!hasNext) throw new NoSuchElementException
    out.dequeue()
  }

  /** Consume all rows of the next (field, term, docGroup) key, enqueueing
    * its blocks. */
  private def consumeKey(): Unit = {
    val (f, t, g, _, _, _) = buf.head
    val block = new scala.collection.mutable.ArrayBuffer[Posting](blockSize)
    var blockIdx = 0

    var curDoc = Long.MinValue
    var curDl = 0
    val poss = new scala.collection.mutable.ArrayBuffer[Int]()

    def flushBlock(): Unit = if (block.nonEmpty) {
      val bytes = Codec.encodeBlock(block.head.docId, block.toSeq)
      out.enqueue(BlockRow(f, t, g, blockIdx, block.head.docId, block.last.docId,
        block.size, block.iterator.map(_.tf.toLong).sum,
        block.iterator.map(_.tf).max, block.iterator.map(_.tf).min,
        block.iterator.map(_.dl).min, block.iterator.map(_.dl).max, bytes))
      blockIdx += 1
      block.clear()
    }
    def flushDoc(): Unit = if (curDoc != Long.MinValue) {
      block += Posting(curDoc, poss.length, curDl, poss.toArray)
      if (block.size >= blockSize) flushBlock()
      poss.clear()
    }

    var continue = true
    while (continue && buf.hasNext) {
      val h = buf.head
      if (h._1 != f || h._2 != t || h._3 != g) continue = false
      else {
        val (_, _, _, d, dl, p) = buf.next()
        if (d != curDoc) { flushDoc(); curDoc = d; curDl = dl }
        poss += p
      }
    }
    flushDoc()
    flushBlock()
  }
}

package graft

import graft.core.Posting
import graft.index.Codec
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property tests for the varint/delta posting-block codec (SURVEY §7.6
  * hard-part 3: compression correctness). Seeded generators — deterministic
  * across runs. */
class CodecSpec extends AnyFunSuite {

  private def randomPostings(rnd: Random): List[Posting] = {
    val n = rnd.nextInt(200)
    var doc = 7L
    List.fill(n) {
      doc += 1 + rnd.nextLong(1000000L)
      val pc = rnd.nextInt(20)
      var pos = rnd.nextInt(50)
      val positions = Array.fill(pc) { pos += 1 + rnd.nextInt(7); pos }
      Posting(doc, 1 + rnd.nextInt(5000), 1 + rnd.nextInt(100000), positions)
    }
  }

  test("roundtrip identity: decode(encode(p)) == p (300 random blocks)") {
    val rnd = new Random(42)
    (1 to 300).foreach { _ =>
      val ps = randomPostings(rnd)
      if (ps.nonEmpty) {
        val back = Codec.decodeBlock(ps.head.docId, Codec.encodeBlock(ps.head.docId, ps))
        assert(back.length == ps.length)
        back.zip(ps).foreach { case (a, b) =>
          assert(a.docId == b.docId && a.tf == b.tf && a.dl == b.dl)
          assert(a.positions.sameElements(b.positions))
        }
        // sortedness invariant survives the roundtrip
        assert(back.map(_.docId).toSeq == back.map(_.docId).toSeq.sorted)
      }
    }
  }

  test("columnar decode differential: decodeBlockColumnar == decodeBlock, " +
      "with and without positions (300 random blocks)") {
    val rnd = new Random(4242)
    (1 to 300).foreach { _ =>
      val ps = randomPostings(rnd)
      if (ps.nonEmpty) {
        val bytes = Codec.encodeBlock(ps.head.docId, ps)
        val row = Codec.decodeBlock(ps.head.docId, bytes)
        val colP = Codec.decodeBlockColumnar(ps.head.docId, bytes, needPositions = true)
        val colN = Codec.decodeBlockColumnar(ps.head.docId, bytes, needPositions = false)
        assert(colP.n == row.length && colN.n == row.length)
        row.zipWithIndex.foreach { case (p, i) =>
          assert(colP.docIds(i) == p.docId && colP.tfs(i) == p.tf && colP.dls(i) == p.dl)
          assert(colP.positionsOf(i).sameElements(p.positions))
          assert(colN.docIds(i) == p.docId && colN.tfs(i) == p.tf && colN.dls(i) == p.dl)
        }
      }
    }
  }

  /** The header region an encoder must produce: varint n, then docDelta,
    * tf, dl, nPos per posting. */
  private def headerOf(first: Long, ps: Seq[Posting]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    Codec.writeVarint(out, ps.size.toLong)
    var prev = first
    ps.foreach { p =>
      Codec.writeVarint(out, p.docId - prev); prev = p.docId
      Codec.writeVarint(out, p.tf.toLong)
      Codec.writeVarint(out, p.dl.toLong)
      Codec.writeVarint(out, p.positions.length.toLong)
    }
    out.toByteArray
  }

  test("no-positions decode never reads the positions region " +
      "(every byte after the header overwritten, 300 random blocks)") {
    val rnd = new Random(777)
    var checked = 0
    (1 to 300).foreach { _ =>
      val ps = randomPostings(rnd)
      if (ps.nonEmpty) {
        val first = ps.head.docId
        val bytes = Codec.encodeBlock(first, ps)
        val header = headerOf(first, ps)
        assert(bytes.take(header.length).sameElements(header),
          "block does not start with the header region")
        if (bytes.length > header.length) checked += 1
        // all-0xFF reads as one unterminated varint, random bytes as garbage
        for (fill <- Seq((_: Int) => 0xff.toByte, (_: Int) => rnd.nextInt(256).toByte)) {
          val clobbered = bytes.clone()
          (header.length until clobbered.length).foreach(i => clobbered(i) = fill(i))
          val col = Codec.decodeBlockColumnar(first, clobbered, needPositions = false)
          assert(col.n == ps.length)
          ps.zipWithIndex.foreach { case (p, i) =>
            assert(col.docIds(i) == p.docId && col.tfs(i) == p.tf && col.dls(i) == p.dl)
          }
        }
      }
    }
    assert(checked > 200, s"only $checked blocks had a positions region")
  }

  test("PostingBlockIterator rejects a posting without positions " +
      "(tf == positions.length >= 1)") {
    import graft.index.PostingBlockIterator
    val rows = Seq(("content", "t", 0L, 5L, 10, Array(1, 4)),
      ("content", "t", 0L, 6L, 10, Array.empty[Int]))
    val e = intercept[IllegalArgumentException](
      new PostingBlockIterator(rows.iterator, 128).toList)
    assert(e.getMessage.contains("docId 6"), e.getMessage)
  }

  test("encoder rejects unsorted postings") {
    val bad = Seq(Posting(10, 1, 5, Array()), Posting(9, 1, 5, Array()))
    intercept[IllegalArgumentException](Codec.encodeBlock(10, bad))
  }

  test("varint compresses small deltas well") {
    val ps = (0 until 128).map(i => Posting(1000L + i, 1, 40, Array(i)))
    val bytes = Codec.encodeBlock(1000L, ps)
    // 128 postings x (1B delta + 1B tf + 1B dl + 1B npos + 1B pos) + header
    assert(bytes.length < 128 * 6 + 4, s"block too large: ${bytes.length}")
    assert(bytes.length < Codec.rawSizeEstimate(ps)) // beats raw layout
  }

  test("varint handles Long-range deltas") {
    val ps = Seq(Posting(0L, 1, 1, Array()), Posting(Long.MaxValue - 1, 2, 2, Array(3)))
    val back = Codec.decodeBlock(0L, Codec.encodeBlock(0L, ps))
    assert(back(1).docId == Long.MaxValue - 1)
  }

  test("empty block roundtrips") {
    val bytes = Codec.encodeBlock(0L, Seq.empty)
    assert(Codec.decodeBlock(0L, bytes).isEmpty)
  }

  test("PostingBlockIterator == BlockBuildIterator (bytes and metadata, " +
      "100 random multi-key streams)") {
    import graft.index.{BlockBuildIterator, PostingBlockIterator}
    val rnd = new Random(424242)
    (1 to 100).foreach { _ =>
      // a sorted (field, term, docGroup, docId) stream with random run sizes
      val rows = for {
        f <- Seq("content", "path").take(1 + rnd.nextInt(2))
        t <- (0 until 1 + rnd.nextInt(4)).map(i => s"t$i")
        g <- 0L until (1 + rnd.nextInt(3)).toLong
        p <- {
          var doc = g * 100000L
          List.fill(rnd.nextInt(300)) {
            doc += 1 + rnd.nextInt(50)
            // tf == positions.length >= 1, the invariant both real
            // producers guarantee (TokenPostings packs >=1 position per
            // entry; a decoded Posting stores tf = its position count)
            val pc = 1 + rnd.nextInt(5)
            var pos = rnd.nextInt(10)
            val positions = Array.fill(pc) { pos += 1 + rnd.nextInt(5); pos }
            Posting(doc, pc, 1 + rnd.nextInt(500), positions)
          }
        }
      } yield (f, t, g, p)
      val blockSize = 1 + rnd.nextInt(40)
      val viaPostings = new PostingBlockIterator(
        rows.iterator.map { case (f, t, g, p) => (f, t, g, p.docId, p.dl, p.positions) },
        blockSize).toList
      val viaOccurrences = new BlockBuildIterator(
        rows.iterator.flatMap { case (f, t, g, p) =>
          p.positions.iterator.map(pos => (f, t, g, p.docId, p.dl, pos))
        }, blockSize).toList
      assert(viaPostings.size == viaOccurrences.size)
      viaPostings.zip(viaOccurrences).foreach { case (a, b) =>
        assert((a.field, a.term, a.docGroup, a.blockIdx, a.firstDocId,
          a.lastDocId, a.n, a.sumTf, a.maxTf, a.minTf, a.minDl, a.maxDl) ==
          (b.field, b.term, b.docGroup, b.blockIdx, b.firstDocId,
            b.lastDocId, b.n, b.sumTf, b.maxTf, b.minTf, b.minDl, b.maxDl))
        assert(a.bytes.sameElements(b.bytes))
      }
    }
  }
}

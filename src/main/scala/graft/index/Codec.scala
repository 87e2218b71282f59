package graft.index

import graft.core.Posting
import java.io.ByteArrayOutputStream

/** Varint (unsigned LEB128) + delta block codec for posting lists.
  *
  * The reference delegates posting storage to Lucene (invisible in-repo);
  * this is our explicit, from-scratch equivalent mandated by the north rule:
  * docIds delta+varint encoded, tfs/dls varint, positions delta+varint,
  * ~blockSize docs per block (Lucene-like 128).
  *
  * Each block has two regions: a header (`n`, then `docDelta, tf, dl,
  * nPos` per posting) and, after it, the positions region (each posting's
  * position deltas in posting order). A query without a phrase decodes
  * only the header (see [[encodeBlock]]). The on-disk layout is versioned
  * by [[FormatVersion]].
  *
  * Pure JVM code, no Spark dependency — property-tested for roundtrip
  * identity and sortedness invariants (CodecSpec).
  */
object Codec {

  def writeVarint(out: ByteArrayOutputStream, value0: Long): Unit = {
    require(value0 >= 0, s"varint requires non-negative, got $value0")
    var value = value0
    while ((value & ~0x7fL) != 0) {
      out.write(((value & 0x7f) | 0x80).toInt)
      value >>>= 7
    }
    out.write(value.toInt)
  }

  /** Unsynchronized growable byte sink for the ENCODE hot path.
    * `ByteArrayOutputStream.write` is a synchronized method — on JDK 17
    * (biased locking removed) every one of the ~6 varint writes per
    * occurrence pays a real monitor op inside the build's tightest loop.
    * Bytes produced are identical to the stream form (CodecSpec). */
  private[index] final class ByteBuf(initial: Int) {
    private var a = new Array[Byte](math.max(16, initial))
    private var n = 0
    private def ensure(extra: Int): Unit =
      if (n + extra > a.length)
        a = java.util.Arrays.copyOf(a, math.max(a.length * 2, n + extra))
    def writeVarint(value0: Long): Unit = {
      require(value0 >= 0, s"varint requires non-negative, got $value0")
      ensure(10) // a 63-bit varint is at most 9 bytes
      var value = value0
      while ((value & ~0x7fL) != 0) {
        a(n) = ((value & 0x7f) | 0x80).toByte
        n += 1
        value >>>= 7
      }
      a(n) = value.toByte
      n += 1
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(a, n)
  }

  private final class Reader(bytes: Array[Byte]) {
    private var pos = 0
    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
  }

  /** Encode a docId-sorted run of postings into one block payload.
    * Postings MUST be strictly increasing by docId; positions MUST be
    * strictly increasing. firstDocId is the delta base.
    *
    * Layout (two regions, every value an unsigned varint):
    * {{{
    *   header:    n, then per posting: docDelta, tf, dl, nPos
    *   positions: per posting, its nPos position deltas (base 0)
    * }}}
    * The header alone yields docIds, tfs and dls, so a decode that needs no
    * positions stops at the end of the header and never reads a position
    * byte.
    */
  def encodeBlock(firstDocId: Long, postings: Seq[Posting]): Array[Byte] = {
    val out = new ByteBuf(postings.size * 6)
    out.writeVarint(postings.size.toLong)
    var prev = firstDocId
    postings.foreach { p =>
      require(p.docId >= prev, s"postings not sorted: ${p.docId} after $prev")
      out.writeVarint(p.docId - prev)
      prev = p.docId
      out.writeVarint(p.tf.toLong)
      out.writeVarint(p.dl.toLong)
      out.writeVarint(p.positions.length.toLong)
    }
    postings.foreach { p =>
      val ps = p.positions
      var prevPos = 0L
      var i = 0
      while (i < ps.length) {
        out.writeVarint(ps(i).toLong - prevPos)
        prevPos = ps(i).toLong
        i += 1
      }
    }
    out.toArray
  }

  /** Row-shaped decode (exhaustive baseline, oracle, compaction, SQL
    * `decode_postings`): the columnar decode with positions, one
    * [[Posting]] per entry. */
  def decodeBlock(firstDocId: Long, bytes: Array[Byte]): Array[Posting] = {
    val b = decodeBlockColumnar(firstDocId, bytes, needPositions = true)
    Array.tabulate(b.n)(i => Posting(b.docIds(i), b.tfs(i), b.dls(i), b.positionsOf(i)))
  }

  /** Columnar image of one decoded block — the WAND/serving hot-path shape:
    * a handful of primitive arrays per BLOCK instead of one Posting object
    * plus one positions array per POSTING. Positions are decoded only when
    * the caller needs them (phrase scoring); otherwise the decode stops at
    * the end of the header region. Posting `i`'s positions are the slice
    * `positions[posOffsets(i), posOffsets(i + 1))`. */
  final class DecodedBlock(val n: Int, val docIds: Array[Long],
      val tfs: Array[Int], val dls: Array[Int],
      val posOffsets: Array[Int], val positions: Array[Int]) {
    /** Positions of posting `i` — valid only when decoded with positions. */
    def positionsOf(i: Int): Array[Int] =
      java.util.Arrays.copyOfRange(positions, posOffsets(i), posOffsets(i + 1))
  }

  def decodeBlockColumnar(firstDocId: Long, bytes: Array[Byte],
      needPositions: Boolean): DecodedBlock = {
    val in = new Reader(bytes)
    val n = in.readVarint().toInt
    val docIds = new Array[Long](n)
    val tfs = new Array[Int](n)
    val dls = new Array[Int](n)
    val posOffsets = if (needPositions) new Array[Int](n + 1) else null
    var posN = 0
    var prev = firstDocId
    var i = 0
    while (i < n) {
      prev += in.readVarint()
      docIds(i) = prev
      tfs(i) = in.readVarint().toInt
      dls(i) = in.readVarint().toInt
      val nPos = in.readVarint().toInt
      if (needPositions) { posOffsets(i) = posN; posN += nPos }
      i += 1
    }
    if (!needPositions) return new DecodedBlock(n, docIds, tfs, dls, null, null)
    posOffsets(n) = posN
    val positions = new Array[Int](posN)
    var k = 0
    i = 0
    while (i < n) {
      val end = posOffsets(i + 1)
      var prevPos = 0L
      while (k < end) {
        prevPos += in.readVarint()
        positions(k) = prevPos.toInt
        k += 1
      }
      i += 1
    }
    new DecodedBlock(n, docIds, tfs, dls, posOffsets, positions)
  }

  /** Uncompressed size estimate (8B docId + 4B tf + 4B dl + 4B/position),
    * used only for the bytesRawEstimate build metric. */
  def rawSizeEstimate(postings: Seq[Posting]): Long =
    postings.iterator.map(p => 16L + 4L * p.positions.length).sum
}

package graft.codec

import graft.core.Posting

/** LEB128-style unsigned varint — the byte-wise encoding role of Groonga's
  * `GRN_B_ENC` (reference lib/grn.h, used lib/ii.c:1622-1710). Values are
  * non-negative deltas so unsigned is enough.
  */
object Varint {
  def write(buf: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"varint requires non-negative value, got $v")
    while ((v & ~0x7fL) != 0) {
      buf.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    buf.write(v.toInt)
  }

  /** Cursor-style reader over a byte array. */
  final class Reader(val bytes: Array[Byte], var pos: Int = 0) {
    def hasNext: Boolean = pos < bytes.length
    def read(): Long = {
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
    def readInt(): Int = read().toInt
  }
}

/** One immutable compressed block of ≤ [[PostingCodec.BlockSize]] postings for
  * a single term — the Spark-side analogue of a Groonga chunk
  * (reference lib/ii.c:2659 `chunk_info {segno, size, dgap}`): `firstDoc` is
  * the skip pointer (dgap role), `maxTf` the block-max metadata that block-max
  * WAND pruning reads without decoding the block.
  *
  * Payload layout (self-describing; all varint after the flag byte):
  *   flags (bit0 = positions present, bit1 = weights present — the
  *   `n_elements` stream-selection role of reference lib/grn_ii.h:39-41),
  *   n, docId deltas (first relative to firstDoc, so 0),
  *   (tf-1) per posting, weights per posting when bit1, then per posting
  *   `tf` position deltas when bit0.
  */
final case class PostingBlock(
    firstDoc: Long,
    lastDoc: Long,
    n: Int,
    maxTf: Int,
    data: Array[Byte]
)

object PostingCodec {
  val BlockSize = 128
  private val FlagPositions = 1
  private val FlagWeights = 2

  /** Encode rid-ascending postings into blocks. Input MUST be sorted by docId
    * ascending and duplicate-free (the build pipeline guarantees this via
    * sortWithinPartitions). Returns (blocks, df, cf).
    */
  def encode(
      sorted: Iterator[Posting],
      withPositions: Boolean,
      withWeights: Boolean = false
  ): (Vector[PostingBlock], Long, Long) = {
    val blocks = Vector.newBuilder[PostingBlock]
    var df = 0L
    var cf = 0L
    val pending = new scala.collection.mutable.ArrayBuffer[Posting](BlockSize)
    val flags = (if (withPositions) FlagPositions else 0) | (if (withWeights) FlagWeights else 0)

    def flush(): Unit = {
      if (pending.isEmpty) return
      val first = pending.head.docId
      val last = pending.last.docId
      val buf = new java.io.ByteArrayOutputStream(pending.length * 4)
      buf.write(flags)
      Varint.write(buf, pending.length.toLong)
      var prev = first
      var i = 0
      while (i < pending.length) {
        Varint.write(buf, pending(i).docId - prev)
        prev = pending(i).docId
        i += 1
      }
      var maxTf = 0
      i = 0
      while (i < pending.length) {
        val tf = pending(i).tf
        if (tf > maxTf) maxTf = tf
        Varint.write(buf, (tf - 1).toLong)
        i += 1
      }
      if (withWeights) {
        i = 0
        while (i < pending.length) {
          Varint.write(buf, pending(i).weight.toLong)
          i += 1
        }
      }
      if (withPositions) {
        i = 0
        while (i < pending.length) {
          val ps = pending(i).positions
          var prevPos = 0
          var j = 0
          while (j < ps.length) {
            Varint.write(buf, (ps(j) - prevPos).toLong)
            prevPos = ps(j)
            j += 1
          }
          i += 1
        }
      }
      blocks += PostingBlock(first, last, pending.length, maxTf, buf.toByteArray)
      pending.clear()
    }

    var lastDoc = -1L
    while (sorted.hasNext) {
      val p = sorted.next()
      require(p.docId > lastDoc, s"postings must be strictly docId-ascending: ${p.docId} after $lastDoc")
      lastDoc = p.docId
      df += 1
      cf += p.tf
      pending += p
      if (pending.length >= BlockSize) flush()
    }
    flush()
    (blocks.result(), df, cf)
  }

  /** Decode one block; the payload's flag byte selects the streams, so no
    * external layout knowledge is needed. `wantPositions=false` skips
    * materializing position arrays even when stored.
    */
  def decodeBlock(b: PostingBlock, wantPositions: Boolean = true): Array[Posting] = {
    val flags = b.data(0) & 0xff
    val hasPos = (flags & FlagPositions) != 0
    val hasW = (flags & FlagWeights) != 0
    val r = new Varint.Reader(b.data, 1)
    val n = r.readInt()
    val docIds = new Array[Long](n)
    var prev = b.firstDoc
    var i = 0
    while (i < n) { prev += r.read(); docIds(i) = prev; i += 1 }
    val tfs = new Array[Int](n)
    i = 0
    while (i < n) { tfs(i) = r.readInt() + 1; i += 1 }
    val ws = if (hasW) { val a = new Array[Int](n); i = 0; while (i < n) { a(i) = r.readInt(); i += 1 }; a } else null
    val out = new Array[Posting](n)
    i = 0
    while (i < n) {
      val positions =
        if (hasPos && wantPositions) {
          val ps = new Array[Int](tfs(i))
          var acc = 0
          var j = 0
          while (j < tfs(i)) { acc += r.readInt(); ps(j) = acc; j += 1 }
          ps
        } else Array.emptyIntArray // positions are the last stream: nothing to skip to
      out(i) = Posting(docIds(i), tfs(i), positions, if (hasW) ws(i) else 0)
      i += 1
    }
    out
  }

  def decode(blocks: Seq[PostingBlock], wantPositions: Boolean = true): Iterator[Posting] =
    blocks.iterator.flatMap(b => decodeBlock(b, wantPositions))
}

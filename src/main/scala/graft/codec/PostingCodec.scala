package graft.codec

import graft.core.Posting

/** LEB128-style unsigned varint — the byte-wise encoding role of Groonga's
  * `GRN_B_ENC` (reference lib/grn.h, used lib/ii.c:1622-1710). Values are
  * non-negative deltas so unsigned is enough.
  */
object Varint {
  /** Growable byte buffer whose writes take no lock (`java.io.ByteArrayOutputStream.write(int)`
    * is `synchronized`), reused across payloads through [[reset]].
    */
  final class Buf extends java.io.OutputStream {
    private var bytes = new Array[Byte](256)
    private var n = 0
    def write(b: Int): Unit = {
      if (n == bytes.length) bytes = java.util.Arrays.copyOf(bytes, n * 2)
      bytes(n) = b.toByte
      n += 1
    }
    def reset(): Unit = n = 0
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(bytes, n)
  }

  def write(buf: java.io.OutputStream, v0: Long): Unit = {
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

  /** Encode rid-ascending postings into blocks: collects them into a
    * [[PostingBuffer]] and runs the buffer kernel. Input MUST be sorted by
    * docId ascending and duplicate-free. Returns (blocks, df, cf).
    */
  def encode(
      sorted: Iterator[Posting],
      withPositions: Boolean,
      withWeights: Boolean = false
  ): (Vector[PostingBlock], Long, Long) = {
    val list = new PostingBuffer(withPositions, withWeights)
    sorted.foreach(p => list.add(p.docId, p.tf, p.positions, p.weight))
    encode(list, new Varint.Buf)
  }

  /** The one block encoder: `list`'s postings in blocks of ≤ [[BlockSize]],
    * each payload written through the reused `out`. Returns (blocks, df, cf).
    */
  def encode(list: PostingBuffer, out: Varint.Buf): (Vector[PostingBlock], Long, Long) = {
    val blocks = Vector.newBuilder[PostingBlock]
    val flags = (if (list.withPositions) FlagPositions else 0) | (if (list.withWeights) FlagWeights else 0)
    val docIds = list.docIds
    val tfs = list.tfs
    var from = 0
    while (from < list.size) {
      val until = math.min(from + BlockSize, list.size)
      out.reset()
      out.write(flags)
      Varint.write(out, (until - from).toLong)
      var prev = docIds(from)
      var i = from
      while (i < until) {
        Varint.write(out, docIds(i) - prev)
        prev = docIds(i)
        i += 1
      }
      var maxTf = 0
      i = from
      while (i < until) {
        if (tfs(i) > maxTf) maxTf = tfs(i)
        Varint.write(out, (tfs(i) - 1).toLong)
        i += 1
      }
      if (list.withWeights) {
        i = from
        while (i < until) { Varint.write(out, list.weights(i).toLong); i += 1 }
      }
      if (list.withPositions) {
        val ps = list.positions
        var j = if (from == 0) 0 else list.posEnd(from - 1)
        i = from
        while (i < until) {
          var prevPos = 0
          while (j < list.posEnd(i)) {
            Varint.write(out, (ps(j) - prevPos).toLong)
            prevPos = ps(j)
            j += 1
          }
          i += 1
        }
      }
      blocks += PostingBlock(docIds(from), docIds(until - 1), until - from, maxTf, out.toByteArray)
      from = until
    }
    (blocks.result(), list.size.toLong, list.cf)
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
    val tfs = new Array[Int](n)
    readDocTfs(r, b.firstDoc, n, docIds, tfs, 0)
    var i = 0
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

  /** Decode only the docIds and tfs of one block's payload into `docIds`
    * and `tfs` from index `off`, with no [[Posting]] per entry; weights and
    * positions stay unread. Returns the block's posting count.
    */
  def decodeDocTfs(data: Array[Byte], firstDoc: Long, docIds: Array[Long], tfs: Array[Int],
      off: Int): Int = {
    val r = new Varint.Reader(data, 1)
    val n = r.readInt()
    readDocTfs(r, firstDoc, n, docIds, tfs, off)
    n
  }

  // the docId-delta and tf streams, which every payload starts with
  private def readDocTfs(r: Varint.Reader, firstDoc: Long, n: Int, docIds: Array[Long],
      tfs: Array[Int], off: Int): Unit = {
    var prev = firstDoc
    var i = off
    while (i < off + n) { prev += r.read(); docIds(i) = prev; i += 1 }
    i = off
    while (i < off + n) { tfs(i) = r.readInt() + 1; i += 1 }
  }

  def decode(blocks: Seq[PostingBlock], wantPositions: Boolean = true): Iterator[Posting] =
    blocks.iterator.flatMap(b => decodeBlock(b, wantPositions))
}

/** One term's posting list under construction, in primitive arrays: docIds,
  * tfs, weights (when `withWeights`) and every posting's positions
  * flattened into one array (when `withPositions`), appended in strictly
  * ascending docId order. [[PostingCodec.encode]] writes it as blocks.
  */
final class PostingBuffer(val withPositions: Boolean, val withWeights: Boolean) {
  private[codec] var docIds = new Array[Long](4)
  private[codec] var tfs = new Array[Int](4)
  private[codec] var weights: Array[Int] = if (withWeights) new Array[Int](4) else null
  // posEnd(i): the end of posting i's positions in `positions`
  private[codec] var posEnd: Array[Int] = if (withPositions) new Array[Int](4) else null
  private[codec] var positions: Array[Int] = if (withPositions) new Array[Int](8) else null
  private var n = 0
  private var nPos = 0
  private[codec] var cf = 0L

  def size: Int = n

  def add(docId: Long, tf: Int, ps: Array[Int], weight: Int): Unit = {
    val last = if (n == 0) -1L else docIds(n - 1)
    require(docId > last, s"postings must be strictly docId-ascending: $docId after $last")
    if (n == docIds.length) {
      docIds = java.util.Arrays.copyOf(docIds, n * 2)
      tfs = java.util.Arrays.copyOf(tfs, n * 2)
      if (withWeights) weights = java.util.Arrays.copyOf(weights, n * 2)
      if (withPositions) posEnd = java.util.Arrays.copyOf(posEnd, n * 2)
    }
    docIds(n) = docId
    tfs(n) = tf
    if (withWeights) weights(n) = weight
    if (withPositions) {
      if (nPos + ps.length > positions.length)
        positions = java.util.Arrays.copyOf(positions, math.max(positions.length * 2, nPos + ps.length))
      System.arraycopy(ps, 0, positions, nPos, ps.length)
      nPos += ps.length
      posEnd(n) = nPos
    }
    cf += tf
    n += 1
  }
}

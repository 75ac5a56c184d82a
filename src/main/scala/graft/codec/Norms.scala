package graft.codec

/** Per-shard document-length sidecar ("norms" in Lucene terminology): sorted
  * docId deltas + doclens, varint-encoded, one row per shard. BM25's `dl`
  * lookup co-travels with the shard's postings instead of shuffling the full
  * docs table per query. Read-side: two parallel arrays + binary search.
  */
object Norms {
  def encode(sorted: Iterator[(Long, Int)]): Array[Byte] = {
    val buf = new Varint.Buf
    var prev = 0L
    sorted.foreach { case (docId, len) =>
      Varint.write(buf, docId - prev)
      Varint.write(buf, len.toLong)
      prev = docId
    }
    buf.toByteArray
  }

  final class Lookup(val docIds: Array[Long], val lens: Array[Int]) extends Serializable {
    def apply(docId: Long): Int = {
      val i = java.util.Arrays.binarySearch(docIds, docId)
      if (i < 0) throw new NoSuchElementException(s"docId $docId not in norms")
      lens(i)
    }
    def size: Int = docIds.length
  }

  def decode(bytes: Array[Byte]): Lookup = {
    val r = new Varint.Reader(bytes)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    val ls = new scala.collection.mutable.ArrayBuffer[Int]()
    var prev = 0L
    while (r.hasNext) {
      prev += r.read()
      ids += prev
      ls += r.readInt()
    }
    new Lookup(ids.toArray, ls.toArray)
  }
}

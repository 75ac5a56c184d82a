package graft.index

import graft.codec.{PostingBuffer, PostingCodec, Varint}

/** The segments stage's inverter: holds one shard's postings at a time in
  * one primitive [[PostingBuffer]] per (term, salt), appended in docId
  * order, and writes them out term by term in key order — Groonga's bulk
  * build without a global sort, which appends each token's posting to a
  * per-term in-memory buffer while it scans the source in id order
  * (reference lib/ii.c:8721 `grn_ii_buffer_parse`, lib/ii.c:7561
  * `ii_buffer_counter`) and then encodes the buffers in key order
  * (lib/ii.c:7713 `encode_terms`).
  *
  * A term in `hotTerms` is split into `nSalts` lists by a hash of the docId;
  * every other term has the one list of salt 0.
  */
private[index] final class ShardInverter(withPositions: Boolean, withWeights: Boolean, hotTerms: Set[String], nSalts: Int) {
  private var lists = new java.util.HashMap[String, Array[PostingBuffer]]()

  /** Adds one posting of the held shard; a term's postings must come in
    * strictly ascending docId order.
    */
  def add(term: String, docId: Long, tf: Int, positions: Array[Int], weight: Int): Unit = {
    var salts = lists.get(term)
    if (salts == null) {
      salts = new Array[PostingBuffer](if (hotTerms.contains(term)) nSalts else 1)
      lists.put(term, salts)
    }
    val salt =
      if (salts.length == 1) 0
      else java.lang.Long.remainderUnsigned(docId * 0x9e3779b97f4a7c15L, nSalts.toLong).toInt
    var list = salts(salt)
    if (list == null) {
      list = new PostingBuffer(withPositions, withWeights)
      salts(salt) = list
    }
    list.add(docId, tf, positions, weight)
  }

  /** The held postings as `shard`'s segment rows, in (term, salt) order, one
    * row per non-empty list; the inverter is empty again for the next shard.
    */
  def drain(shard: Int): Iterator[SegmentRow] = {
    val held = lists
    lists = new java.util.HashMap[String, Array[PostingBuffer]]()
    val terms = held.keySet.toArray(new Array[String](0)).sorted
    val out = new Varint.Buf
    terms.iterator.flatMap { term =>
      val salts = held.remove(term)
      salts.indices.iterator.filter(salts(_) != null).map { salt =>
        val (blocks, df, cf) = PostingCodec.encode(salts(salt), out)
        SegmentRow(shard, term, salt, df, cf,
          blocks.map(b => BlockRow(b.firstDoc, b.lastDoc, b.n, b.maxTf, b.data)))
      }
    }
  }
}

package graft.codec

import scala.collection.mutable
import graft.model.PostingBlockRow

/** Variable-byte (VByte) integer codec.
  *
  * Classic unsigned LEB128-style encoding: 7 payload bits per byte, high bit
  * set on all but the terminal byte. Used with docId deltas (delta ≥ 1
  * between strictly increasing docIds) this is the standard compressed
  * posting-list representation (Manning/Raghavan/Schütze IIR §5.3; same role
  * as terrier's packed varlen storage, arrow_block_metadata.h:24).
  */
object VByte {
  /** Append the VByte encoding of `v` (must be ≥ 0) to `out`. */
  def encode(v: Long, out: mutable.ArrayBuilder[Byte]): Unit = {
    require(v >= 0, s"VByte encodes non-negative values, got $v")
    var x = v
    while ((x & ~0x7fL) != 0L) {
      out += ((x & 0x7f) | 0x80).toByte
      x >>>= 7
    }
    out += x.toByte
  }

  /** Decode one VByte value from `bytes` starting at `pos(0)`; advances
    * `pos(0)` past the value. */
  def decode(bytes: Array[Byte], pos: Array[Int]): Long = {
    var i = pos(0)
    var shift = 0
    var v = 0L
    var b = bytes(i)
    while ((b & 0x80) != 0) {
      v |= (b & 0x7fL) << shift
      shift += 7
      i += 1
      b = bytes(i)
    }
    v |= (b & 0x7fL) << shift
    pos(0) = i + 1
    v
  }

  def encodeAll(vs: Iterable[Long]): Array[Byte] = {
    val out = mutable.ArrayBuilder.make[Byte]
    vs.foreach(encode(_, out))
    out.result()
  }

  def decodeAll(bytes: Array[Byte]): Vector[Long] = {
    val pos = Array(0)
    val out = Vector.newBuilder[Long]
    while (pos(0) < bytes.length) out += decode(bytes, pos)
    out.result()
  }
}

/** One decoded posting. */
final case class Posting(docId: Long, tf: Int)

/** Posting-block framing: delta + VByte over ≤ `blockSize` postings.
  *
  * Block byte layout:
  *   VByte(count) | VByte(firstDocId) | VByte(docId deltas)*(count-1)
  *   | VByte(tf)*count
  *
  * Each block is self-contained (firstDocId stored absolute), so blocks from
  * different build shards concatenate in docId order with no re-encoding —
  * that property is what makes the salted/sharded parallel merge of the
  * index build valid (SURVEY.md §7.5 "Skew"), and lets a reader start
  * mid-chain at any block. The builder cuts a term's chain only at
  * `blockSize` or at its (termId, salt) group's end, not at docId shards.
  */
object PostingCodec {
  final val DefaultBlockSize = 128

  def encodeBlock(postings: Seq[Posting]): Array[Byte] = {
    require(postings.nonEmpty, "empty posting block")
    val out = mutable.ArrayBuilder.make[Byte]
    out.sizeHint(postings.length * 3)
    VByte.encode(postings.length.toLong, out)
    VByte.encode(postings.head.docId, out)
    var prev = postings.head.docId
    var i = 1
    while (i < postings.length) {
      val d = postings(i).docId
      require(d > prev, s"docIds must be strictly increasing: $prev -> $d")
      VByte.encode(d - prev, out)
      prev = d
      i += 1
    }
    i = 0
    while (i < postings.length) {
      VByte.encode(postings(i).tf.toLong, out)
      i += 1
    }
    out.result()
  }

  def decodeBlock(bytes: Array[Byte]): Vector[Posting] = {
    val pos = Array(0)
    val count = VByte.decode(bytes, pos).toInt
    val docIds = new Array[Long](count)
    docIds(0) = VByte.decode(bytes, pos)
    var i = 1
    while (i < count) {
      docIds(i) = docIds(i - 1) + VByte.decode(bytes, pos)
      i += 1
    }
    val out = Vector.newBuilder[Posting]
    i = 0
    while (i < count) {
      out += Posting(docIds(i), VByte.decode(bytes, pos).toInt)
      i += 1
    }
    out.result()
  }

  /** Rebase a block's docIds by `delta` WITHOUT decoding the postings:
    * only the absolute firstDocId is stored — the deltas and tfs that
    * follow are base-independent, so the tail bytes are copied verbatim.
    * This is what makes segment merges O(bytes) with no re-encoding. */
  def shiftBlockBase(bytes: Array[Byte], delta: Long): Array[Byte] = {
    val pos = Array(0)
    val count = VByte.decode(bytes, pos)
    val afterCount = pos(0)
    val firstDocId = VByte.decode(bytes, pos)
    val afterFirst = pos(0)
    val out = mutable.ArrayBuilder.make[Byte]
    out.sizeHint(bytes.length + 2)
    var i = 0
    while (i < afterCount) { out += bytes(i); i += 1 }
    VByte.encode(firstDocId + delta, out)
    i = afterFirst
    while (i < bytes.length) { out += bytes(i); i += 1 }
    out.result()
  }

  /** Streaming block decoder used by the scorers: invokes `f(docId, tf)` per
    * posting without materializing a collection. */
  def foreachPosting(bytes: Array[Byte])(f: (Long, Int) => Unit): Unit = {
    val pos = Array(0)
    val count = VByte.decode(bytes, pos).toInt
    var docId = VByte.decode(bytes, pos)
    val docIds = new Array[Long](count)
    docIds(0) = docId
    var i = 1
    while (i < count) {
      docId += VByte.decode(bytes, pos)
      docIds(i) = docId
      i += 1
    }
    i = 0
    while (i < count) {
      f(docIds(i), VByte.decode(bytes, pos).toInt)
      i += 1
    }
  }

  /** Frame a docId-sorted run of one term's postings into encoded block
    * rows stamped with `shard`. `tfNorm(tf, dl)` is the BM25
    * tf-normalization used for the block-max metadata. The caller
    * guarantees postings are strictly increasing in docId and all belong to
    * `termId`. */
  def buildBlocks(
      termId: Int,
      shard: Int,
      postings: Seq[(Long, Int, Int)], // (docId, tf, dl)
      tfNorm: (Int, Int) => Double,
      blockSize: Int = DefaultBlockSize): Seq[PostingBlockRow] = {
    postings.grouped(blockSize).zipWithIndex.map { case (grp, idx) =>
      var maxTf = 0
      var sumTf = 0L
      var maxNorm = 0.0
      grp.foreach { case (_, tf, dl) =>
        if (tf > maxTf) maxTf = tf
        sumTf += tf
        val n = tfNorm(tf, dl)
        if (n > maxNorm) maxNorm = n
      }
      PostingBlockRow(
        termId = termId, shard = shard, blockIdx = idx,
        firstDocId = grp.head._1, lastDocId = grp.last._1,
        count = grp.length, maxTf = maxTf, sumTf = sumTf,
        maxTfNorm = maxNorm,
        bytes = encodeBlock(grp.map(p => Posting(p._1, p._2))))
    }.toSeq
  }
}

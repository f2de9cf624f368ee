package graft.index

/**
 * Posting-block codec (SURVEY.md §7.2, north rule: "delta+varint
 * block-compressed").
 *
 * Within a block, docIds are sorted ascending; we store the first id's delta
 * from 0 and then gaps, each as an unsigned LEB128 varint. Term frequencies
 * are stored as varint(tf - 1) (tf ≥ 1 always — a posting exists only if the
 * term occurs). Reference analog: Lucene's FOR/vByte postings codec
 * (implicit in `Indexer.java` index writes); re-implemented explicitly from
 * the public varint format.
 */
object Codec {

  val BLOCK_SIZE = 128

  /** Reusable growable varint scratch buffer (unsynchronized, task-local) —
   * block encoding copies once into a right-sized output array instead of
   * allocating a growable output stream per block. */
  final class Scratch(initial: Int = 4096) {
    private var buf = new Array[Byte](initial)
    private var len = 0
    def reset(): Unit = len = 0
    @inline private def ensure(extra: Int): Unit =
      if (len + extra > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + extra))
    @inline def writeVarLong(value: Long): Unit = {
      ensure(10)
      var v = value
      while ((v & ~0x7FL) != 0L) { buf(len) = ((v & 0x7F) | 0x80).toByte; len += 1; v >>>= 7 }
      buf(len) = v.toByte; len += 1
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  /** Cut postings `[from, until)` (docIds ascending) into one block: the
   * block-max metadata (maxTf, sumTf, minDocLen) plus the three encoded
   * columns, handed to `mk` as (n, minDoc, maxDoc, maxTf, sumTf, minDocLen,
   * docBytes, tfBytes, dlBytes). Only the three byte arrays are allocated. */
  def cutBlock[B](docs: Array[Long], tfs: Array[Long], dls: Array[Long],
                  from: Int, until: Int, s: Scratch)
                 (mk: (Int, Long, Long, Long, Long, Long,
                   Array[Byte], Array[Byte], Array[Byte]) => B): B = {
    var maxTf = 0L; var sumTf = 0L; var minDl = Long.MaxValue
    var i = from
    while (i < until) {
      if (tfs(i) > maxTf) maxTf = tfs(i)
      sumTf += tfs(i)
      if (dls(i) < minDl) minDl = dls(i)
      i += 1
    }
    mk(until - from, docs(from), docs(until - 1), maxTf, sumTf, minDl,
      encodeDeltasInto(docs, from, until, s),
      encodeMinus1Into(tfs, from, until, s),
      encodeMinus1Into(dls, from, until, s))
  }

  /** Delta+varint encode a slice of sorted docIds into a fresh array via a
   * reusable scratch. */
  private def encodeDeltasInto(src: Array[Long], from: Int, until: Int, s: Scratch): Array[Byte] = {
    s.reset()
    var prev = 0L
    var i = from
    while (i < until) {
      val d = src(i) - prev
      require(d >= 0, s"docIds must be sorted ascending (gap $d)")
      s.writeVarLong(d)
      prev = src(i)
      i += 1
    }
    s.toArray
  }

  /** Varint encode a slice of values as (v-1) via a reusable scratch. */
  private def encodeMinus1Into(src: Array[Long], from: Int, until: Int, s: Scratch): Array[Byte] = {
    s.reset()
    var i = from
    while (i < until) {
      require(src(i) >= 1, "value must be >= 1")
      s.writeVarLong(src(i) - 1)
      i += 1
    }
    s.toArray
  }

  /** Decode n delta+varint longs back to absolute values. */
  def decodeDeltas(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var pos = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xFF
        v |= (b & 0x7FL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      prev += v
      out(i) = prev
      i += 1
    }
    out
  }

  /** Decode n varint tfs (stored as tf - 1). */
  def decodeTfs(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var pos = 0
    var i = 0
    while (i < n) {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xFF
        v |= (b & 0x7FL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      out(i) = v + 1
      i += 1
    }
    out
  }
}

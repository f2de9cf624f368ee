package graft.index

import org.apache.spark.unsafe.types.UTF8String

/**
 * A column of docIds as UTF-8 bytes: one buffer and each entry's end offset
 * in it, entry i spanning `[end(i − 1), end(i))`. A null docId is an empty
 * entry whose end is stored complemented (`~end`, negative), so it stays
 * null instead of becoming "". The column holds two primitive arrays and
 * nothing else, so serializing it writes two blocks, and a result row takes
 * its docId as a view of the buffer ([[utf8]]): the bytes are encoded once,
 * when the resident shards are built, and never decoded on the way to a row.
 */
final class DocIdColumn(val bytes: Array[Byte], ends: Array[Int]) extends Serializable {
  def isNull(i: Int): Boolean = ends(i) < 0
  def end(i: Int): Int = { val e = ends(i); if (e < 0) ~e else e }
  def start(i: Int): Int = if (i == 0) 0 else end(i - 1)

  /** Entry i as a `UTF8String` over the buffer (no copy), or null. */
  def utf8(i: Int): UTF8String =
    if (isNull(i)) null else { val s = start(i); UTF8String.fromBytes(bytes, s, end(i) - s) }
}

object DocIdColumn {

  /** Appends `n` entries, in order, into a buffer of `capacity` bytes (at
   * least their total length); [[result]] trims it to what was used. */
  final class Builder(n: Int, capacity: Int) {
    private val bytes = new Array[Byte](capacity)
    private val ends = new Array[Int](n)
    private var i = 0
    private var at = 0

    /** Appends entry `j` of `from`. */
    def add(from: DocIdColumn, j: Int): Unit = {
      val s = from.start(j)
      val len = from.end(j) - s
      System.arraycopy(from.bytes, s, bytes, at, len)
      at += len
      ends(i) = if (from.isNull(j)) ~at else at
      i += 1
    }

    /** Appends the UTF-8 bytes of one docId; null appends a null entry. */
    def add(utf8: Array[Byte]): Unit = {
      if (utf8 == null) ends(i) = ~at
      else {
        System.arraycopy(utf8, 0, bytes, at, utf8.length)
        at += utf8.length
        ends(i) = at
      }
      i += 1
    }

    def result(): DocIdColumn =
      new DocIdColumn(if (at == bytes.length) bytes else java.util.Arrays.copyOf(bytes, at), ends)
  }

  /** A column of the given UTF-8 docIds; a null element is a null docId. */
  def of(utf8: Array[Array[Byte]]): DocIdColumn = {
    val b = new Builder(utf8.length, utf8.iterator.filter(_ != null).map(_.length).sum)
    utf8.foreach(b.add)
    b.result()
  }
}

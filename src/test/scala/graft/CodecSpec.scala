package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.Codec

/** Codec round-trip property tests (FIXTURES.md §5), randomized with a fixed
 * seed in the reference's own style (`LengthNormalizedTest.java:14-124`),
 * through [[Codec.cutBlock]] — the block cutter the index is written with —
 * on one reused scratch buffer and on slices that start inside the arrays. */
class CodecSpec extends AnyFunSuite {
  import CodecSpec.Cut

  private val rng = new scala.util.Random(42)
  private val scratch = new Codec.Scratch(16)

  private def cut(docs: Array[Long], tfs: Array[Long], dls: Array[Long],
                  from: Int = 0, until: Int = -1): Cut =
    Codec.cutBlock(docs, tfs, dls, from, if (until < 0) docs.length else until, scratch)(Cut)

  private def ones(n: Int) = Array.fill(n)(1L)

  /** A random non-empty slice [from, until) of an array of length n ≥ 1. */
  private def slice(n: Int): (Int, Int) = {
    val from = rng.nextInt(n)
    (from, from + 1 + rng.nextInt(n - from))
  }

  test("delta+varint docId round-trip (1000 random sorted lists)") {
    (1 to 1000).foreach { _ =>
      val arr = Array.fill(1 + rng.nextInt(400))(rng.nextLong(1L << 40)).distinct.sorted
      val (from, until) = slice(arr.length)
      val c = cut(arr, ones(arr.length), ones(arr.length), from, until)
      assert(Codec.decodeDeltas(c.docs, c.n).toSeq == arr.slice(from, until).toSeq)
    }
  }

  test("tf varint round-trip (1000 random lists)") {
    (1 to 1000).foreach { _ =>
      val n = 1 + rng.nextInt(400)
      val tfs = Array.fill(n)(1L + rng.nextLong(1L << 30))
      val dls = Array.fill(n)(1L + rng.nextLong(1L << 30))
      val (from, until) = slice(n)
      val c = cut(Array.tabulate(n)(_.toLong), tfs, dls, from, until)
      assert(Codec.decodeTfs(c.tfs, c.n).toSeq == tfs.slice(from, until).toSeq)
      assert(Codec.decodeTfs(c.dls, c.n).toSeq == dls.slice(from, until).toSeq)
    }
  }

  test("extreme values round-trip") {
    val arr = Array(0L, 1L, 127L, 128L, 16383L, 16384L, Long.MaxValue - 1, Long.MaxValue)
    assert(Codec.decodeDeltas(cut(arr, ones(arr.length), ones(arr.length)).docs, arr.length).toSeq
      == arr.toSeq)
  }

  test("encoding is compact for dense ids") {
    val arr = Array.tabulate(128)(i => 1000L + i)
    assert(cut(arr, ones(128), ones(128)).docs.length <= 2 + 127) // gap-1 deltas → 1 byte each
  }

  test("unsorted input rejected") {
    intercept[IllegalArgumentException](cut(Array(5L, 3L), ones(2), ones(2)))
    intercept[IllegalArgumentException](cut(Array(3L), Array(0L), ones(1)))
  }

  test("block metadata: n, minDoc, maxDoc, maxTf, sumTf, minDocLen (1000 random slices)") {
    (1 to 1000).foreach { _ =>
      val n = 1 + rng.nextInt(300)
      val docs = Array.fill(n)(rng.nextLong(1L << 40)).distinct.sorted
      val tfs = Array.fill(docs.length)(1L + rng.nextInt(1000))
      val dls = Array.fill(docs.length)(1L + rng.nextInt(5000))
      val (from, until) = slice(docs.length)
      val c = cut(docs, tfs, dls, from, until)
      assert((c.n, c.minDoc, c.maxDoc, c.maxTf, c.sumTf, c.minDocLen) ==
        ((until - from, docs(from), docs(until - 1), tfs.slice(from, until).max,
          tfs.slice(from, until).sum, dls.slice(from, until).min)))
    }
  }
}

object CodecSpec {
  /** The fields `Codec.cutBlock` hands to its block constructor. */
  final case class Cut(n: Int, minDoc: Long, maxDoc: Long, maxTf: Long, sumTf: Long,
                       minDocLen: Long, docs: Array[Byte], tfs: Array[Byte], dls: Array[Byte])
}

package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.PostingBlock

/**
 * Posting-list construction (SURVEY.md §7.2, north rule core).
 *
 * **Fused segment build**: one `mapPartitions` pass over id-carrying turns
 * tokenizes each document and inverts it into in-memory per-term posting
 * builders — exactly Lucene's RAM-buffered segment inversion
 * (`/root/reference/src/main/java/edu/anadolu/Indexer.java:567-654`), with a
 * Spark partition playing the segment role. The segment flushes at every
 * shard boundary (`shard = docIdNum / docsPerShard`), bounding task memory
 * to one shard's postings regardless of input size, and emits ≤`blockSize`
 * delta+varint compressed blocks sorted by term (→ parquet row-group stats
 * prune query scans by term).
 *
 * Scale properties:
 *  - ZERO shuffles when ids ride along sorted input partitions — the
 *    "merge" of the classic build is unnecessary because doc ranges are
 *    disjoint by construction (document-sharded index).
 *  - Hot-term skew is structural: a stopword's postings split across every
 *    shard; no task ever owns a full stopword posting list.
 *  - No per-token Catalyst boundary: tokenization and inversion run in
 *    plain JVM code; only finished blocks cross into Tungsten.
 *
 * Blocks key by the term STRING (parquet dictionary-encodes it; a numeric
 * termId would force a vocabulary-sized join into the build for ~no storage
 * win). Per-(shard, term) blockNos restart at partition boundaries — readers
 * order blocks by minDoc.
 */
object PostingsBuilder {

  val BLOCK_SIZE: Int = Codec.BLOCK_SIZE

  /** Mutable long cell (avoids java.lang.Long boxing churn per token). */
  private object long2 { final class LongBox(var v: Long) }

  /** Growable posting-list builder for one term within one shard. Buffers
   * are REUSED across shard flushes (reset, not reallocated) — per-task
   * steady-state memory is one max-shard's postings and the allocation rate
   * stays flat regardless of corpus size (GC was half of task time before). */
  private final class TermPostings {
    var docs = new Array[Long](8)
    var tfs = new Array[Long](8)
    var dls = new Array[Long](8)
    var n = 0
    def add(doc: Long, tf: Long, dl: Long): Unit = {
      if (n == docs.length) {
        val cap = n * 2
        docs = java.util.Arrays.copyOf(docs, cap)
        tfs = java.util.Arrays.copyOf(tfs, cap)
        dls = java.util.Arrays.copyOf(dls, cap)
      }
      docs(n) = doc; tfs(n) = tf; dls(n) = dl; n += 1
    }
    def reset(): Unit = n = 0
  }

  /** Cut one term's accumulated postings into compressed blocks — only the
   * three final byte arrays per block are allocated (scratch reused). */
  private def cut(shard: Int, term: String, tp: TermPostings, blockSize: Int,
                  scratch: Codec.Scratch, out: scala.collection.mutable.ArrayBuffer[PostingBlock]): Unit = {
    var start = 0
    var blockNo = 0
    while (start < tp.n) {
      val end = math.min(start + blockSize, tp.n)
      out += Codec.cutBlock(tp.docs, tp.tfs, tp.dls, start, end, scratch)(
        PostingBlock(shard, term, blockNo, _, _, _, _, _, _, _, _, _))
      start = end
      blockNo += 1
    }
  }

  /**
   * turnsWithId: (docId string, docIdNum long, text string), docIdNum
   * ascending within each partition. Emits compressed blocks.
   */
  def buildSegments(turnsWithId: DataFrame, tag: Analyzer.Tag,
                    docsPerShard: Long,
                    blockSize: Int = Codec.BLOCK_SIZE,
                    shardFilter: Int => Boolean = _ => true): Dataset[PostingBlock] = {
    val spark = turnsWithId.sparkSession
    import spark.implicits._
    turnsWithId.select("docIdNum", "text").as[(Long, String)]
      .mapPartitions(it => segmentIterator(it, tag, docsPerShard, blockSize, shardFilter))
  }

  /** [[buildSegments]] over a pre-pruned RDD — the wave-resume path prunes
   * whole input partitions by their docIdNum range
   * ([[org.apache.spark.rdd.PartitionPruningRDD]]), so a wave never reads
   * (or generates) rows outside its shard span. */
  def buildSegmentsRdd(spark: org.apache.spark.sql.SparkSession,
                       rdd: org.apache.spark.rdd.RDD[(Long, String)],
                       tag: Analyzer.Tag,
                       docsPerShard: Long,
                       blockSize: Int = Codec.BLOCK_SIZE,
                       shardFilter: Int => Boolean = _ => true): Dataset[PostingBlock] = {
    import spark.implicits._
    spark.createDataset(
      rdd.mapPartitions(it => segmentIterator(it, tag, docsPerShard, blockSize, shardFilter)))
  }

  /** The fused tokenize→invert→flush→compress segment pass over one
   * partition's (docIdNum, text) rows. */
  private def segmentIterator(it: Iterator[(Long, String)], tag: Analyzer.Tag,
                              docsPerShard: Long, blockSize: Int,
                              shardFilter: Int => Boolean): Iterator[PostingBlock] =
        new Iterator[PostingBlock] {
          private val open = new java.util.HashMap[String, TermPostings]()
          private val counter = new TokenCounter() // zero-alloc NoStem fast path
          private val fastPath = tag == Analyzer.Tag.NoStem
          private val scratch = new Codec.Scratch()
          private var openShard = -1
          private var flushed: Iterator[PostingBlock] = Iterator.empty

          private def flush(): Iterator[PostingBlock] = {
            if (open.isEmpty) return Iterator.empty
            val terms = new java.util.ArrayList(open.keySet())
            java.util.Collections.sort(terms) // term-sorted → row-group pruning
            val shard = openShard
            val out = new scala.collection.mutable.ArrayBuffer[PostingBlock]()
            terms.forEach { term =>
              val tp = open.get(term)
              if (tp.n > 0) {
                cut(shard, term, tp, blockSize, scratch, out)
                tp.reset() // keep buffers — reused by the next shard
              }
            }
            out.iterator
          }

          private def advance(): Unit = {
            while (!flushed.hasNext && it.hasNext) {
              val (docIdNum, text) = it.next()
              val shard = (docIdNum / docsPerShard).toInt
              if (shard != openShard) {
                val f = flush()
                openShard = shard
                if (f.hasNext) { flushed = f; addDoc(docIdNum, shard, text); return }
              }
              addDoc(docIdNum, shard, text)
            }
            if (!flushed.hasNext && !it.hasNext) flushed = flush()
          }

          private def addDoc(docIdNum: Long, shard: Int, text: String): Unit = {
            if (!shardFilter(shard)) return
            if (fastPath) {
              val dl = counter.countDoc(text)
              if (dl == 0) return
              counter.foreachTf { (term, tf) =>
                var tp = open.get(term)
                if (tp == null) { tp = new TermPostings; open.put(term, tp) }
                tp.add(docIdNum, tf, dl)
              }
            } else {
              val toks = Analyzer.analyze(text, tag)
              if (toks.isEmpty) return
              val tfm = new java.util.HashMap[String, long2.LongBox]()
              toks.foreach { t =>
                val box = tfm.get(t)
                if (box == null) tfm.put(t, new long2.LongBox(1L)) else box.v += 1L
              }
              val dl = toks.size.toLong
              tfm.forEach { (term, box) =>
                var tp = open.get(term)
                if (tp == null) { tp = new TermPostings; open.put(term, tp) }
                tp.add(docIdNum, box.v, dl)
              }
            }
          }

          def hasNext: Boolean = {
            if (!flushed.hasNext) advance()
            flushed.hasNext
          }
          def next(): PostingBlock = { if (!hasNext) throw new NoSuchElementException; flushed.next() }
        }

  /** Expand blocks back to (shard, term, docIdNum, tf, docLen) rows — the
   * decode side of the codec, used by the exact-over-blocks path and by
   * round-trip tests. */
  def decodeBlocks(blocks: Dataset[PostingBlock]): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.flatMap { b =>
      val d = Codec.decodeDeltas(b.docBytes, b.n)
      val t = Codec.decodeTfs(b.tfBytes, b.n)
      val l = Codec.decodeTfs(b.dlBytes, b.n)
      Iterator.tabulate(b.n)(i => (b.shard, b.term, d(i), t(i), l(i)))
    }.toDF("shard", "term", "docIdNum", "tf", "docLen")
  }
}

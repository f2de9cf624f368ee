package graft.index

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.model.Block

/**
 * The shard partitions of a loaded index, built once and kept in memory
 * (`MEMORY_AND_DISK`), so that every block-max batch runs against them
 * without reading or planning the index again (reference: `Searcher.java`
 * opens the index once and runs every topic against it, `:162-230`).
 *
 * One element per partition holds its shards (`shard mod partitions`):
 * posting lists by (term, field), blocks sorted by minDoc, and the docIds
 * by docIdNum from the shard's first doc as one [[DocIdColumn]]: a UTF-8
 * byte buffer filled once, here, from the docs rows' `UTF8String` bytes, and
 * each entry's end offset. A docIdNum of the range without a docs row, and
 * a null docId, is a null entry, so it stays null in a result row.
 *
 * The first [[use]] runs one small job, described `<label> shards`, for each
 * shard's doc range and block count (block metadata only), the per-field
 * (fN, fC) rows and the dictionary's (field, term, df, cf) rows, which stay
 * on the driver (reference: df/cf looked up once per term from the opened
 * index, `ModelBase.computeWeight:50-57`); the partitions themselves are
 * persisted then, and materialized by the first caller's own job. The copy
 * serves the snapshot the handle was loaded from: the file listings and the
 * dict version pinned at load, so the driver's dict never goes stale. It
 * costs driver memory in O(vocabulary): one entry per (field, term).
 *
 * @param label what the partitions serve; their jobs are described with it
 * @param blocks the index's posting blocks, with a `field` column
 * @param dict (field, term, df, cf) rows
 * @param docs (docIdNum, docId) rows
 * @param fieldStats (field, fN, fC): each field's doc and token counts
 */
final class Resident(val label: String, blocks: DataFrame, dict: DataFrame,
                     docs: DataFrame, fieldStats: DataFrame) {
  import Resident._

  def spark: SparkSession = docs.sparkSession

  private var built: Built = _
  /** nanoTime at which the current build began, until it is logged. */
  private var buildStart = 0L

  /** Runs `f` on the partitions, which the first call defines and persists;
   * the first call to return logs the build. */
  def use[A](f: Built => A): A = {
    val b = synchronized {
      if (built == null) { buildStart = System.nanoTime(); built = build() }
      built
    }
    val out = f(b)
    synchronized {
      if (buildStart != 0L && (built eq b)) {
        val secs = (System.nanoTime() - buildStart) / 1e9
        val bytes = spark.sparkContext.getRDDStorageInfo.find(_.id == b.parts.id)
          .fold(0L)(i => i.memSize + i.diskSize)
        System.err.println(f"[resident] $label: ${b.shards} shards in ${b.parts.getNumPartitions} " +
          f"partitions, ${b.blocks} blocks, ${b.docs.value} docs, ${bytes / 1e6}%.1f MB " +
          f"(docId buffers ${b.idBytes.value} bytes), " +
          f"${b.dict.valuesIterator.map(_.length).sum} dict rows on the driver, $secs%.2f s")
        buildStart = 0L
      }
    }
    out
  }

  /** Unpersists the partitions and drops the driver dict; a later [[use]] rebuilds both. */
  def release(): Unit = synchronized {
    if (built != null) {
      built.parts.unpersist(blocking = true)
      built = null
      buildStart = 0L
    }
  }

  private def build(): Built = {
    val spark = docs.sparkSession
    val sc = spark.sparkContext
    // per shard (first doc, last doc, blocks), the field rows and the dict
    // rows, in one job: a field row is a (field, null term, fN, fC) row
    val meta = blocks.select(col("shard"), col("minDoc"), col("maxDoc"))
      .unionByName(fieldStats.select(col("field"), col("fN").cast("long").as("docs"),
        col("fC").cast("long").as("tokens")), allowMissingColumns = true)
      .unionByName(dict.select(col("field"), col("df").cast("long").as("docs"),
        col("cf").cast("long").as("tokens"), col("term")), allowMissingColumns = true)
      .queryExecution.toRdd
      .mapPartitions(metaRows)
    val (extents, stats) = described(sc, s"$label shards")(meta.collect()).toSeq.partitionMap(identity)
    val (fields, terms) = stats.partition(_._2 == null)
    val shards = extents.groupMapReduce(_._1)(e => (e._2, e._3, e._4)) {
      case ((lo1, hi1, n1), (lo2, hi2, n2)) => (math.min(lo1, lo2), math.max(hi1, hi2), n1 + n2)
    }.toArray.sortBy(_._2._1)
    val ids = shards.map(_._1)
    val los = shards.map(_._2._1)
    val his = shards.map(_._2._2)
    // the shard whose doc range holds a docIdNum, if any; a doc outside
    // every range has no posting, so it is never a hit
    val shardOf: Long => Option[Int] = { num =>
      val i = java.util.Arrays.binarySearch(los, num) match {
        case found if found >= 0 => found
        case insertion => -insertion - 2
      }
      Option.when(i >= 0 && num <= his(i))(ids(i))
    }
    // tasks: no more than the shards, nor than the cores
    val n = math.max(1, Seq(shards.length, spark.sessionState.conf.numShufflePartitions,
      sc.defaultParallelism).min)

    // one scan plan over the blocks and docs; each row goes to its shard's partition
    val input = blocks.select(col("shard"), col("field"), col("term"), col("n"), col("minDoc"),
        col("maxDoc"), col("maxTf"), col("minDocLen"), col("docBytes"), col("tfBytes"), col("dlBytes"))
      .unionByName(docs.select(col("docIdNum"), col("docId")), allowMissingColumns = true)
    val at = input.schema.fieldNames.zipWithIndex.toMap
    val (shard, field, term, num) = (at("shard"), at("field"), at("term"), at("docIdNum"))
    val docCount = sc.longAccumulator(s"$label resident docs")
    val idBytes = sc.longAccumulator(s"$label resident docId bytes")
    val firstDoc = ids.zip(los).toMap
    val parts = input.queryExecution.toRdd
      .flatMap { r =>
        if (!r.isNullAt(shard)) {
          val s = r.getInt(shard)
          Some((s % n, Blk(s, string(r, field), string(r, term), r.getInt(at("n")),
            r.getLong(at("minDoc")), r.getLong(at("maxDoc")), r.getLong(at("maxTf")),
            r.getLong(at("minDocLen")), r.getBinary(at("docBytes")), r.getBinary(at("tfBytes")),
            r.getBinary(at("dlBytes")))))
        } else {
          val d = r.getLong(num)
          shardOf(d).map(s => (s % n, Doc(s, d, utf8Bytes(r, at("docId")))))
        }
      }
      .partitionBy(new HashPartitioner(n)) // keys are partition numbers
      .mapPartitions(rs => Iterator(part(rs.map(_._2), firstDoc, docCount, idBytes)))
      .setName(s"$label resident shards").persist(StorageLevel.MEMORY_AND_DISK)
    Built(parts, fields.map(f => f._1 -> (f._3, f._4)).toMap,
      terms.toArray.groupMap(_._2)(t => (t._1, t._3, t._4)), shards.length, shards.map(_._2._3).sum, docCount,
      idBytes)
  }
}

object Resident {

  /** A posting block as the partitions hold it, with its field. */
  final case class Blk(shard: Int, field: String, term: String, n: Int, minDoc: Long, maxDoc: Long,
                       maxTf: Long, minDocLen: Long, docBytes: Array[Byte], tfBytes: Array[Byte],
                       dlBytes: Array[Byte]) extends Block

  /** One shard: posting lists by (term, field), blocks sorted by minDoc, and
   * the docId of docIdNum `base + i` as entry i of `docIds` (UTF-8; null for
   * a null docId or a number without a doc). */
  final case class Shard(id: Int, lists: Map[(String, String), Array[Blk]],
                         base: Long, docIds: DocIdColumn)

  /** Persisted partitions, one array of shards each; each field's (fN, fC)
   * and the dictionary, term → (field, df, cf) rows, on the driver; the
   * build's shard, block and doc counts and its docId buffers' bytes. */
  final case class Built(parts: RDD[Array[Shard]], fieldStats: Map[String, (Long, Long)],
                         dict: Map[String, Array[(String, Long, Long)]],
                         shards: Int, blocks: Long, docs: LongAccumulator, idBytes: LongAccumulator)

  /** What the build routes to a partition besides blocks: a doc's UTF-8
   * docId (null for a null one). */
  private final case class Doc(shard: Int, num: Long, id: Array[Byte])

  /** String column `i` of an internal row, copied out of the row's buffer. */
  private def string(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** String column `i` of an internal row as its UTF-8 bytes, copied out of
   * the row's buffer (which the scan reuses); null stays null. */
  private def utf8Bytes(r: InternalRow, i: Int): Array[Byte] =
    if (r.isNullAt(i)) null else r.getUTF8String(i).clone().getBytes

  /** One meta-scan partition: its (shard, minDoc, maxDoc) rows → per shard
   * (shard, first doc, last doc, blocks); its (field, term, docs, tokens)
   * rows as they are. */
  private def metaRows(rows: Iterator[InternalRow])
      : Iterator[Either[(Int, Long, Long, Long), (String, String, Long, Long)]] = {
    val acc = scala.collection.mutable.HashMap.empty[Int, (Long, Long, Long)]
    val stats = rows.flatMap { r =>
      if (r.isNullAt(0)) Some(Right((string(r, 3), string(r, 6), r.getLong(4), r.getLong(5))))
      else {
        val (s, lo, hi) = (r.getInt(0), r.getLong(1), r.getLong(2))
        acc(s) = acc.get(s).fold((lo, hi, 1L)) { case (l, h, c) => (math.min(l, lo), math.max(h, hi), c + 1) }
        None
      }
    }.toList
    stats.iterator ++ acc.iterator.map { case (s, (lo, hi, c)) => Left((s, lo, hi, c)) }
  }

  /** A partition's element from its blocks and docs. */
  private def part(records: Iterator[Any], firstDoc: Map[Int, Long], docCount: LongAccumulator,
                   idBytes: LongAccumulator) = {
    val blocks = ArrayBuffer.empty[Blk]
    val docs = ArrayBuffer.empty[Doc]
    records.foreach {
      case b: Blk => blocks += b
      case d: Doc => docs += d
    }
    val docsOf = docs.groupBy(_.shard)
    blocks.groupBy(_.shard).toArray.sortBy(_._1).map { case (s, bs) =>
      // order blocks by doc range, NOT blockNo — a shard straddling a
      // build-partition boundary has two block runs with repeated blockNos
      val lists = bs.toArray.groupBy(b => (b.term, b.field)).view.mapValues(_.sortBy(_.minDoc)).toMap
      val base = firstDoc(s)
      val ds = docsOf.getOrElse(s, ArrayBuffer.empty)
      val slots = new Array[Array[Byte]](if (ds.isEmpty) 0 else (ds.map(_.num).max - base + 1).toInt)
      ds.foreach(d => slots((d.num - base).toInt) = d.id)
      val docIds = DocIdColumn.of(slots)
      docCount.add(ds.size)
      idBytes.add(docIds.bytes.length)
      Shard(s, lists, base, docIds)
    }
  }

  /** Runs `f` with its jobs described as `desc`, then restores the caller's
   * description; every other local property is left alone. */
  private[graft] def described[A](sc: SparkContext, desc: String)(f: => A): A = {
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(desc)
    try f finally sc.setLocalProperty(key, prev)
  }
}

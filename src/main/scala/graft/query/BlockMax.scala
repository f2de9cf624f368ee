package graft.query

import java.util.OptionalLong

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.analysis.Analyzer
import graft.index.{Codec, DocIdColumn, Resident}
import graft.model.{Block, Topic}

/**
 * The block-max WAND kernel shared by plain ([[BlockMaxWand]]) and fielded
 * ([[FieldedBlockMax]]) retrieval (SURVEY.md §7.3; reference: the skip-list
 * scorer of `Searcher.java:182`, searched per field at `:232-323`).
 *
 * A query term is a DisMax stream over its per-field posting cursors; the
 * plain index is the one-field case (tie 0, msm 1). Within each shard
 * (contiguous docIdNum range) the WAND loop runs:
 *
 *  - per-block bound `B = max(0, score(maxTf, minDocLen))`, valid for models
 *    monotone increasing in tf / decreasing in docLen (`Model.ubSafe`); the
 *    `max(0,·)` keeps negative-idf terms safe at the cost of not skipping on
 *    them. Per-term bounds combine through the DisMax form
 *    ((1−tie)·max_f B_f + tie·Σ_f B_f)·mult, monotone in every argument;
 *  - pivot selection on the θ threshold of the shard-local top-k heap, at
 *    index ≥ msm−1: a doc before `streams(msm−1)` matches fewer than msm
 *    terms; fewer than msm live streams end the shard;
 *  - a shallow *current-block* bound check before full evaluation;
 *  - block-level skipTo: whole blocks whose maxDoc < target stay undecoded.
 *
 * Scores: a term scores (mx + tie·(sm − mx))·mult over its fields' scores at
 * the doc (the caller's scorers carry float boundary and boost); the doc
 * sum runs in UTF8 term order and per-term field sums in UTF8 field order —
 * the canonical order of [[Fielded.score]]'s array_sort'ed folds, since
 * double addition is non-associative. `finish` (float cast, or half-up
 * rounding) is monotone, so a doc whose raw sum ≤ θ finishes ≤ θ and loses
 * the docId-ascending tie-break to the incumbents: the skips stay exact, and
 * shard-local top-k sets over disjoint doc ranges merge to the global exact
 * top-k (score desc, docIdNum asc).
 */
object BlockMax {

  /** One query term of a query: multiplicity and, per field holding it, the
   * score closure `(tf, docLen) => contribution`. */
  final case class QueryTerm(term: String, mult: Int,
                             fields: Seq[(String, (Long, Long) => Double)])

  /** A query: minimum number of matched terms and its terms. */
  final case class Query(msm: Int, terms: Seq[QueryTerm])

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Cursor over one posting list's blocks in a shard, ordered by minDoc:
   * blocks decode lazily and skipTo passes whole blocks undecoded. */
  final class Cursor(blocks: Array[_ <: Block], score: (Long, Long) => Double) {
    private val ubs = {
      val u = new Array[Double](blocks.length)
      var i = 0
      while (i < u.length) { u(i) = math.max(0d, score(blocks(i).maxTf, blocks(i).minDocLen)); i += 1 }
      u
    }
    val maxUb: Double = ubs.foldLeft(ubs(0))(math.max)
    private var bi = 0
    private var pi = 0
    private var docs: Array[Long] = _
    private var tfs: Array[Long] = _
    private var dls: Array[Long] = _
    private def decode(): Unit = {
      val b = blocks(bi)
      docs = Codec.decodeDeltas(b.docBytes, b.n)
      tfs = Codec.decodeTfs(b.tfBytes, b.n)
      dls = Codec.decodeTfs(b.dlBytes, b.n)
    }
    decode()

    def exhausted: Boolean = bi >= blocks.length
    def doc: Long = docs(pi)
    def posting: Double = score(tfs(pi), dls(pi))
    def blockUb: Double = ubs(bi)

    def next(): Unit = {
      pi += 1
      if (pi >= blocks(bi).n) {
        pi = 0; bi += 1
        if (!exhausted) decode()
      }
    }

    /** Advance to the first doc ≥ target. */
    def skipTo(target: Long): Unit = {
      if (blocks(bi).maxDoc < target) {
        var lo = bi + 1; var hi = blocks.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (blocks(mid).maxDoc < target) lo = mid + 1 else hi = mid
        }
        bi = lo; pi = 0
        if (exhausted) return
        decode()
      }
      while (docs(pi) < target) pi += 1 // maxDoc ≥ target bounds the scan
    }
  }

  /** One query term: the DisMax merge of its per-field cursors (UTF8 field
   * order). A doc matches the term iff any field holds it. */
  final class Term(cursors: Array[Cursor], mult: Int, tie: Double) {
    private var live = cursors
    /** Current doc: min over the live cursors; Long.MaxValue once exhausted. */
    var doc: Long = 0L
    settle()

    /** ((1−tie)·max + tie·Σ)·mult over the cursors' global bounds. */
    val globalUb: Double = {
      val ubs = cursors.map(_.maxUb)
      ((1d - tie) * ubs.max + tie * ubs.sum) * mult
    }

    /** Drops exhausted cursors (allocating only then) and updates `doc`. */
    private def settle(): Unit = {
      var i = 0
      while (i < live.length && !live(i).exhausted) i += 1
      if (i < live.length) live = live.filter(!_.exhausted)
      var d = Long.MaxValue
      i = 0
      while (i < live.length) { if (live(i).doc < d) d = live(i).doc; i += 1 }
      doc = d
    }

    /** DisMax current-block bound over the cursors at `doc`, ×mult. */
    def blockUb: Double = {
      var mx = 0d; var sm = 0d
      var i = 0
      while (i < live.length) {
        if (live(i).doc == doc) {
          val u = live(i).blockUb
          if (u > mx) mx = u
          sm += u
        }
        i += 1
      }
      ((1d - tie) * mx + tie * sm) * mult
    }

    /** Exact contribution at `doc`: (mx + tie·(sm − mx))·mult. */
    def score: Double = {
      var mx = Double.NegativeInfinity; var sm = 0d
      var i = 0
      while (i < live.length) {
        if (live(i).doc == doc) {
          val s = live(i).posting
          if (s > mx) mx = s
          sm += s
        }
        i += 1
      }
      (mx + tie * (sm - mx)) * mult
    }

    def next(): Unit = {
      var i = 0
      while (i < live.length) { if (live(i).doc == doc) live(i).next(); i += 1 }
      settle()
    }

    def skipTo(target: Long): Unit = {
      var i = 0
      while (i < live.length) { if (live(i).doc < target) live(i).skipTo(target); i += 1 }
      settle()
    }
  }

  /** Top-k accumulator ordered (score desc, docIdNum asc): a binary min-heap
   * over two primitive arrays, the worst entry (lowest score, then largest
   * doc) at the root, grown with the hits, never sized k up front. Ascending
   * doc traversal ⇒ ties never displace earlier docs. Scores compare as
   * doubles (-0.0 == 0.0), like the admission test and [[merge]]. */
  private[graft] final class TopK(k: Int) {
    require(k > 0, s"k must be positive: $k")
    private var scores = new Array[Double](math.min(k, 16))
    private var docs = new Array[Long](scores.length)
    private var n = 0

    def size: Int = n
    def theta: Double = if (n < k) Double.NegativeInfinity else scores(0)

    def offer(score: Double, doc: Long): Unit =
      if (n < k) {
        if (n == scores.length) {
          val cap = math.min(k.toLong, 2L * n).toInt
          scores = java.util.Arrays.copyOf(scores, cap); docs = java.util.Arrays.copyOf(docs, cap)
        }
        scores(n) = score; docs(n) = doc; n += 1
        var i = n - 1 // sift up
        while (i > 0 && worse(i, (i - 1) >>> 1)) { swap(i, (i - 1) >>> 1); i = (i - 1) >>> 1 }
      } else if (score > scores(0)) {
        scores(0) = score; docs(0) = doc
        siftDown(n)
      }

    /** Empties the heap into its top-k as columns, best first (an in-place
     * heap sort: each pass moves the worst left to the end); docIdNum `d`
     * is entry `d − base` of `ids`, whose byte range is copied as it is. */
    def drain(ids: DocIdColumn, base: Long): Ranked = {
      var end = n
      while (end > 1) { end -= 1; swap(0, end); siftDown(end) }
      var bytes = 0
      var i = 0
      while (i < n) { val e = (docs(i) - base).toInt; bytes += ids.end(e) - ids.start(e); i += 1 }
      val out = new DocIdColumn.Builder(n, bytes)
      i = 0
      while (i < n) { out.add(ids, (docs(i) - base).toInt); i += 1 }
      val ranked = Ranked(java.util.Arrays.copyOf(scores, n), java.util.Arrays.copyOf(docs, n), out.result())
      n = 0
      ranked
    }

    /** Entry i ranks below entry j. */
    private def worse(i: Int, j: Int): Boolean =
      scores(i) < scores(j) || (scores(i) == scores(j) && docs(i) > docs(j))

    private def swap(i: Int, j: Int): Unit = {
      val s = scores(i); scores(i) = scores(j); scores(j) = s
      val d = docs(i); docs(i) = docs(j); docs(j) = d
    }

    /** Restores the heap order of the first `end` entries below the root. */
    private def siftDown(end: Int): Unit = {
      var i = 0
      while (2 * i + 1 < end) {
        val l = 2 * i + 1
        val c = if (l + 1 < end && worse(l + 1, l)) l + 1 else l
        if (!worse(c, i)) return
        swap(i, c); i = c
      }
    }
  }

  /** The WAND loop over one shard's streams of one query → its top-k heap.
   * `terms` is in UTF8 term order, the summation order of a doc's score. */
  def topK(terms: Array[Term], msm: Int, k: Int, finish: Double => Double): TopK = {
    val heap = new TopK(k)
    val streams = terms.clone() // ordered by current doc; exhausted ones last
    var live = streams.length
    // a stable insertion sort of the ≤ |terms| live streams by current doc:
    // after one step only the moved streams are out of place
    def settle(): Unit = {
      var i = 1
      while (i < live) {
        val t = streams(i)
        var j = i - 1
        while (j >= 0 && streams(j).doc > t.doc) { streams(j + 1) = streams(j); j -= 1 }
        streams(j + 1) = t
        i += 1
      }
      while (live > 0 && streams(live - 1).doc == Long.MaxValue) live -= 1
    }
    settle()

    while (live >= msm) {
      val theta = heap.theta
      // pivot: smallest index ≥ msm−1 whose Σ global-UB prefix exceeds θ
      var acc = 0d
      var pivot = -1
      var i = 0
      while (i < live && pivot < 0) {
        acc += streams(i).globalUb
        if (acc > theta && i >= msm - 1) pivot = i
        i += 1
      }
      if (pivot < 0) return heap // nothing can beat θ anymore

      val pivotDoc = streams(pivot).doc
      if (streams(0).doc == pivotDoc) {
        // aligned: every stream that can hold pivotDoc sits at it, and
        // j > pivot ≥ msm−1 of them do
        var blockAcc = 0d
        var j = 0
        while (j < live && streams(j).doc == pivotDoc) {
          blockAcc += streams(j).blockUb; j += 1
        }
        if (blockAcc > theta) {
          var s = 0d
          var m = 0
          while (m < terms.length) {
            if (terms(m).doc == pivotDoc) s += terms(m).score
            m += 1
          }
          heap.offer(finish(s), pivotDoc)
        }
        var a = 0
        while (a < j) { streams(a).next(); a += 1 }
      } else {
        // advance the laggards up to the pivot
        var a = 0
        while (a < live && streams(a).doc < pivotDoc) {
          streams(a).skipTo(pivotDoc); a += 1
        }
      }
      settle()
    }
    heap
  }

  /** One shard's top-k of every query with hits there; `lists` holds the
   * shard's posting lists by (term, field), blocks by minDoc, and entry
   * `d − base` of `ids` is the docId of docIdNum `d`. */
  def shard(lists: Map[(String, String), Array[_ <: Block]], queries: Map[Int, Query],
            tie: Double, k: Int, finish: Double => Double, ids: DocIdColumn, base: Long): Hits =
    queries.flatMap { case (qid, q) =>
      val terms = q.terms.sortBy(t => utf8(t.term)).flatMap { t =>
        val cursors = t.fields.sortBy(f => utf8(f._1)).flatMap { case (field, score) =>
          lists.get((t.term, field)).map(new Cursor(_, score))
        }
        if (cursors.isEmpty) None else Some(new Term(cursors.toArray, t.mult, tie))
      }
      val top = topK(terms.toArray, q.msm, k, finish)
      Option.when(top.size > 0)(qid -> top.drain(ids, base))
    }

  /** A query before its scorers exist: minimum number of matched terms and
   * its analyzed (term, multiplicity) pairs. */
  final case class QuerySpec(msm: Int, terms: Seq[(String, Int)])

  /** What a scorer reads of the index: a term's df and cf in one field, and
   * that field's doc and token counts. */
  final case class TermStats(df: Long, cf: Long, fieldDocs: Long, fieldTokens: Long)

  /** Builds the score closure `(tf, docLen) => contribution` of one query's
   * term in one field from its statistics, once per (query, term, field)
   * (through [[Scoring.Model.bind]], so per-term constants such as BM25's
   * idf are computed then); runs inside the kernel tasks. */
  type ScorerFactory = (QuerySpec, String, TermStats) => (Long, Long) => Double

  /** One query's top-k in rank order (score desc, docIdNum asc), as columns
   * of primitive arrays: the docIds as a UTF-8 [[DocIdColumn]] (a null
   * docId stays a null entry), copied from the resident shard's buffer. */
  final case class Ranked(scores: Array[Double], nums: Array[Long], ids: DocIdColumn) {
    def size: Int = scores.length
  }

  /** Per query with hits: its top-k. */
  type Hits = Map[Int, Ranked]

  /** The first k of the stable merge of two top-k lists over disjoint doc
   * ranges in (score desc, docIdNum asc) order: the exact top-k of both. */
  private def merge(a: Ranked, b: Ranked, k: Int): Ranked = {
    val n = math.min(k, a.size + b.size)
    val (scores, nums) = (new Array[Double](n), new Array[Long](n))
    val ids = new DocIdColumn.Builder(n, a.ids.bytes.length + b.ids.bytes.length)
    var i = 0; var j = 0
    for (o <- 0 until n) {
      val fromB = i == a.size || (j < b.size && (b.scores(j) > a.scores(i) ||
        (b.scores(j) == a.scores(i) && b.nums(j) < a.nums(i))))
      val (r, at) = if (fromB) { j += 1; (b, j - 1) } else { i += 1; (a, i - 1) }
      scores(o) = r.scores(at); nums(o) = r.nums(at); ids.add(r.ids, at)
    }
    Ranked(scores, nums, ids.result())
  }

  private def merge(a: Hits, b: Hits, k: Int): Hits =
    b.foldLeft(a) { case (top, (qid, r)) => top.updated(qid, top.get(qid).fold(r)(merge(_, r, k))) }

  /** The kernel task of a batch: one resident partition's top-k over its
   * shards, docIds resolved there. A named class rather than a closure, so
   * Spark's closure cleaner returns at once instead of parsing class files
   * on every batch. It carries the query terms' (field, df, cf) dict rows
   * by term (`stats`), each field's (fN, fC), the specs and the scoring
   * settings; the scorers are built in the task. */
  private final class Kernel(stats: Map[String, Array[(String, Long, Long)]],
                             fields: Map[String, (Long, Long)], specs: Map[Int, QuerySpec],
                             scorer: ScorerFactory, tie: Double, k: Int, finish: Double => Double)
      extends ((TaskContext, Iterator[Array[Resident.Shard]]) => Hits) with Serializable {
    def apply(ctx: TaskContext, parts: Iterator[Array[Resident.Shard]]): Hits = {
      val queries = specs.map { case (qid, spec) =>
        qid -> Query(spec.msm, spec.terms.map { case (term, mult) =>
          QueryTerm(term, mult, stats.getOrElse(term, Array.empty).toSeq.map { case (field, df, cf) =>
            val (fN, fC) = fields(field)
            field -> scorer(spec, field, TermStats(df, cf, fN, fC))
          })
        })
      }
      parts.flatMap(_.iterator).foldLeft(Map.empty: Hits) { (top, s) =>
        merge(top, shard(s.lists, queries, tie, k, finish, s.docIds, s.base), k)
      }
    }
  }

  /** A batch's result rows as a DSv2 table named `label` whose one scan is
   * a `LocalScan` of the rows: Spark plans it as a `LocalTableScanExec`, so
   * analysis and optimization see one leaf instead of the rows, and a
   * collect runs no job. The scan reports the rows' count and size (the
   * size a `LocalRelation` of them reports), so a join can still broadcast
   * it. */
  private final class Result(label: String, rowSchema: StructType, rowArray: Array[InternalRow])
      extends Table with SupportsRead with ScanBuilder with LocalScan with SupportsReportStatistics {
    def name(): String = label
    override def schema(): StructType = rowSchema
    def capabilities(): java.util.Set[TableCapability] = java.util.EnumSet.of(TableCapability.BATCH_READ)
    def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = this
    def build(): Scan = this
    def readSchema(): StructType = rowSchema
    def rows(): Array[InternalRow] = rowArray
    def renamed(from: String, to: String): Result = new Result(label, StructType(rowSchema.map(f =>
      if (f.name == from) f.copy(name = to) else f)), rowArray)
    def estimateStatistics(): Statistics = new Statistics {
      def sizeInBytes(): OptionalLong = OptionalLong.of((8L + rowSchema.defaultSize) * rowArray.length)
      def numRows(): OptionalLong = OptionalLong.of(rowArray.length)
    }
  }

  /**
   * Distributed block-max search over an index's [[Resident]] partitions,
   * eager, in one single-stage Spark job for the whole topic set, described
   * `<label> kernel: <n> topics`:
   *
   *  1. the driver looks the query terms up in the handle's dict and ships
   *     only their rows, with the per-field (fN, fC), in the [[Kernel]] task;
   *  2. each partition builds its scorers from them through `scorer`, runs
   *     [[shard]] per shard, and returns per query its top-k as columns
   *     (scores, docIdNums, docIds) in rank order; the driver merges the
   *     tasks' results (exact: shard doc ranges are disjoint).
   *
   * No batch reads or plans the index, or shuffles anything. The first batch
   * on a handle also builds the partitions ([[Resident.use]]): one small
   * `<label> shards` job, which also brings the dict to the driver, then
   * this job materializes them.
   *
   * The driver then numbers each query's merged hits by rank, adds the
   * sentinel rows, and returns (qid, docId, rank, score) over a `Result`
   * table named `<label> top-k: <n> topics`, whose scan holds those rows:
   * collecting the result, or an identity selection of it, runs no further
   * job, while an aliasing projection over it (`withColumnRenamed`, say)
   * runs one. k ≤ 0 ranks nothing and runs no job.
   *
   * @param msm minimum number of matched terms from a query's distinct-term count
   * @param rounded half-up round doc scores to this many decimals and rank
   *   on the rounded double (a double score column); None = float scores
   * @param sentinel docId of the (qid, sentinel, 1, 0) row added for every
   *   topic without hits; None = no such rows
   */
  def search(resident: Resident, topics: Seq[Topic], tag: Analyzer.Tag, msm: Int => Int,
             scorer: ScorerFactory, tie: Double, k: Int, rounded: Option[Int],
             sentinel: Option[String]): DataFrame = {
    val spark = resident.spark
    val finish: Double => Double = rounded match {
      case None => d => d.toFloat.toDouble
      case Some(decimals) =>
        d => BigDecimal(d).setScale(decimals, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val specs = Exact.queryTerms(topics, tag).groupBy(_._1).map { case (qid, ts) =>
      qid -> QuerySpec(msm(ts.head._4), ts.map(t => (t._2, t._3)))
    }
    val terms = specs.values.flatMap(_.terms.map(_._1)).toSet

    // k ≤ 0 ranks nothing, as on the exhaustive paths (only the sentinel
    // rows, where asked), and runs no job
    val top: Hits = if (k <= 0) Map.empty else resident.use { built =>
      // the tasks get the query terms' rows, never `built` or its whole dict
      val stats = terms.iterator.flatMap(t => built.dict.get(t).map(t -> _)).toMap
      val fields = built.fieldStats
      Resident.described(spark.sparkContext, s"${resident.label} kernel: ${topics.size} topics") {
        spark.sparkContext.runJob(built.parts, new Kernel(stats, fields, specs, scorer, tie, k, finish))
          .foldLeft(Map.empty: Hits)(merge(_, _, k))
      }
    }

    val score: Double => Any = if (rounded.isEmpty) _.toFloat else identity
    def row(qid: Int, docId: UTF8String, rank: Int, s: Double): InternalRow =
      new GenericInternalRow(Array[Any](qid, docId, rank, score(s)))
    // each docId a view of the merged column's buffer: no decode, no copy
    val ranked = top.toSeq.sortBy(_._1).flatMap { case (qid, r) =>
      (0 until r.size).map(i => row(qid, r.ids.utf8(i), i + 1, r.scores(i)))
    }
    val sentinels = sentinel.toSeq.flatMap(id =>
      topics.filterNot(t => top.contains(t.qid)).map(t => row(t.qid, UTF8String.fromString(id), 1, 0d)))
    val schema = StructType(Seq(
      StructField("qid", IntegerType, nullable = false),
      StructField("docId", StringType),
      StructField("rank", IntegerType, nullable = false),
      StructField("score", if (rounded.isEmpty) FloatType else DoubleType, nullable = false)))
    dataFrame(spark, new Result(s"${resident.label} top-k: ${topics.size} topics", schema,
      (ranked ++ sentinels).toArray))
  }

  private def dataFrame(spark: SparkSession, table: Result): DataFrame =
    new classic.Dataset[Row](classic.ClassicConversions.castToImpl(spark),
      DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty()),
      Encoders.row(table.schema()))

  /** A [[search]] result with column `from` renamed `to`, over the same
   * rows: a new `Result` table under the renamed schema, so its plan stays
   * one `LocalScan` leaf, and collecting it runs no job and no other SQL
   * execution (a `withColumnRenamed` projection over the scan would run a
   * job). */
  private[graft] def renamed(result: DataFrame, from: String, to: String): DataFrame = {
    val table = result.queryExecution.logical match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[Result] => r.table.asInstanceOf[Result]
      case other => throw new IllegalArgumentException(s"not a block-max result: ${other.nodeName}")
    }
    dataFrame(result.sparkSession, table.renamed(from, to))
  }
}

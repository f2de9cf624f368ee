package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.FieldedBlock

/**
 * Block-compressed posting lists over a prebuilt [[FieldedIndex]] — the
 * early-termination substrate for fielded DisMax retrieval (round-4 VERDICT
 * next-round #1). The flat fielded index answers a query by scoring EVERY
 * candidate posting of every query term through join+window
 * ([[graft.query.Fielded.searchIndexed]]); these per-(field, term) blocks
 * carry the same block-max metadata as the main index's [[graft.model.PostingBlock]]
 * (maxTf, minDocLen → a per-block score upper bound for ub-safe models), so
 * [[graft.query.FieldedBlockMax]] can run a WAND loop that skips blocks
 * undecoded and stops scoring docs that cannot reach the top-k θ or the
 * minimum-should-match count.
 *
 * Reference analog: one Lucene index per field with skip-list postings,
 * searched together at `Searcher.java:232-323`.
 *
 * On-disk layout: two stages under the dir given to [[build]], each
 * resumable via the [[IndexBuild.stageDone]] marker convention. [[build]]
 * writes to any dir ([[graft.driver.DriverQueries]] builds the blocks into a
 * temp dir of their own); [[load]] reads them from the fielded index's dir,
 * so blocks meant for [[load]] must be built there:
 * {{{
 *   fdocs/    (docId, docIdNum) — dense ids in docId-STRING order, so
 *             docIdNum ascending ≡ docId ascending (the engine's canonical
 *             tie-break; heaps and windows order on the cheap numeric id)
 *   fblocks/  FieldedBlock rows, files sorted by (field, term, minDoc);
 *             searches read them once, into the loaded index's
 *             [[Resident]] shard partitions
 * }}}
 * Both are read through their declared schemas, so [[load]] runs no job.
 */
object FieldedBlocks {

  val FdocsSchema: StructType = StructType.fromDDL("docId STRING, docIdNum BIGINT")
  val FblocksSchema: StructType = Encoders.product[FieldedBlock].schema

  final case class FBIndex(blocks: Dataset[FieldedBlock], fdocs: DataFrame,
                           dict: DataFrame, stats: DataFrame) {
    /** The shard partitions [[graft.query.FieldedBlockMax]] searches, built
     * by the first search. */
    lazy val resident: Resident = new Resident("fielded bmw", blocks.toDF(), dict, fdocs, stats)

    /** Unpersists the resident shard partitions, if built. */
    def release(): Unit = resident.release()
  }

  /**
   * Build (or resume) the block stage over an existing fielded index.
   * One corpus-sized join (postings ⋈ fdocs on docId) and one range shuffle
   * on (field, term, docIdNum) — both one-time build costs.
   *
   * @param docsPerShard docs per shard (shard = docIdNum / docsPerShard);
   *   shards bound the WAND tasks' doc ranges — disjoint ranges make the
   *   shard-local exact top-k heaps merge to the global exact top-k
   */
  def build(idx: FieldedIndex.FIndex, dir: String,
            docsPerShard: Long = 1L << 20,
            blockSize: Int = Codec.BLOCK_SIZE): FBIndex = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)

    if (!IndexBuild.stageDone(spark, s"$dir/fdocs")) {
      val (fdocs, cleanup) = DenseIds.assignManaged(idx.postings.select("docId").distinct(),
        "docIdNum", assumeSorted = false, col("docId"))
      try fdocs.write.mode("overwrite").parquet(s"$dir/fdocs") finally cleanup()
    }
    val fdocs = spark.read.schema(FdocsSchema).parquet(s"$dir/fdocs")

    if (!IndexBuild.stageDone(spark, s"$dir/fblocks"))
      idx.postings
        .join(fdocs, "docId")
        .select(col("field"), col("term"), col("docIdNum"),
          col("tf").cast("long"), col("docLen").cast("long"))
        .repartitionByRange(parts, col("field"), col("term"), col("docIdNum"))
        .sortWithinPartitions("field", "term", "docIdNum")
        .as[(String, String, Long, Long, Long)]
        .mapPartitions(cutRuns(_, docsPerShard, blockSize))
        .write.mode("overwrite").parquet(s"$dir/fblocks")

    FBIndex(spark.read.schema(FblocksSchema).parquet(s"$dir/fblocks").as[FieldedBlock], fdocs,
      idx.dict, idx.stats)
  }

  def exists(spark: SparkSession, dir: String): Boolean =
    IndexBuild.stageDone(spark, s"$dir/fblocks")

  /** Opens the blocks and the fielded index's dict and stats at `dir` from
   * their file listings: no job. */
  def load(spark: SparkSession, dir: String): FBIndex = {
    import spark.implicits._
    FBIndex(spark.read.schema(FblocksSchema).parquet(s"$dir/fblocks").as[FieldedBlock],
      spark.read.schema(FdocsSchema).parquet(s"$dir/fdocs"),
      spark.read.schema(FieldedIndex.DictSchema).parquet(s"$dir/dict"),
      spark.read.schema(FieldedIndex.StatsSchema).parquet(s"$dir/stats"))
  }

  /** Cut one partition's (field, term, docIdNum, tf, docLen) rows — sorted
   * by exactly that order — into compressed blocks. A block never crosses a
   * (field, term) run boundary NOR a shard boundary (shard-local WAND needs
   * every block inside one doc range). Runs straddling build partitions
   * restart blockNo; readers order by minDoc (same convention as
   * [[PostingsBuilder]]). Buffers are reused across cuts — steady-state task
   * memory is one block regardless of input size. */
  private[index] def cutRuns(it: Iterator[(String, String, Long, Long, Long)],
                             docsPerShard: Long,
                             blockSize: Int): Iterator[FieldedBlock] =
    new Iterator[FieldedBlock] {
      private val scratch = new Codec.Scratch()
      private val docs = new Array[Long](blockSize)
      private val tfs = new Array[Long](blockSize)
      private val dls = new Array[Long](blockSize)
      private var n = 0
      private var curField: String = null
      private var curTerm: String = null
      private var curShard = -1
      private var blockNo = 0
      private var pending: FieldedBlock = null

      private def cut(): FieldedBlock = {
        val b = Codec.cutBlock(docs, tfs, dls, 0, n, scratch)(
          FieldedBlock(curShard, curField, curTerm, blockNo, _, _, _, _, _, _, _, _, _))
        n = 0
        blockNo += 1
        b
      }

      private def advance(): Unit = {
        while (pending == null && it.hasNext) {
          if (n == blockSize) { pending = cut(); return }
          val (field, term, doc, tf, dl) = it.next()
          val shard = (doc / docsPerShard).toInt
          if ((field != curField || term != curTerm || shard != curShard) && n > 0)
            pending = cut() // old run's block: cut BEFORE blockNo resets
          if (field != curField || term != curTerm) blockNo = 0
          curField = field; curTerm = term; curShard = shard
          docs(n) = doc; tfs(n) = tf; dls(n) = dl; n += 1
        }
        if (pending == null && !it.hasNext && n > 0) pending = cut()
      }

      def hasNext: Boolean = { if (pending == null) advance(); pending != null }
      def next(): FieldedBlock = {
        if (!hasNext) throw new NoSuchElementException
        val b = pending; pending = null; b
      }
    }
}

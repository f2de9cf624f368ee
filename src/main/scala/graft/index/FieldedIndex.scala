package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Prebuilt fielded index for R3 retrieval (round-3 VERDICT "What's wrong"
 * #1 / next-round #1): the reference holds ONE LUCENE INDEX PER FIELD
 * (`Searcher.java:232-323` searches per-field readers with per-field
 * collection statistics); the round-2/3 engine instead re-aggregated
 * per-field stats and the per-(field, term) dictionary from the raw
 * fielded posting source on EVERY `Fielded.search` call — a full corpus
 * scan per query, fatal at 100 TB.
 *
 * This module materializes, once at build time:
 *
 * {{{
 *   postings/   (docId, field, term, tf, docLen) — range-partitioned AND
 *               sorted by term, so a query's `term IN (…)` predicate
 *               prunes parquet row groups via min/max stats (the same
 *               mechanism as the Block-Max WAND block table); with
 *               spark.sql.parquet.aggregatePushdown row-group pruning,
 *               a 6-term query touches a handful of row groups out of a
 *               100 TB posting set
 *   dict/       (field, term, df, cf) — likewise term-sorted/pruned
 *   stats/      (field, fN, fC) — |fields| rows
 * }}}
 *
 * Query time ([[graft.query.Fielded.searchIndexed]]) reads ONLY pruned
 * scans of these three tables — zero aggregation over the corpus in the
 * query plan (plan-shape pinned in FieldedSpec). Each table has a declared
 * schema here, which every read goes through, so [[load]] runs no job.
 */
object FieldedIndex {

  val PostingsSchema: StructType =
    StructType.fromDDL("docId STRING, field STRING, term STRING, tf BIGINT, docLen BIGINT")
  val DictSchema: StructType = StructType.fromDDL("field STRING, term STRING, df BIGINT, cf BIGINT")
  val StatsSchema: StructType = StructType.fromDDL("field STRING, fN BIGINT, fC BIGINT")

  final case class FIndex(postings: DataFrame, dict: DataFrame, stats: DataFrame)

  /**
   * Build the fielded index from a fielded posting source
   * `(docId, field, term, tf, docLen)` — docLen is the analyzed length of
   * that document's FIELD (per-field length normalization, as one Lucene
   * index per field would norm).
   *
   * One range shuffle on (term, field, docId) clusters each term's
   * postings into contiguous row groups; the dict and stats aggregations
   * run once here instead of once per query.
   *
   * Build is RESUMABLE at stage granularity (north rule, like
   * [[IndexBuild]], whose `stageDone` marker convention this reuses): each
   * of the three stage dirs commits atomically (job-level `_SUCCESS`) and
   * a restart skips committed stages — a crash between postings and dict
   * re-runs only the cheap read-back aggregations, never the corpus pass.
   *
   * CONTRACT (same as IndexBuild): resume is crash recovery for the SAME
   * input — committed stages are trusted, so pointing a build at a dir
   * holding another corpus's committed stages returns that older index.
   * Callers building a possibly-changed corpus into a reused dir must
   * clear it first (the CLI's `index-fielded` does, unless `--resume`).
   *
   * @param shards posting output files (0 = session shuffle partitions);
   *   at cluster scale size this so a shard's row groups stay within
   *   `files.maxPartitionBytes`
   */
  def build(fielded: DataFrame, dir: String, shards: Int = 0): FIndex = {
    val spark = fielded.sparkSession
    val parts = if (shards > 0) shards
                else math.max(1, spark.sessionState.conf.numShufflePartitions)
    if (!IndexBuild.stageDone(spark, s"$dir/postings")) {
      // repartitionByRange SAMPLES its child before shuffling it — without
      // a persist, an expensive source pipeline (tokenize+explode) executes
      // twice, once for the range-boundary sketch and once for the real
      // shuffle. DISK_ONLY pins the computed source locally (serialized
      // columnar batches, no heap pressure) so both passes are re-reads;
      // at cluster scale that trades one full recompute + its CPU for one
      // local-disk write (guide §5 caching rule: reused AND expensive).
      val src = fielded
        .select(PostingsSchema.map(f => col(f.name).cast(f.dataType)): _*)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try
        src
          .repartitionByRange(parts, col("term"), col("field"), col("docId"))
          .sortWithinPartitions("term", "field", "docId")
          .write.mode("overwrite").parquet(s"$dir/postings")
      finally src.unpersist()
    }
    // dict/stats derive from the just-written postings, NOT the source
    // lineage: the source is typically a full tokenize+explode pipeline
    // whose re-evaluation would cost a corpus pass each — the read-back is
    // a column-pruned columnar scan of exactly the rows the postings hold
    // (identical semantics: one posting row per (doc, field, term)).
    //
    // The two stages are INDEPENDENT read-back aggregations into separate
    // stage dirs — run them as two concurrent jobs (optimization guide
    // §2.6: actions are only sequential because driver code calls them
    // sequentially); each stays individually resumable.
    val written = spark.read.schema(PostingsSchema).parquet(s"$dir/postings")
    val dictJob = () =>
      if (!IndexBuild.stageDone(spark, s"$dir/dict"))
        written.groupBy("field", "term")
          .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
          .repartitionByRange(math.max(1, parts / 4), col("term"))
          .sortWithinPartitions("term")
          .write.mode("overwrite").parquet(s"$dir/dict")
    IndexBuild.alongside(dictJob, "graft-fidx-dict") {
      if (!IndexBuild.stageDone(spark, s"$dir/stats"))
        fieldStatsOf(written)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/stats")
    }
    load(spark, dir)
  }

  /** Per-field corpus statistics (fN = judged docs, fC = total tf) from a
   * fielded posting source — shared by [[build]] and the on-the-fly
   * [[graft.query.Fielded.search]] variant.
   *
   * Two-stage instead of `agg(countDistinct, sum)`: mixing a distinct
   * aggregate with a plain one plans an Expand that DOUBLES the posting
   * rows through the shuffle; (field, docId) partials then a tiny
   * per-field roll-up compute the same values in one normal pass.
   *
   * NULL-docId postings are excluded from BOTH fN and fC, by design: a
   * posting without a document identity is unattributable garbage, not
   * collection mass. (The replaced `agg(countDistinct(docId), sum(tf))`
   * skipped NULLs in fN but silently counted their tf into fC — the
   * filter-first form makes the two stats consistent.) */
  def fieldStatsOf(fielded: DataFrame): DataFrame =
    fielded.filter(col("docId").isNotNull)
      .groupBy("field", "docId").agg(sum("tf").as("docTf"))
      .groupBy("field").agg(count(lit(1)).as("fN"), sum("docTf").as("fC"))

  /**
   * Canonical fielded posting source over a transcripts table's NATURAL
   * fields (the reference's field mode, `Indexer.java:413-512`, applied to
   * the transcript schema): `contents` = the analyzed text (per-field
   * docLen = analyzed length), `role` / `tool` = the metadata value as a
   * single-token field (docLen 1). No shuffle until the tf groupBy —
   * tf is computed within the row like [[Tokenize.termDocs]].
   */
  def fromTurns(turns: org.apache.spark.sql.Dataset[graft.model.Turn],
                tag: graft.analysis.Analyzer.Tag = graft.analysis.Analyzer.Tag.NoStem): DataFrame = {
    val tfm = Tokenize.tfMapUdf(tag)
    val base = turns.toDF()
      .withColumn("docId", graft.data.Transcripts.docIdCol)
    val contents = base
      .withColumn("tfMap", tfm(col("text")))
      .withColumn("docLen", aggregate(map_values(col("tfMap")), lit(0L), (acc, x) => acc + x))
      .select(col("docId"), lit("contents").as("field"),
        explode(col("tfMap")).as(Seq("term", "tf")), col("docLen"))
      .select("docId", "field", "term", "tf", "docLen")
    val meta = base
      .select(col("docId"), lit("role").as("field"), col("role").as("term"),
        lit(1L).as("tf"), lit(1L).as("docLen"))
      .unionByName(base.filter(col("tool").isNotNull)
        .select(col("docId"), lit("tool").as("field"), col("tool").as("term"),
          lit(1L).as("tf"), lit(1L).as("docLen")))
    contents.unionByName(meta)
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/stats/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Opens the fielded index at `dir` from its file listings: no job. */
  def load(spark: SparkSession, dir: String): FIndex =
    FIndex(
      postings = spark.read.schema(PostingsSchema).parquet(s"$dir/postings"),
      dict = spark.read.schema(DictSchema).parquet(s"$dir/dict"),
      stats = spark.read.schema(StatsSchema).parquet(s"$dir/stats"))
}

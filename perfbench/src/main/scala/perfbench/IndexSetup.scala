package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.data.Transcripts
import graft.index.{FieldedBlocks, FieldedIndex, IndexBuild}
import graft.model.Turn

/**
 * The `search` workload's corpus and indexes: a fixed seeded transcript
 * table and both index kinds built from it the way `cli index` and
 * `cli index-fielded --blocks` do (unsorted input, CLI default shard sizes).
 * They are prepared once per build of the engine, so a run spends its time
 * on queries; the workload seed drives the topics only.
 */
object IndexSetup {
  val Convs = 1000
  val TurnsPerConv = 8
  val Turns: Long = Convs.toLong * TurnsPerConv
  val CorpusSeed = 42L

  def table(dir: String): String = s"$dir/corpus"
  def plain(dir: String): String = s"$dir/plain"
  def fielded(dir: String): String = s"$dir/fielded"

  /** Writes the corpus table and both indexes under `dir`, and fails if
   * the indexes do not pass [[check]]. */
  def prepare(spark: SparkSession, dir: String): Unit = {
    Transcripts.generate(spark, Convs, TurnsPerConv, CorpusSeed)
      .write.mode("overwrite").parquet(table(dir))
    buildBoth(spark, new Tracer(spark.sparkContext, enabled = false), table(dir),
      plain(dir), fielded(dir), "prepare")
    if (!check(IndexBuild.load(spark, plain(dir)), FieldedIndex.load(spark, fielded(dir))))
      throw new IllegalStateException(s"the indexes prepared under $dir fail the index check")
  }

  /** One build of both index kinds over the table at `table`. */
  def buildBoth(spark: SparkSession, t: Tracer, table: String, plainDir: String,
                fieldedDir: String, request: String): Unit = {
    import spark.implicits._
    val turns = spark.read.parquet(table).as[Turn]
    t.span("index.build", request)(IndexBuild.build(turns, plainDir, docsPerShard = 16384))
    val fidx = t.span("index.fielded_build", request) {
      FieldedIndex.build(FieldedIndex.fromTurns(turns), fieldedDir)
    }
    t.span("index.fielded_blocks", request)(FieldedBlocks.build(fidx, fieldedDir))
  }

  /** The docs count equals the input turn count, and the plain dict equals
   * the fielded `contents` dict in df and cf for every term. */
  def check(index: IndexBuild.Index, fielded: FieldedIndex.FIndex): Boolean = {
    val plainDict = index.dict.select(col("term"), col("df").as("pdf"), col("cf").as("pcf"))
    val contents = fielded.dict.filter(col("field") === "contents")
      .select(col("term"), col("df").as("fdf"), col("cf").as("fcf"))
    val mismatched = plainDict.join(contents, Seq("term"), "full_outer")
      .filter(!(col("pdf") <=> col("fdf")) || !(col("pcf") <=> col("fcf")))
      .count()
    index.stats.numDocs == Turns && index.docs.count() == Turns && mismatched == 0
  }

  /** On-disk sizes of both indexes plus the plain index's block counts. */
  def sizesOf(spark: SparkSession, plainDir: String, fieldedDir: String): Map[String, Double] = {
    val m = spark.read.parquet(s"$plainDir/manifest").agg(sum("nBlocks"), sum("nPostings")).head()
    val blocks = m.getLong(0).toDouble
    def bytes(d: String) = Util.dirBytes(d).toDouble
    Map(
      "index.docs_bytes" -> bytes(s"$plainDir/docs"),
      "index.postings_bytes" -> bytes(s"$plainDir/postings"),
      "index.dict_bytes" -> bytes(s"$plainDir/dict"),
      "index.fielded_postings_bytes" -> bytes(s"$fieldedDir/postings"),
      "index.fielded_fdocs_bytes" -> bytes(s"$fieldedDir/fdocs"),
      "index.fielded_fblocks_bytes" -> bytes(s"$fieldedDir/fblocks"),
      "index.fielded_dict_stats_bytes" -> (bytes(s"$fieldedDir/dict") + bytes(s"$fieldedDir/stats")),
      "index.blocks" -> blocks,
      "index.postings_per_block" -> m.getLong(1) / blocks)
  }
}

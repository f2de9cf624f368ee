package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Transcripts
import graft.index.{FieldedBlocks, FieldedIndex, IndexBuild, Tokenize}
import graft.model.{CorpusStats, Turn}
import graft.streaming.Streams

/** The on-disk index layout: declared table schemas, the corpus stats
 * stored with each dict snapshot, and loads that run no Spark job. */
class IndexLayoutSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private lazy val turns = Transcripts.generate(spark, 100, 6, seed = 5L, partitions = 4)
  private lazy val turnsLocal: Seq[Turn] = turns.collect().toSeq.sortBy(t => s"${t.conv_id}#${t.turn_idx}")

  /** The stats computed from the turns themselves. */
  private def statsOf(ts: Seq[Turn]): CorpusStats = {
    import spark.implicits._
    Tokenize.corpusStats(Tokenize.docs(ts.toDS()))
  }

  private lazy val plainDir = {
    val dir = Files.createTempDirectory("graft-layout-plain").toString
    IndexBuild.build(turns, dir, docsPerShard = 50) // 600 docs → 12 shards
    dir
  }
  private lazy val fieldedDir = {
    val dir = Files.createTempDirectory("graft-layout-fielded").toString
    FieldedBlocks.build(FieldedIndex.build(FieldedIndex.fromTurns(turns), dir), dir, docsPerShard = 50)
    dir
  }

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def statsFile(dictDir: String) = new Path(s"$dictDir/_corpus_stats")

  test("IndexBuild.load, FieldedIndex.load and FieldedBlocks.load run no Spark job") {
    import spark.implicits._
    assert(IndexBuild.completedShards(spark, s"$plainDir/postings").size == 12)
    val streamDir = Files.createTempDirectory("graft-layout-stream-load").toString
    val (b1, b2) = turnsLocal.splitAt(250)
    Streams.appendBatch(b1.toDS(), streamDir, docsPerShard = 50, batchId = Some(0L))
    Streams.appendBatch(b2.toDS(), streamDir, docsPerShard = 50, batchId = Some(1L))
    assert(IndexBuild.completedShards(spark, s"$streamDir/postings").size == 12)
    val fielded = fieldedDir // built outside the counted window
    val jobs = SparkTestSession.jobDescriptions {
      IndexBuild.load(spark, plainDir)
      IndexBuild.load(spark, streamDir)
      FieldedIndex.load(spark, fielded)
      FieldedBlocks.load(spark, fielded)
    }
    assert(jobs.isEmpty, s"loads ran jobs: $jobs")
  }

  test("every table's declared schema equals the one parquet infers (names and types)") {
    def fields(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    Seq(
      s"$plainDir/docs" -> IndexBuild.DocsSchema,
      s"$plainDir/dict" -> IndexBuild.DictSchema,
      s"$plainDir/postings" -> IndexBuild.PostingsSchema,
      s"$fieldedDir/postings" -> FieldedIndex.PostingsSchema,
      s"$fieldedDir/dict" -> FieldedIndex.DictSchema,
      s"$fieldedDir/stats" -> FieldedIndex.StatsSchema,
      s"$fieldedDir/fdocs" -> FieldedBlocks.FdocsSchema,
      s"$fieldedDir/fblocks" -> FieldedBlocks.FblocksSchema
    ).foreach { case (dir, declared) =>
      assert(fields(spark.read.parquet(dir).schema) == fields(declared), dir)
    }
  }

  test("stored stats after a build equal the corpus stats of its docs") {
    val idx = IndexBuild.load(spark, plainDir)
    assert(idx.stats == statsOf(turnsLocal))
    assert(idx.stats == Tokenize.corpusStats(idx.docs))
  }

  test("a build killed between the dict rows and the stats marker redoes the dict stage") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-layout-kill-dict").toString
    IndexBuild.build(turns, dir, docsPerShard = 100)
    // the state a kill after the dict rows' commit leaves: rows, no marker;
    // a planted row shows whether the resumed build rewrites the stage
    assert(fs.delete(statsFile(s"$dir/dict"), false))
    Seq(("zz_planted", 999999L, 7L, 9L)).toDF("term", "termId", "df", "cf")
      .write.mode("append").parquet(s"$dir/dict")
    intercept[IllegalStateException](IndexBuild.load(spark, dir))
    val idx = IndexBuild.build(turns, dir, docsPerShard = 100)
    assert(idx.stats == statsOf(turnsLocal))
    assert(IndexBuild.load(spark, dir).stats == idx.stats)
    assert(idx.dict.filter(col("term") === "zz_planted").count() == 0, "the dict stage was not redone")
  }

  test("appendBatch stores base + batch stats, counting empty and null texts; replays are idempotent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-layout-append").toString
    val (b1, rest) = turnsLocal.splitAt(250)
    val blank = Seq(
      Turn("zz-empty", 0, "user", "", null, new java.sql.Timestamp(0L)),
      Turn("zz-null", 0, "user", null, null, new java.sql.Timestamp(0L)))
    val b2 = rest ++ blank
    def stored() = IndexBuild.load(spark, dir).stats

    Streams.appendBatch(b1.toDS(), dir, docsPerShard = 64, batchId = Some(0L))
    assert(stored() == statsOf(b1))
    Streams.appendBatch(b2.toDS(), dir, docsPerShard = 64, batchId = Some(1L))
    val both = statsOf(b1 ++ b2)
    assert(both.numDocs == turnsLocal.size + 2, "docs without postings count")
    assert(stored() == both)

    // a full replay is a no-op; a replay after a lost done marker re-merges
    // onto the same base snapshot
    Streams.appendBatch(b2.toDS(), dir, docsPerShard = 64, batchId = Some(1L))
    assert(stored() == both)
    assert(fs.delete(new Path(s"$dir/_batch_1_done"), false))
    Streams.appendBatch(b2.toDS(), dir, docsPerShard = 64, batchId = Some(1L))
    assert(stored() == both)
    assert(stored() == Tokenize.corpusStats(IndexBuild.load(spark, dir).docs))
  }

  test("stats survive the flat-dict promotion, the legacy replay and the build repair") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-layout-promote").toString
    val (b1, b2) = turnsLocal.splitAt(300)
    IndexBuild.build(b1.toDS(), dir, docsPerShard = 100)
    // the first append promotes the flat dict/ to dicts/v=1, marker included
    Streams.appendBatch(b2.toDS(), dir, docsPerShard = 100, batchId = Some(0L))
    assert(fs.exists(statsFile(s"$dir/dicts/v=1")))
    assert(IndexBuild.load(spark, dir).stats == statsOf(turnsLocal))

    // a legacy sidecar (no dict base) replays through the full re-aggregation
    assert(fs.delete(new Path(s"$dir/_batch_0_done"), false))
    val start = IndexBuild.readSmallFile(spark, s"$dir/_batch_0_start").get.split(':')(0)
    IndexBuild.writeSmallFile(spark, s"$dir/_batch_0_start", start)
    Streams.appendBatch(b2.toDS(), dir, docsPerShard = 100, batchId = Some(0L))
    assert(IndexBuild.load(spark, dir).stats == statsOf(turnsLocal))

    // a batch build over the whole input repairs a lost shard and writes a
    // fresh snapshot, whose stats aggregate docs/
    val shards = IndexBuild.completedShards(spark, s"$dir/postings")
    assert(fs.delete(new Path(s"$dir/postings/shard=${shards.max}"), true))
    val before = IndexBuild.dictVersion(spark, dir)
    val idx = IndexBuild.build((b1 ++ b2).toDS(), dir, docsPerShard = 100)
    assert(IndexBuild.dictVersion(spark, dir) == before + 1)
    assert(idx.stats == statsOf(turnsLocal))
  }

  test("an index without the stats marker fails to load, naming the file and asking for a rebuild") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-layout-old").toString
    IndexBuild.build(turnsLocal.take(40).toDS(), dir, docsPerShard = 100)
    assert(fs.delete(statsFile(s"$dir/dict"), false))
    val e = intercept[IllegalStateException](IndexBuild.load(spark, dir))
    assert(e.getMessage.contains(s"$dir/dict/_corpus_stats") && e.getMessage.contains("rebuild"),
      e.getMessage)
    // and an append onto it fails before writing anything, releasing the
    // batch's numbering frame
    val more = turnsLocal.drop(40).take(10)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e2 = intercept[IllegalStateException](Streams.appendBatch(more.toDS(), dir, docsPerShard = 100))
    assert(e2.getMessage.contains("_corpus_stats"))
    assert(spark.sparkContext.getPersistentRDDs.keySet.forall(persisted))
    assert(spark.read.parquet(s"$dir/docs").count() == 40)
  }
}

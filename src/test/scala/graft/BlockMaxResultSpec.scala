package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.{Transcripts, Trec}
import graft.index.{FieldedBlocks, FieldedIndex, IndexBuild}
import graft.model.{Topic, Turn}
import graft.query.{BlockMaxWand, Exact, Fielded, FieldedBlockMax, Scoring}

/**
 * The result form of both block-max paths ([[BlockMaxWand]] and
 * [[FieldedBlockMax]]): the rows, their order and their schema are those of
 * the exhaustive sibling, ranked rows first (qid, then rank) and sentinel
 * rows last; collecting the result, or an identity selection of it, runs no
 * job; the usual DataFrame operations work on it; and its optimized plan
 * reports its row count. Over a multi-shard index and an index with no
 * shard, for float and rounded scores, with and without sentinels.
 */
class BlockMaxResultSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val model = Scoring.BM25c(0.9, 0.4)
  private val K = 20
  private val SENT = "sentinel#0"
  private val topics = Seq(Topic(1, "w0 w3"), Topic(2, "w1 w1 w7"), Topic(3, "qqqmissing"),
    Topic(4, "w10 w100 w500"), Topic(5, "assistant w2"))

  /** A plain index and a fielded block index over `turns`, `docsPerShard`
   * docs a shard; the fielded one over `fields` only. */
  private def indexes(turns: org.apache.spark.sql.Dataset[Turn], name: String, docsPerShard: Int,
                      fields: Seq[String]): (IndexBuild.Index, FieldedIndex.FIndex, FieldedBlocks.FBIndex) = {
    val dir = Files.createTempDirectory(s"graft-result-$name").toString
    val fidx = FieldedIndex.build(FieldedIndex.fromTurns(turns).filter(col("field").isin(fields: _*)),
      s"$dir/fielded")
    (IndexBuild.build(turns, s"$dir/plain", docsPerShard = docsPerShard), fidx,
      FieldedBlocks.build(fidx, s"$dir/fielded", docsPerShard = docsPerShard, blockSize = 4))
  }

  // 200 docs → 4 shards
  private lazy val (plain, fielded, blocks) = indexes(
    Transcripts.generate(spark, 40, 5, seed = 5L, partitions = 2), "multi", 50,
    Seq("role", "tool", "contents"))

  // empty and null texts only: no posting, so no shard
  private lazy val (emptyPlain, emptyFielded, emptyBlocks) = {
    import spark.implicits._
    val ts = Seq("", null, "  ", "").zipWithIndex.map { case (t, i) =>
      Turn(f"empty$i%03d", 0, "user", t, null, new java.sql.Timestamp(0L)) }.toDS()
    indexes(ts, "empty", 2, Seq("contents"))
  }

  private def schema(rounded: Option[Int]) = StructType(Seq(
    StructField("qid", IntegerType, nullable = false),
    StructField("docId", StringType),
    StructField("rank", IntegerType, nullable = false),
    StructField("score", if (rounded.isEmpty) FloatType else DoubleType, nullable = false)))

  /** Checks `got` against `want`, its rows in result order. */
  private def check(got: DataFrame, want: Seq[Row], rounded: Option[Int], what: String): Unit = {
    assert(got.schema == schema(rounded), what)
    var rows = Seq.empty[Row]
    assert(SparkTestSession.jobs { rows = got.collect().toSeq }.isEmpty, what)
    assert(rows == want, what)
    assert(SparkTestSession.jobs { rows = got.select("qid", "docId", "rank", "score").collect().toSeq }.isEmpty,
      what)
    assert(rows == want, what)
    assert(got.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(want.size)), what)

    assert(got.count() == want.size, what)
    assert(got.orderBy(col("qid").desc, col("rank")).collect().toSeq ==
      want.sortBy(r => (-r.getInt(0), r.getInt(2))), what)
    // against a side too large to broadcast, the join broadcasts the result
    // (an empty one may be planned away instead)
    val wide = spark.range(0, 2000000).select(col("id").cast("int").as("qid"))
    val joined = wide.join(got, "qid")
    if (want.nonEmpty) assert(joined.queryExecution.sparkPlan.collectFirst {
      case j: BroadcastHashJoinExec => j.buildSide }.contains(BuildRight), what)
    assert(joined.collect().toSet == want.toSet, what)

    val out = Files.createTempDirectory("graft-result-run").resolve("run").toString
    Trec.writeRun(got, "t", out)
    val lines = Files.list(Paths.get(out)).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(lines == Trec.formatRun(spark.createDataFrame(want.asJava, schema(rounded)), "t")
      .collect().map(_.getString(0)).toSeq, what)
  }

  test("BMW result: the exhaustive path's rows in result order, no job to collect, broadcastable") {
    for ((name, idx) <- Seq("4 shards" -> plain, "no shard" -> emptyPlain);
         rounded <- Seq(None, Some(4)); sentinel <- Seq(None, Some(SENT))) {
      val what = s"$name rounded=$rounded sentinel=$sentinel"
      // ranked rows by (qid, rank), then the sentinels in topic order
      val exact = Exact.search(idx.termDocs, idx.dict, idx.stats, topics, model, K,
        sentinelDocId = sentinel, roundedDouble = rounded).collect().toSeq
      val sentinels = exact.filter(r => sentinel.contains(r.getString(1)))
      val want = (exact.diff(sentinels).sortBy(r => (r.getInt(0), r.getInt(2))) ++
        topics.flatMap(t => sentinels.filter(_.getInt(0) == t.qid)))
      if (name == "4 shards") assert(want.map(_.getInt(0)).distinct.size == 4 + sentinels.size, what)
      else assert(want == sentinels, what)
      check(BlockMaxWand.search(idx, topics, model, K, sentinelDocId = sentinel, roundedDouble = rounded),
        want, rounded, what)
    }
  }

  test("fielded BMW result: searchIndexed's rows in result order, no job to collect, broadcastable") {
    for ((name, fidx, fb) <- Seq(("multi-shard", fielded, blocks), ("no shard", emptyFielded, emptyBlocks));
         rounded <- Seq(None, Some(4))) {
      val what = s"$name rounded=$rounded"
      val want = Fielded.searchIndexed(fidx, topics, model, K, rounded = rounded).collect().toSeq
        .sortBy(r => (r.getInt(0), r.getInt(2)))
      assert(want.isEmpty == (name == "no shard"), what)
      check(FieldedBlockMax.search(fb, topics, model, K, rounded = rounded), want, rounded, what)
    }
  }
}

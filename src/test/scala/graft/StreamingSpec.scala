package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Transcripts
import graft.index.{IndexBuild, Tokenize}
import graft.model.Turn
import graft.streaming.Streams

/** Structured Streaming surface: incremental index ingest ≡ batch build,
 * stateful first-seen dedup, watermark finalization semantics. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("streaming index ingest (2 micro-batches) reproduces the batch posting source") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val turns = Transcripts.generate(spark, 60, 6, seed = 7L, partitions = 2)
    val local = turns.collect().toSeq

    val dir = Files.createTempDirectory("graft-stream-idx-test").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt-test").toString
    val stream = MemoryStream[Turn]
    val q = Streams.indexSink(stream.toDS(), dir, docsPerShard = 64, streamToken = ckpt.hashCode.toHexString)
      .option("checkpointLocation", ckpt).start()
    try {
      val (b1, b2) = local.splitAt(local.size / 3)
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()

    val streamed = IndexBuild.load(spark, dir).termDocs
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    val batch = Tokenize.termDocs(turns)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    assert(streamed.length == batch.length)
    assert(streamed.toSeq == batch.toSeq)

    // shard ranges across batches stay disjoint (new batch → new shards)
    val shards = spark.read.parquet(s"$dir/postings")
      .groupBy("shard").agg(min("minDoc").as("lo"), max("maxDoc").as("hi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
    shards.sliding(2).foreach {
      case Array(a, b) => assert(a._3 < b._2, s"overlapping shards: $a $b")
      case _ =>
    }
  }

  test("appendBatch replay with the same batchId is idempotent (at-least-once foreachBatch)") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 30, 4, seed = 11L, partitions = 2)
    val dir = Files.createTempDirectory("graft-stream-replay-test").toString

    Streams.appendBatch(turns, dir, docsPerShard = 32, batchId = Some(0L))
    def fingerprint() = {
      val idx = IndexBuild.load(spark, dir)
      (idx.docs.count(),
        idx.termDocs.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted.toSeq,
        idx.dict.collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3))).sorted.toSeq)
    }
    val first = fingerprint()

    // full replay (e.g. crash after commit but before checkpoint write)
    Streams.appendBatch(turns, dir, docsPerShard = 32, batchId = Some(0L))
    assert(fingerprint() == first, "full replay must be a no-op")

    // partial replay: docs applied but postings/dict lost mid-batch — the
    // start sidecar + docs marker force identical renumbering, dynamic
    // overwrite replaces the shard partitions instead of appending
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_batch_0_done"), false)
    Streams.appendBatch(turns, dir, docsPerShard = 32, batchId = Some(0L))
    assert(fingerprint() == first, "replay after lost done-marker must converge, not duplicate")

    // and a genuinely new batch still appends
    val more = Transcripts.generate(spark, 10, 4, seed = 12L, partitions = 1)
      .withColumn("conv_id", concat(lit("zz-"), col("conv_id"))).as[Turn]
    Streams.appendBatch(more, dir, docsPerShard = 32, batchId = Some(1L))
    assert(fingerprint()._1 == first._1 + 40)
  }

  test("appendBatch numbering starts from the persisted _hwm marker, not a docs scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-hwm-test").toString
    val a = Transcripts.generate(spark, 10, 2, seed = 21L, partitions = 1)
    Streams.appendBatch(a, dir, docsPerShard = 32)
    // forge the high-water mark far past the real max docIdNum (19): if the
    // next batch scanned the docs table it would start at shard boundary 32;
    // honoring the marker puts it at ((999/32)+1)*32 = 1024
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_hwm"), true)
    out.write("999".getBytes("UTF-8")); out.close()
    val b = Transcripts.generate(spark, 5, 2, seed = 22L, partitions = 1)
      .withColumn("conv_id", concat(lit("zz-"), col("conv_id"))).as[Turn]
    Streams.appendBatch(b, dir, docsPerShard = 32)
    val minB = spark.read.parquet(s"$dir/docs")
      .filter(col("docId").startsWith("zz-"))
      .agg(min("docIdNum")).head().getLong(0)
    assert(minB == 1024L,
      s"batch start must come from the _hwm marker (expected 1024, got $minB)")
  }

  test("dict refresh merges the previous snapshot + batch delta (not a full postings re-agg)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-dictmerge-test").toString
    val a = Transcripts.generate(spark, 10, 2, seed = 31L, partitions = 1)
    Streams.appendBatch(a, dir, docsPerShard = 32)
    // plant a synthetic term into the current snapshot: a full re-aggregation
    // of the postings dir would drop it; the incremental merge must carry it
    Seq(("zz_tampered", 999999L, 7L, 9L)).toDF("term", "termId", "df", "cf")
      .write.mode("append").parquet(s"$dir/dicts/v=1")
    val b = Transcripts.generate(spark, 5, 2, seed = 32L, partitions = 1)
      .withColumn("conv_id", concat(lit("zz-"), col("conv_id"))).as[Turn]
    Streams.appendBatch(b, dir, docsPerShard = 32)
    val row = IndexBuild.load(spark, dir).dict
      .filter(col("term") === "zz_tampered").collect()
    assert(row.length == 1 && row.head.getAs[Long]("df") == 7L,
      "incremental dict merge must build on the previous snapshot")
  }

  test("legacy start sidecar (no dict base) replays via full re-agg, not a vocabulary wipe") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft-stream-legacy-test").toString
    // two batches with DISJOINT vocabularies: a legacy replay of batch 1
    // parsed as dict base 0 would rebuild the dict from batch 1's shards
    // only and lose batch 0's terms — the wipe must be observable
    def mkTurns(prefix: String, words: String) = Seq(
      Turn(s"$prefix-0", 0, "user", words, null, new Timestamp(0L))).toDS()
    Streams.appendBatch(mkTurns("a", "alpha beta gamma"), dir,
      docsPerShard = 32, batchId = Some(0L))
    Streams.appendBatch(mkTurns("b", "delta epsilon"), dir,
      docsPerShard = 32, batchId = Some(1L))
    // replace batch 1's sidecar with the pre-snapshot format (plain start,
    // no ':baseVersion') and lose its done marker, forcing a replay
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val startBody = {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$dir/_batch_1_start"))
      val b = new java.io.ByteArrayOutputStream()
      try { var c = in.read(); while (c >= 0) { b.write(c); c = in.read() } } finally in.close()
      b.toString("UTF-8").trim.split(':')(0)
    }
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_batch_1_start"), true)
    out.write(startBody.getBytes("UTF-8")); out.close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_batch_1_done"), false)
    Streams.appendBatch(mkTurns("b", "delta epsilon"), dir,
      docsPerShard = 32, batchId = Some(1L))
    val terms = IndexBuild.load(spark, dir).dict
      .select("term").collect().map(_.getString(0)).toSet
    assert(terms == Set("alpha", "beta", "gamma", "delta", "epsilon"),
      s"legacy replay must keep batch 0's vocabulary, got $terms")
  }

  test("batch-build repair of a streamed index rebuilds lost shards AND refreshes the dict snapshot") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft-stream-repair-test").toString
    def mkTurns(prefix: String, words: String) = Seq(
      Turn(s"$prefix-0", 0, "user", words, null, new Timestamp(0L))).toDS()
    Streams.appendBatch(mkTurns("a", "alpha beta"), dir, docsPerShard = 32, batchId = Some(0L))
    Streams.appendBatch(mkTurns("b", "gamma delta"), dir, docsPerShard = 32, batchId = Some(1L))
    // lose batch 1's posting shard (docIdNum 32 → shard 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/postings/shard=1"), true))
    // repair via the batch builder over the full input: shard space must
    // extend to max docIdNum (streamed ids are boundary-aligned, sparse),
    // and the dict must advance to a snapshot covering the rebuilt shard
    val all = mkTurns("a", "alpha beta").union(mkTurns("b", "gamma delta"))
    val idx = IndexBuild.build(all, dir, docsPerShard = 32)
    val terms = idx.dict.select("term").collect().map(_.getString(0)).toSet
    assert(terms == Set("alpha", "beta", "gamma", "delta"), s"dict after repair: $terms")
    val postings = idx.termDocs.collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(postings.contains(("b-0#0", "gamma")), "rebuilt shard must hold batch 1's postings")
  }

  test("streamed index under a stemming tag (Snowball) equals the batch build") {
    import spark.implicits._
    val snowball = graft.analysis.Analyzer.Tag.Snowball
    // English inflections and possessives, so stems merge and counts shift
    val words = Array("running", "runs", "runner's", "connections", "connected",
      "Connecting", "generously", "generous", "caresses", "ponies", "Ponies'")
    val local = Transcripts.generate(spark, 20, 4, seed = 61L, partitions = 2).collect().toSeq
      .map { t =>
        val h = t.conv_id.hashCode.abs + 3 * t.turn_idx
        t.copy(text = s"${t.text} ${words(h % words.length)} ${words((h / 3) % words.length)}")
      }
    val (b1, b2) = local.splitAt(local.size / 3)
    val sdir = Files.createTempDirectory("graft-stream-snowball-test").toString
    Streams.appendBatch(b1.toDS(), sdir, tag = snowball, docsPerShard = 16, batchId = Some(0L))
    Streams.appendBatch(b2.toDS(), sdir, tag = snowball, docsPerShard = 16, batchId = Some(1L))
    val streamed = IndexBuild.load(spark, sdir)
    val batch = IndexBuild.build(local.toDS(), Files.createTempDirectory("graft-batch-snowball-test").toString,
      tag = snowball, docsPerShard = 16)

    def docs(i: IndexBuild.Index) =
      i.docs.select("docId", "docLen").collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    def dict(i: IndexBuild.Index) =
      i.dict.select("term", "df", "cf").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def termDocs(i: IndexBuild.Index) =
      i.termDocs.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(docs(streamed) == docs(batch))
    assert(dict(streamed) == dict(batch))
    assert(termDocs(streamed) == termDocs(batch))
    assert(dict(batch).exists(_._1 == "run"), "the fixture must exercise stemming")
  }

  test("distinct stream tokens isolate batch markers (fresh checkpoint restarts at id 0)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-token-test").toString
    val d1 = Transcripts.generate(spark, 8, 2, seed = 41L, partitions = 1)
      .withColumn("conv_id", concat(lit("sa-"), col("conv_id"))).as[Turn]
    val d2 = Transcripts.generate(spark, 6, 2, seed = 42L, partitions = 1)
      .withColumn("conv_id", concat(lit("sb-"), col("conv_id"))).as[Turn]
    // query A commits its batch 0; query B (fresh checkpoint → ids restart
    // at 0) must NOT be short-circuited by A's done marker
    Streams.appendBatch(d1, dir, docsPerShard = 32, batchId = Some(0L), runToken = Some("qa"))
    Streams.appendBatch(d2, dir, docsPerShard = 32, batchId = Some(0L), runToken = Some("qb"))
    val docs = spark.read.parquet(s"$dir/docs")
    assert(docs.filter(col("docId").startsWith("sa-")).count() == 16L)
    assert(docs.filter(col("docId").startsWith("sb-")).count() == 12L,
      "second query's batch 0 was dropped by the first query's stale marker")
  }

  test("committed batches garbage-collect old sidecar markers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-gc-test").toString
    (0 to 3).foreach { i =>
      val d = Transcripts.generate(spark, 4, 2, seed = 50L + i, partitions = 1)
        .withColumn("conv_id", concat(lit(s"g$i-"), col("conv_id"))).as[Turn]
      Streams.appendBatch(d, dir, docsPerShard = 32, batchId = Some(i.toLong),
        runToken = Some("gc"))
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_run_gc_batch_"))
    // after batch 3 commits, only batches ≥ 2 keep sidecars
    assert(markers.forall(m => m.contains("batch_2_") || m.contains("batch_3_")),
      s"stale sidecars not collected: ${markers.mkString(", ")}")
  }

  test("topicMatches percolates a standing query set over the stream (map-only, matches Exact)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.index.{Dictionary, Tokenize}
    import graft.model.Topic
    import graft.query.Scoring
    val turns = Transcripts.generate(spark, 40, 3, seed = 13L, partitions = 2)
    val td = Tokenize.termDocs(turns)
    val dict = Dictionary.termStats(td)
    val stats = Tokenize.corpusStats(Tokenize.docs(turns))
    val topics = Seq(Topic(1, "w0 w3"), Topic(2, "needle0"))
    val model = Scoring.BM25c(0.9, 0.4)

    val stream = MemoryStream[(String, String)]
    val out = Streams.topicMatches(stream.toDF().toDF("id", "text"), "id", "text",
      topics, dict, stats, model, minScore = Double.NegativeInfinity)
    val q = out.writeStream.format("memory").queryName("st_match_test")
      .outputMode("append").start()
    val local = turns.collect().toSeq
    try {
      val (b1, b2) = local.map(t => (s"${t.conv_id}#${t.turn_idx}", t.text)).splitAt(60)
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("st_match_test")
      .collect().map(r => (r.getInt(1), r.getString(0), r.getDouble(2).toFloat))
      .toSet
    // batch reference: the exact path's per-(qid, doc) scores over the same corpus
    val want = graft.query.Exact.search(td, dict, stats, topics, model, k = Int.MaxValue)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getFloat(3))).toSet
    assert(got == want, s"stream matches must equal the batch scored join " +
      s"(got ${got.size}, want ${want.size})")
  }

  test("topicMatches plan is a stateless map — no Exchange, no aggregation") {
    import spark.implicits._
    import graft.index.{Dictionary, Tokenize}
    import graft.model.Topic
    import graft.query.Scoring
    val turns = Transcripts.generate(spark, 10, 2, seed = 17L, partitions = 1)
    val td = Tokenize.termDocs(turns)
    val dict = Dictionary.termStats(td)
    val stats = Tokenize.corpusStats(Tokenize.docs(turns))
    // same transformation over a batch frame exposes the executed plan
    val out = Streams.topicMatches(
      turns.toDF().select(concat(col("conv_id"), lit("#"), col("turn_idx")).as("id"), col("text")),
      "id", "text", Seq(Topic(1, "w0 w1")), dict, stats,
      Scoring.BM25c(0.9, 0.4), minScore = 0.0)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"percolation must not shuffle the stream:\n$plan")
    assert(!plan.contains("Aggregate"),
      s"percolation must not aggregate the stream:\n$plan")
  }

  test("streaming dedup keeps the first-seen content hash across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val out = Streams.dedupByContent(stream.toDF().toDF("id", "text"), "id", "text")
    val q = out.writeStream.format("memory").queryName("dedup_test").outputMode("append").start()
    try {
      stream.addData(Seq((1L, "alpha beta"), (2L, "gamma delta")))
      q.processAllAvailable()
      stream.addData(Seq((3L, "alpha beta"), (4L, "epsilon zeta")))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("dedup_test").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 4L)) // 3 suppressed by batch-1 state
  }

  test("windowed token stats finalize only past the watermark (append mode)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().toDF("sec", "text")
      .withColumn("ts", col("sec").cast("timestamp"))
    val out = Streams.windowedTokenStats(df, "ts", "text", "60 seconds", watermarkOn = Some("10 seconds"))
    val q = out.writeStream.format("memory").queryName("win_test").outputMode("append").start()
    try {
      stream.addData(Seq((10L, "a b c"), (70L, "d e"))) // windows 0 and 60
      q.processAllAvailable()
      // watermark after batch 1 = 70−10 = 60 → window [0,60) finalizes on the
      // NEXT batch; the sentinel advances the watermark past window [60,120)
      stream.addData(Seq((500L, "x")))
      q.processAllAvailable()
      stream.addData(Seq((900L, "y")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("win_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // watermark after the last batch = 900−10 = 890: windows 0, 60, 480
    // are finalized; window [900,960) is still open → absent
    assert(rows.toSeq == Seq((0L, 1L, 3L), (60L, 1L, 2L), (480L, 1L, 1L)))
  }

  test("percolation scales with MATCHING queries, not standing queries (10k topics, inverted)") {
    import spark.implicits._
    import graft.model.Topic
    // 10k standing topics over a 20k-term synthetic dictionary; the incoming
    // turn contains 3 tokens → exactly 3 (query, term) pairs can match. The
    // per-token inverted lookup must therefore invoke the scoring kernel 3
    // times — NOT once per standing query — which is the whole point of the
    // term → [(query, position)] inversion (round-3 VERDICT next-round #7).
    val nTopics = 10000
    val topics = (0 until nTopics).map(i => Topic(i, s"t${2 * i} t${2 * i + 1}"))
    val dict = (0 until 2 * nTopics).map(i => (s"t$i", 5L, 50L)).toDF("term", "df", "cf")
    val stats = graft.model.CorpusStats(numDocs = 1000L, numTokens = 100000L)
    StreamingSpec.scoreCalls.set(0L)
    val out = Streams.topicMatches(
      Seq(("doc1", "t0 t2 t4")).toDF("id", "text"), "id", "text",
      topics, dict, stats, StreamingSpec.CountingBM25,
      minScore = Double.NegativeInfinity)
    val got = out.collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    // tokens t0/t2/t4 are the FIRST term of topics 0, 1, 2 respectively
    assert(got.map(_._2).sorted.toSeq == Seq(0, 1, 2), s"wrong matches: ${got.mkString(",")}")
    val calls = StreamingSpec.scoreCalls.get()
    assert(calls == 3L,
      s"scoring kernel ran $calls times for 3 matching pairs over $nTopics standing " +
        "queries — the standing set is being scanned per document")
    // and each score equals the single-term float-cast BM25 contribution
    val want = graft.query.Scoring.BM25c(0.9, 0.4)
      .score(1.0, 3L, 100.0, 1.0, 5.0, 50.0, 1000.0, 100000.0).toFloat.toDouble
    got.foreach { case (_, _, s) => assert(s == want) }
  }
}

object StreamingSpec {
  /** Kernel-invocation counter for the percolation scaling assertion —
   * local-mode executors share the JVM, so a static counter observes every
   * task-side call. */
  val scoreCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  object CountingBM25 extends graft.query.Scoring.Model {
    val name = "CountingBM25"
    private val inner = graft.query.Scoring.BM25c(0.9, 0.4)
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      scoreCalls.incrementAndGet()
      inner.score(tf, docLen, avgdl, kf, df, cf, n, c)
    }
    def expr(in: graft.query.Scoring.In): org.apache.spark.sql.Column = inner.expr(in)
  }
}

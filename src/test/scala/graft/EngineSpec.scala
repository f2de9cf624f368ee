package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.data.Transcripts
import graft.index.{Dictionary, IndexBuild, Tokenize}
import graft.model.{Topic, Turn}
import graft.query.{BlockMaxWand, Exact, Scoring}
import graft.streaming.Streams

/**
 * End-to-end engine invariants (SURVEY.md §5.2): rank-identity against the
 * reference-semantics oracle, BMW ≡ exact path, text-equality, resume.
 */
class EngineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val NUM_CONVS = 150
  private val TURNS = 6
  private lazy val turns = Transcripts.generate(spark, NUM_CONVS, TURNS, seed = 42L, partitions = 4)
  private lazy val turnsLocal: Seq[Turn] =
    (0L until NUM_CONVS).flatMap(ci => (0 until TURNS).map(ti => Transcripts.turnOf(ci, ti, 42L)))

  private val topics = Seq(
    Topic(1, "w0 w3"),              // hot Zipf terms
    Topic(2, "needle0 needle7"),    // planted rare terms
    Topic(3, "w1 w1 w1"),           // duplicate-term multiplicity
    Topic(4, "qqqmissing"),         // zero-hit → sentinel
    Topic(5, "w0 needle3 w42"),     // mixed hot/rare
    Topic(6, "w10 w100 w500 w1500"))
  private val SENT = "sentinel#0"
  private val K = 50
  private val model = Scoring.BM25c(0.9, 0.4)

  private lazy val indexDir = {
    val dir = Files.createTempDirectory("graft-idx").toString
    IndexBuild.build(turns, dir, docsPerShard = 100) // 900 docs → 9 shards
    dir
  }
  private lazy val index = IndexBuild.load(spark, indexDir)

  test("utf8CmpStatic: UTF-8 binary order, diverging from String.compareTo on supplementary chars") {
    // ADVICE r05: U+E000 (UTF-8 EE 80 80) vs U+10000 (surrogate pair, UTF-8
    // F0 90 80 80) — UTF-16 code units order them one way, UTF-8 bytes the
    // other; the validation must follow DenseIds' UTF-8 binary order
    val e000 = "\uE000"
    val u10000 = new String(Character.toChars(0x10000))
    assert(e000.compareTo(u10000) > 0)                 // Java: E000 above surrogates
    assert(IndexBuild.utf8CmpStatic(e000, u10000) < 0) // UTF-8: below
    assert(IndexBuild.utf8CmpStatic("abc", "abd") < 0)    // ASCII fast path ≡ compareTo
    assert(IndexBuild.utf8CmpStatic("abc", "abc") == 0)
    assert(IndexBuild.utf8CmpStatic("abcd", "abc") > 0)
  }

  test("per-turn text-equality invariant under stable (conv_id, turn_idx) order") {
    val dir = Files.createTempDirectory("graft-turns").toString
    turns.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
      .orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "text")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val expected = turnsLocal.sortBy(t => (t.conv_id, t.turn_idx))
      .map(t => (t.conv_id, t.turn_idx, t.text))
    assert(back.toSeq == expected)
  }

  test("exact path is rank-identical to the in-memory reference oracle") {
    val td = Tokenize.termDocs(turns)
    val dict = Dictionary.termStats(td)
    val stats = Tokenize.corpusStats(Tokenize.docs(turns))
    val got = Exact.search(td, dict, stats, topics, model, K, sentinelDocId = Some(SENT))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val want = Oracle.topk(turnsLocal, topics, model, K, SENT).sortBy(t => (t._1, t._3))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("Block-Max WAND ≡ exact path (docIds and float scores)") {
    val got = BlockMaxWand.search(index, topics, model, K, sentinelDocId = Some(SENT))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val want = Oracle.topk(turnsLocal, topics, model, K, SENT).sortBy(t => (t._1, t._3))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("k beyond the corpus (Int.MaxValue): BMW ≡ exact, every matching doc ranked") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3))).toSet
    val got = rows(BlockMaxWand.search(index, topics, model, Int.MaxValue, sentinelDocId = Some(SENT)))
    assert(got == rows(Exact.search(index.termDocs, index.dict, index.stats, topics, model, Int.MaxValue,
      sentinelDocId = Some(SENT))))
    assert(got.count(_._1 == 1) > K, "the hot-term topic must rank more docs than the default k")
  }

  test("k ≤ 0: BMW ranks nothing, ≡ exact (a sentinel per topic where asked), with no job") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.get(3))).toSet
    val idx = index // built outside the counted jobs
    for (k <- Seq(0, -1); sentinel <- Seq(None, Some(SENT)); rounded <- Seq(None, Some(4))) {
      var got = Set.empty[(Int, String, Int, Any)]
      val jobs = SparkTestSession.jobs {
        got = rows(BlockMaxWand.search(idx, topics, model, k, sentinelDocId = sentinel, roundedDouble = rounded))
      }
      val zero: Any = if (rounded.isEmpty) 0f else 0d
      assert(jobs.isEmpty, s"k=$k")
      assert(got == sentinel.toSet.flatMap((id: String) => topics.map(t => (t.qid, id, 1, zero))), s"k=$k")
      assert(got == rows(Exact.search(idx.termDocs, idx.dict, idx.stats, topics, model, k,
        sentinelDocId = sentinel, roundedDouble = rounded)), s"k=$k sentinel=$sentinel rounded=$rounded")
    }
  }

  test("BMW jobs: shards + kernel on a fresh load, then kernel only") {
    val sc = spark.sparkContext
    val idx = IndexBuild.load(spark, indexDir) // a fresh handle: its resident shards are not built yet
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val kernel = s"bmw kernel: ${topics.size} topics"
    sc.setJobDescription("caller")
    sc.setLocalProperty("graft.test.span", "7")
    try {
      // the search's jobs; collecting its result, or an identity selection, runs none
      def batch() = {
        var result: org.apache.spark.sql.DataFrame = null
        val jobs = SparkTestSession.jobs { result = BlockMaxWand.search(idx, topics, model, K, sentinelDocId = Some(SENT)) }
        assert(SparkTestSession.jobs(result.collect()).isEmpty)
        assert(SparkTestSession.jobs(result.select("qid", "docId", "rank", "score").collect()).isEmpty)
        jobs
      }
      // the first also builds the resident shards: one map stage before the kernel's
      assert(batch() == Seq(("bmw shards", 1), (kernel, 2)))
      assert(batch() == Seq((kernel, 1)))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(sc.getLocalProperty("graft.test.span") == "7")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
    } finally {
      sc.setJobDescription(null)
      sc.setLocalProperty("graft.test.span", null)
      idx.release()
    }
  }

  /** BMW and fielded BMW over turns of `texts` (turn i of conversation
   * `convId(i)`), at `docsPerShard` docs a shard, against their exhaustive
   * twins at each of `ks`, in both score modes: BMW ≡ [[Exact.search]] (with
   * sentinels) and fielded BMW ≡ `Fielded.searchIndexed` over the contents
   * field. Returns the BMW rows at the first k, float scores. */
  private def edgeCase(texts: Seq[String], topics: Seq[Topic], docsPerShard: Int,
                       convId: Int => String = i => f"edge$i%03d", ks: Seq[Int] = Seq(K))
      : Seq[(Int, String, Int, Float)] = {
    import spark.implicits._
    val ts = texts.zipWithIndex.map { case (t, i) =>
      Turn(convId(i), 0, "user", t, null, new java.sql.Timestamp(0L)) }.toDS()
    val dir = Files.createTempDirectory("graft-edge").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.get(3))).toSet
    val idx = IndexBuild.build(ts, s"$dir/plain", docsPerShard = docsPerShard)
    val fidx = graft.index.FieldedIndex.build(
      graft.index.FieldedIndex.fromTurns(ts).filter(col("field") === "contents"), s"$dir/fielded")
    val fb = graft.index.FieldedBlocks.build(fidx, s"$dir/fielded", docsPerShard = docsPerShard, blockSize = 4)
    try {
      for (k <- ks; rounded <- Seq(None, Some(4))) {
        assert(rows(BlockMaxWand.search(idx, topics, model, k, sentinelDocId = Some(SENT), roundedDouble = rounded)) ==
          rows(Exact.search(idx.termDocs, idx.dict, idx.stats, topics, model, k, sentinelDocId = Some(SENT),
            roundedDouble = rounded)), s"k=$k rounded=$rounded")
        assert(rows(graft.query.FieldedBlockMax.search(fb, topics, model, k, rounded = rounded)) ==
          rows(graft.query.Fielded.searchIndexed(fidx, topics, model, k, rounded = rounded)),
          s"k=$k rounded=$rounded")
      }
      BlockMaxWand.search(idx, topics, model, ks.head, sentinelDocId = Some(SENT))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3))).toSeq
    } finally { idx.release(); fb.release() }
  }

  test("an index of empty, null and whitespace-only turns: BMW returns only sentinels, ≡ exact") {
    val texts = Seq("", null, "   ", "\t\n", "", null, " \u00a0 ", "")
    val got = edgeCase(texts, topics, docsPerShard = 2)
    assert(got.sortBy(_._1) == topics.map(t => (t.qid, SENT, 1, 0f)))
  }

  test("accented, CJK and supplementary-plane terms over several shards: BMW ≡ exact") {
    val deseret = new String(Character.toChars(0x10400)) + new String(Character.toChars(0x10401))
    val extB = new String(Character.toChars(0x20000)) + new String(Character.toChars(0x20001))
    val vocab = Seq("café", "naïve", "Zürich", "東京", "日本語", "한국어", deseret, extB,
      "ascii", "straße", "Ωmega")
    val rnd = new scala.util.Random(7L)
    val texts = (0 until 40).map(_ => Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val topics = Seq(Topic(1, "café zürich"), Topic(2, "東京 日本語"), Topic(3, deseret), Topic(4, extB + " ascii"),
      Topic(5, "naïve naïve 한국어"), Topic(6, "STRASSE straße ωmega"), Topic(7, "cafe"))
    val got = edgeCase(texts, topics, docsPerShard = 8) // 40 docs → 5 shards
    assert(got.map(_._1).toSet == Set(1, 2, 3, 4, 5, 6, 7))
    assert(got.exists(r => r._1 == 3 && r._2 != SENT), "the supplementary-plane term must hit")
    assert(got.filter(_._1 == 7) == Seq((7, SENT, 1, 0f)), "an unaccented spelling is another term")
  }

  test("docIds of 2-, 3- and 4-byte UTF-8 characters over 5 shards in 4 partitions: BMW ≡ exact, fielded ≡ indexed") {
    // conversation ids mix 1- to 4-byte characters, so the UTF-8 byte order
    // (the docIdNum order) differs from the UTF-16 one; repeated texts tie
    val marks = Seq("a", "é", "ß", "東", "한", new String(Character.toChars(0x10400)),
      new String(Character.toChars(0x1F600)))
    val texts = (0 until 40).map(i => Seq("w0", "w1", "w2 w2", "w0 w3")(i % 4))
    val topics = Seq(Topic(1, "w0"), Topic(2, "w2 w3"), Topic(3, "qqqmissing"), Topic(4, "w1 w0"))
    def convId(i: Int) = s"${marks(i % marks.size)}${marks((i / 7) % marks.size)}-$i"
    val got = edgeCase(texts, topics, docsPerShard = 8, convId, ks = Seq(3, 100)) // 40 docs → 5 shards
    // topic 1's top score is shared by the 10 docs whose text is "w0"
    assert(got.filter(_._1 == 1).map(_._4).distinct.size == 1, "k = 3 must cut through a tie")
    assert(got.exists(r => r._2.exists(_ > 0x7f)), "a non-ASCII docId must rank")
  }

  test("a null docId (null conversation id) stays null in the BMW result, ≡ exact") {
    import spark.implicits._
    // one null docId: the exact path keys its sums by docId, so two would merge there
    val ts = (0 until 12).map(i => Turn(if (i == 5) null else f"c$i%02d", i % 3, "user",
      Seq("w0 w1", "w1", "w0 w0")(i % 3), null, new java.sql.Timestamp(0L))).toDS()
    val idx = IndexBuild.build(ts, Files.createTempDirectory("graft-null-id").toString, docsPerShard = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.get(3))).toSet
    try {
      for (rounded <- Seq(None, Some(4))) {
        val got = rows(BlockMaxWand.search(idx, topics, model, K, sentinelDocId = Some(SENT), roundedDouble = rounded))
        assert(got == rows(Exact.search(idx.termDocs, idx.dict, idx.stats, topics, model, K,
          sentinelDocId = Some(SENT), roundedDouble = rounded)), s"rounded=$rounded")
        assert(got.exists(_._2 == null), s"rounded=$rounded")
      }
    } finally idx.release()
  }

  test("a searched handle keeps its snapshot across an append; concurrent first searches build once") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
        .sortBy(t => (t._1, t._3)).toSeq
    val sorted = turnsLocal.sortBy(t => s"${t.conv_id}#${t.turn_idx}")
    val (b1, b2) = sorted.splitAt(250)
    val dir = Files.createTempDirectory("graft-idx-snapshot").toString
    val sc = spark.sparkContext
    val start = sc.getPersistentRDDs.keySet.toSet
    Streams.appendBatch(b1.toDS(), dir, docsPerShard = 100, batchId = Some(0L))
    val old = IndexBuild.load(spark, dir)
    val oldStats = old.stats
    assert(oldStats == Tokenize.corpusStats(Tokenize.docs(b1.toDS())))
    val before = rows(BlockMaxWand.search(old, topics, model, K, sentinelDocId = Some(SENT)))
    assert(before == Oracle.topk(b1, topics, model, K, SENT).sortBy(t => (t._1, t._3)))
    Streams.appendBatch(b2.toDS(), dir, docsPerShard = 100, batchId = Some(1L))
    assert(rows(BlockMaxWand.search(old, topics, model, K, sentinelDocId = Some(SENT))) == before)
    assert(old.stats == oldStats)
    assert(IndexBuild.load(spark, dir).stats == Tokenize.corpusStats(Tokenize.docs(turns)))

    // persisted RDDs are weakly held: count new ids, not the map's size
    val persisted = sc.getPersistentRDDs.keySet.toSet
    val fresh = IndexBuild.load(spark, dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val got = try {
      val calls = (1 to 2).map(_ => pool.submit(() =>
        rows(BlockMaxWand.search(fresh, topics, model, K, sentinelDocId = Some(SENT)))))
      calls.map(_.get())
    } finally pool.shutdown()
    assert(sc.getPersistentRDDs.keySet.count(k => !persisted(k)) == 1)
    val exact = rows(Exact.search(fresh.termDocs, fresh.dict, fresh.stats, topics, model, K,
      sentinelDocId = Some(SENT)))
    assert(got.forall(_ == exact))
    assert(exact == Oracle.topk(turnsLocal, topics, model, K, SENT).sortBy(t => (t._1, t._3)))
    fresh.release()
    old.release()
    assert(sc.getPersistentRDDs.keySet.forall(start))
  }

  test("BMW ≡ exact ≡ oracle on a streamed index (two appended batches, dict snapshot v=2)") {
    import spark.implicits._
    // the batches arrive in docId order: across batches, ties break by
    // arrival (Streams.appendBatch), which is then the exact path's docId order
    val (b1, b2) = turnsLocal.sortBy(t => s"${t.conv_id}#${t.turn_idx}").splitAt(250)
    val dir = Files.createTempDirectory("graft-idx-stream").toString
    Streams.appendBatch(b1.toDS(), dir, docsPerShard = 100, batchId = Some(0L))
    Streams.appendBatch(b2.toDS(), dir, docsPerShard = 100, batchId = Some(1L))
    assert(IndexBuild.dictPath(spark, dir) == s"$dir/dicts/v=2")
    val idx = IndexBuild.load(spark, dir)
    // batch 1 holds ids 0–249; batch 2 starts at the next shard boundary
    assert(idx.docs.agg(min("docIdNum"), max("docIdNum")).head().toSeq ==
      Seq(0L, 300L + b2.size - 1))
    val k = 200 // more than the hits of the needle topics
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
        .sortBy(t => (t._1, t._3)).toSeq
    val got = rows(BlockMaxWand.search(idx, topics, model, k, sentinelDocId = Some(SENT)))
    val exact = rows(Exact.search(idx.termDocs, idx.dict, idx.stats, topics, model, k,
      sentinelDocId = Some(SENT)))
    assert(got == exact)
    assert(got == Oracle.topk(turnsLocal, topics, model, k, SENT).sortBy(t => (t._1, t._3)))
    assert(got.count(_._1 == 2) < k, "k must exceed the hits of topic 2")
    assert(got.filter(_._1 == 4) == Seq((4, SENT, 1, 0f)), "topic 4's terms are all unseen")
  }

  test("fresh unsorted builds (plain index, fielded blocks) leave no RDD persisted") {
    val sc = spark.sparkContext
    def leftSince(before: Set[Int]) = {
      val left = sc.getPersistentRDDs.filter(e => !before(e._1))
      assert(left.isEmpty, left.values.map(_.toDebugString).mkString("\n"))
    }
    val before = sc.getPersistentRDDs.keySet.toSet
    val idx = IndexBuild.build(turns, Files.createTempDirectory("graft-idx-unpersist").toString,
      docsPerShard = 100)
    leftSince(before)
    val fdir = Files.createTempDirectory("graft-fidx-unpersist").toString
    val fb = graft.index.FieldedBlocks.build(
      graft.index.FieldedIndex.build(graft.index.FieldedIndex.fromTurns(turns), fdir), fdir)
    leftSince(before)
    // and a searched handle's resident shards go with release()
    graft.query.FieldedBlockMax.search(fb, topics, model, K).collect()
    BlockMaxWand.search(idx, topics, model, K).collect()
    assert(sc.getPersistentRDDs.keySet.count(k => !before(k)) == 2)
    fb.release()
    idx.release()
    leftSince(before)
  }

  test("BMW ≡ exact for a parameter-free model (DirichletLM)") {
    val m = Scoring.DirichletLM()
    val got = BlockMaxWand.search(index, topics, m, K, sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val want = Oracle.topk(turnsLocal, topics, m, K, SENT).sortBy(t => (t._1, t._3))
    assert(got.toSeq == want)
  }

  test("BMW ≡ oracle for every block-max-eligible stock-grid cell (57 models)") {
    val eligible = graft.query.StockLucene.grid.filter(_.ubSafe)
    // 36 DFR (In/Ine/IF x gains x H1/H2/Z/0) + 16 IB + Classic + BM25 + 3 LM
    assert(eligible.size == 57)
    eligible.foreach { m =>
      val got = BlockMaxWand.search(index, topics, m, K, sentinelDocId = Some(SENT))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
        .sortBy(t => (t._1, t._3))
      val want = Oracle.topk(turnsLocal, topics, m, K, SENT).sortBy(t => (t._1, t._3))
      assert(got.toSeq == want, s"BMW diverged from oracle for ${m.name}")
    }
  }

  test("BMW substitutes per-query MATF length (BMW ≡ exact for MATF, multi-term)") {
    // MATF's scalar score() reads the instance queryLength; the exact path
    // reads In.qLen per row — BMW must swap in MATF(Σ mult) per qid or the
    // two paths diverge on every multi-term query.
    val m = Scoring.MATF()
    val got = BlockMaxWand.search(index, topics, m, K, sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val td = Tokenize.termDocs(turns)
    val want = Exact.search(td, Dictionary.termStats(td),
        Tokenize.corpusStats(Tokenize.docs(turns)), topics, m, K,
        sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.toSeq == want.toSeq)
    // and against the independent oracle, per topic with the true |q|
    topics.foreach { t =>
      val qLen = graft.analysis.Analyzer.analyzeQuery(t.query, Analyzer.Tag.NoStem).size
      val o = Oracle.topk(turnsLocal, Seq(t), Scoring.MATF(math.max(qLen, 1)), K, SENT)
        .sortBy(x => (x._1, x._3))
      assert(got.filter(_._1 == t.qid).toSeq == o, s"qid ${t.qid}")
    }
  }

  test("BMW ≡ exact under the Snowball stemming tag (fresh stemmed index)") {
    val tag = Analyzer.Tag.Snowball
    val dir = Files.createTempDirectory("graft-idx-stem").toString
    IndexBuild.build(turns, dir, tag, docsPerShard = 100)
    val idx = IndexBuild.load(spark, dir)
    // stemmed topics: inflected forms must hit the stemmed index
    val stemTopics = topics :+ Topic(7, "needles running") // needle0? no — stems
    val got = BlockMaxWand.search(idx, stemTopics, model, K, tag, sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val td = Tokenize.termDocs(turns, tag)
    val want = Exact.search(td, Dictionary.termStats(td),
        Tokenize.corpusStats(Tokenize.docs(turns, tag)), stemTopics, model, K, tag,
        sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("BMW ≡ exact under the KStem tag (fresh kstem index)") {
    val tag = Analyzer.Tag.KStem
    val dir = Files.createTempDirectory("graft-idx-kstem").toString
    IndexBuild.build(turns, dir, tag, docsPerShard = 100)
    val idx = IndexBuild.load(spark, dir)
    val stemTopics = topics :+ Topic(7, "needles running")
    val got = BlockMaxWand.search(idx, stemTopics, model, K, tag, sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val td = Tokenize.termDocs(turns, tag)
    val want = Exact.search(td, Dictionary.termStats(td),
        Tokenize.corpusStats(Tokenize.docs(turns, tag)), stemTopics, model, K, tag,
        sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("BMW refuses non-monotone models (block bounds would be unsound)") {
    Seq(Scoring.DPH, Scoring.DLH13, Scoring.DFRee, Scoring.PL2c()).foreach { m =>
      assert(!m.ubSafe)
      intercept[IllegalArgumentException] {
        BlockMaxWand.search(index, topics, m, K)
      }
    }
    // the same queries run fine on the exact path
    val td = Tokenize.termDocs(turns)
    val r = Exact.search(td, Dictionary.termStats(td),
      Tokenize.corpusStats(Tokenize.docs(turns)), topics, Scoring.DPH, K)
    assert(r.count() > 0)
  }

  test("decoded blocks reproduce the posting source exactly") {
    val viaBlocks = index.termDocs
      .select("docId", "docLen", "term", "tf")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    val direct = Tokenize.termDocs(turns)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    assert(viaBlocks.toSeq == direct.toSeq)
  }

  test("corpus stats match hand computation") {
    val st = index.stats
    val toks = turnsLocal.map(t => Analyzer.analyze(t.text).size.toLong)
    assert(st.numDocs == turnsLocal.size)
    assert(st.numTokens == toks.sum)
  }

  test("kill-resume: injected failure, restart skips completed shards, identical tables") {
    val dirA = Files.createTempDirectory("graft-resume").toString
    intercept[IndexBuild.InjectedFailure] {
      IndexBuild.build(turns, dirA, docsPerShard = 100, waves = 3, failAfterWave = 0)
    }
    val afterCrash = IndexBuild.completedShards(spark, s"$dirA/postings")
    assert(afterCrash.nonEmpty && afterCrash.size < 9, s"wave 0 of 3 should leave a strict subset, got $afterCrash")

    // resume: completes only the remainder
    IndexBuild.build(turns, dirA, docsPerShard = 100, waves = 3)
    assert(IndexBuild.completedShards(spark, s"$dirA/postings").size == 9)

    def fp(dir: String) = IndexBuild.load(spark, dir).termDocs
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted
    assert(fp(dirA).toSeq == fp(indexDir).toSeq)

    // manifest carries per-shard lineage + metrics
    val manifest = spark.read.parquet(s"$dirA/manifest")
    assert(manifest.select("shard").distinct().count() == 9)
    assert(manifest.columns.toSet ==
      Set("shard", "nBlocks", "nPostings", "nTerms", "sumMaxTf", "wave", "wallMs"))
  }

  test("wave-scoped input pruning: waves read only partitions covering their shards") {
    import spark.implicits._
    // keep-set math, incl. a shard-boundary-straddling partition
    val bounds = Array((0, 0L, 99L), (1, 100L, 199L), (2, 200L, 299L), (3, 300L, 399L))
    assert(IndexBuild.partitionsForShards(bounds, Set(0), 100L) == Set(0))
    assert(IndexBuild.partitionsForShards(bounds, Set(1, 2), 100L) == Set(1, 2))
    val straddle = Array((0, 0L, 149L), (1, 150L, 399L))
    assert(IndexBuild.partitionsForShards(straddle, Set(1), 100L) == Set(0, 1))
    assert(IndexBuild.partitionsForShards(straddle, Set(3), 100L) == Set(1))

    // the pruned-RDD build path really skips partitions: 4 sorted partitions
    // of 100 docs each; pruning to shards {2,3} must touch 2 RDD partitions
    // and reproduce exactly those shards' postings
    val sorted = Transcripts.generate(spark, 400, 1, seed = 9L, partitions = 4)
    val withId = graft.index.DenseIds.assign(
      sorted.toDF().select(
        concat(col("conv_id"), lit("#"), col("turn_idx").cast("string")).as("docId"),
        col("text")),
      "docIdNum", col("docId"))
    val baseRdd = withId.select("docIdNum", "text").as[(Long, String)].rdd
    val pb = withId.groupBy(spark_partition_id().as("pid"))
      .agg(min("docIdNum").as("mn"), max("docIdNum").as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val keep = IndexBuild.partitionsForShards(pb, Set(2, 3), 100L)
    val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(baseRdd, keep.contains)
    assert(pruned.partitions.length == 2,
      s"expected 2 surviving partitions, got ${pruned.partitions.length}")
    val prunedBlocks = graft.index.PostingsBuilder
      .buildSegmentsRdd(spark, pruned, Analyzer.Tag.NoStem, 100L,
        shardFilter = Set(2, 3).contains)
      .collect()
    val fullBlocks = graft.index.PostingsBuilder
      .buildSegments(withId, Analyzer.Tag.NoStem, 100L, shardFilter = Set(2, 3).contains)
      .collect()
    def key(b: graft.model.PostingBlock) = (b.shard, b.term, b.blockNo, b.n, b.minDoc, b.maxDoc)
    assert(prunedBlocks.map(key).sorted.toSeq == fullBlocks.map(key).sorted.toSeq)
  }

  test("zero-shuffle sorted build (inputSorted=true) produces an identical index") {
    val dir = Files.createTempDirectory("graft-sorted").toString
    IndexBuild.build(turns, dir, docsPerShard = 100, inputSorted = true)
    def fp(d: String) = IndexBuild.load(spark, d).termDocs
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(fp(dir) == fp(indexDir))
    // and BMW over the sorted-build index stays rank-identical to the oracle
    val got = BlockMaxWand.search(IndexBuild.load(spark, dir), topics, model, K,
        sentinelDocId = Some(SENT))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(t => (t._1, t._3))
    val want = Oracle.topk(turnsLocal, topics, model, K, SENT).sortBy(t => (t._1, t._3))
    assert(got.toSeq == want)
  }

  test("sorted build survives partitions arriving out of key order (file-scan split packing)") {
    import spark.implicits._
    // a sorted lake table read back through a file scan presents its
    // disjoint sorted ranges in size-packed (arbitrary) task order —
    // simulate by permuting the 4 generator partitions
    val base = turns.rdd
    val perm = Seq(2, 0, 3, 1)
    val shuffledParts = spark.sparkContext.union(
      perm.map(p => org.apache.spark.rdd.PartitionPruningRDD.create(base, _ == p)))
    val permuted = spark.createDataset(shuffledParts)
    val dir = Files.createTempDirectory("graft-permuted").toString
    IndexBuild.build(permuted, dir, docsPerShard = 100, inputSorted = true)
    def fp(d: String) = IndexBuild.load(spark, d).termDocs
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(fp(dir) == fp(indexDir))
    // overlapping ranges must still be rejected: partition 0 twice overlaps
    val overlapping = spark.createDataset(spark.sparkContext.union(
      Seq(0, 0).map(p => org.apache.spark.rdd.PartitionPruningRDD.create(base, _ == p))))
    val dir2 = Files.createTempDirectory("graft-overlap").toString
    val e = intercept[IllegalArgumentException] {
      IndexBuild.build(overlapping, dir2, docsPerShard = 100, inputSorted = true)
    }
    assert(e.getMessage.contains("overlaps"))
  }

  test("hot-term skew: a 90%-df stopword spreads evenly across shards (FIXTURES.md §6)") {
    import spark.implicits._
    // corpus where 'hotstop' appears in 90% of turns
    val skewed = spark.range(0, 600, 1, 4).as[Long].map { i =>
      val base = Transcripts.turnOf(i, 0, 7L)
      if (i % 10 != 0) base.copy(text = base.text + " hotstop hotstop") else base
    }
    val dir = Files.createTempDirectory("graft-skew").toString
    val idx = IndexBuild.build(skewed, dir, docsPerShard = 100) // 6 shards
    val perShard = idx.blocks.filter(col("term") === "hotstop")
      .groupBy("shard").agg(sum("n").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perShard.size == 6, s"stopword postings must appear in every shard: $perShard")
    val counts = perShard.values
    assert(counts.max <= counts.min * 2,
      s"doc-range sharding should balance the hot term, got $perShard")
    // and retrieval over the skewed corpus still matches the oracle
    val skewedLocal = (0L until 600L).map { i =>
      val base = Transcripts.turnOf(i, 0, 7L)
      if (i % 10 != 0) base.copy(text = base.text + " hotstop hotstop") else base
    }
    val t = Seq(Topic(1, "hotstop w0"))
    val got = BlockMaxWand.search(idx, t, model, 20)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3)))
      .sortBy(_._3)
    val want = Oracle.topk(skewedLocal, t, model, 20, SENT).sortBy(_._3)
    assert(got.toSeq == want)
  }

  test("TF histogram (Spark column math) == scalar Scala loop") {
    val bins = 10
    val terms = Seq("w0", "w5", "needle0")
    val td = Tokenize.termDocs(turns).filter(col("term").isin(terms: _*))
    val v = floor(col("tf").cast("double") / col("docLen").cast("double") * bins)
    val got = td.withColumn("bin", when(v === bins, v).otherwise(v + 1).cast("int"))
      .groupBy("term", "bin").count()
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap

    val want = scala.collection.mutable.Map.empty[(String, Int), Long]
    turnsLocal.foreach { t =>
      val toks = Analyzer.analyze(t.text)
      val dl = toks.size.toDouble
      toks.groupBy(identity).foreach { case (w, o) =>
        if (terms.contains(w)) {
          val pct = o.size / dl
          val vv = (pct * bins).toInt
          val bin = if (vv == bins) vv else vv + 1
          want((w, bin)) = want.getOrElse((w, bin), 0L) + 1
        }
      }
    }
    assert(got == want.toMap)
  }
}

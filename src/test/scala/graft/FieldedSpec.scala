package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Topic
import graft.query.{Fielded, Scoring}

/** R3 fielded DisMax + minimum-should-match semantics
 * (`Searcher.java:232-323`). */
class FieldedSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestSession.spark

  test("minimumShouldMatch rule") {
    assert(Fielded.minimumShouldMatch(1) == 1)
    assert(Fielded.minimumShouldMatch(2) == 2)
    assert(Fielded.minimumShouldMatch(3) == 2)
    assert(Fielded.minimumShouldMatch(4) == 3)
    assert(Fielded.minimumShouldMatch(5) == 3)
    assert(Fielded.minimumShouldMatch(8) == 6)
  }

  test("title boost dominates contents; msm filters partial matches") {
    import spark.implicits._
    // fielded postings: (docId, field, term, tf, docLen)
    val fd = Seq(
      // docA: 'apple' in title, 'pie' in contents → matches both terms
      ("docA", "title", "apple", 1L, 2L),
      ("docA", "contents", "pie", 1L, 10L),
      // docB: both terms in contents only
      ("docB", "contents", "apple", 1L, 10L),
      ("docB", "contents", "pie", 1L, 10L),
      // docC: only 'apple' → fails msm(2)=2
      ("docC", "title", "apple", 1L, 2L),
      // background docs so idf is meaningful and positive in BOTH fields
      ("docD", "contents", "other", 3L, 10L),
      ("docD", "title", "misc", 1L, 2L),
      ("docE", "contents", "other", 2L, 10L),
      ("docE", "title", "misc", 1L, 2L),
      ("docF", "title", "noise", 1L, 2L),
      ("docG", "title", "noise", 1L, 2L))
      .toDF("docId", "field", "term", "tf", "docLen")
    val topics = Seq(Topic(1, "apple pie"))
    val got = Fielded.search(fd, topics, Scoring.BM25c(0.9, 0.4), k = 10)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getInt(2)))
    val docs = got.map(_._1).toSeq
    assert(docs.toSet == Set("docA", "docB"), s"msm should drop docC: $docs")
    assert(docs.head == "docA", "title-boosted match should rank first")
  }

  test("plan shape: broadcast dict side is query-term-bounded (semi-join before agg)") {
    import spark.implicits._
    val fd = Seq(
      ("docA", "title", "apple", 1L, 2L),
      ("docA", "contents", "pie", 1L, 10L),
      ("docB", "contents", "apple", 1L, 10L))
      .toDF("docId", "field", "term", "tf", "docLen")
    val df = Fielded.search(fd, Seq(Topic(1, "apple pie")), Scoring.BM25c(0.9, 0.4), 10)
    val plan = df.queryExecution.executedPlan.toString
    // the per-(field,term) dictionary aggregate must be fed by a semi-join
    // against the query terms, so the later broadcast of the dict is bounded
    // by |query terms| × |fields|, not the corpus vocabulary. The terms are
    // plan literals, so the semi-join is a `term IN (query terms)` filter,
    // which the optimizer folds into a local source's rows: hence the
    // analyzed plan
    val analyzed = df.queryExecution.analyzed
    val dictAggs = analyzed.collect {
      case a: Aggregate if a.groupingExpressions.flatMap(_.references.toSeq.map(_.name)) == Seq("field", "term") => a
    }
    val semiJoined = dictAggs.nonEmpty && dictAggs.forall(_.child.exists {
      case Filter(cond, _) => cond.exists {
        case In(a: AttributeReference, list) => a.name == "term" &&
          list.map(_.eval().toString).toSet == Set("apple", "pie")
        case _ => false
      }
      case _ => false
    })
    assert(semiJoined, s"fieldDict must be semi-joined to query terms before aggregation:\n$analyzed")
    assert(!plan.toLowerCase.contains("udf"), s"no UDFs expected in the fielded plan:\n$plan")
  }

  test("executed plan: the (field, term) aggregate over a parquet source reads only query-term rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fielded-plan").resolve("fd").toString
    Seq(
      ("docA", "title", "apple", 1L, 2L),
      ("docA", "contents", "pie", 1L, 10L),
      ("docB", "contents", "apple", 1L, 10L),
      ("docB", "contents", "other", 2L, 10L),
      ("docC", "title", "noise", 1L, 2L))
      .toDF("docId", "field", "term", "tf", "docLen").write.parquet(dir)
    val df = Fielded.search(spark.read.parquet(dir), Seq(Topic(1, "apple pie")),
      Scoring.BM25c(0.9, 0.4), 10)
    df.collect()
    val plan = df.queryExecution.executedPlan
    def termIn(e: Expression): Boolean = e.exists {
      case In(a: AttributeReference, _) => a.name == "term"
      case InSet(a: AttributeReference, _) => a.name == "term"
      case _ => false
    }
    val dictAggs = collect(plan) {
      case a: HashAggregateExec
          if a.groupingExpressions.map(_.references.head.name) == Seq("field", "term") => a
    }
    assert(dictAggs.nonEmpty, s"no (field, term) aggregate in the executed plan:\n$plan")
    // the partial aggregate reads its rows through the query-term filter,
    // which is also pushed into the parquet scan
    val filtered = dictAggs.exists(a => collect(a) {
      case f: FilterExec if termIn(f.condition) => f
    }.nonEmpty && collect(a) {
      case s: FileSourceScanExec if s.dataFilters.exists(termIn) => s
    }.nonEmpty)
    assert(filtered, s"the (field, term) aggregate must read through a term IN filter:\n$plan")
  }

  test("transcripts' natural fields (role / tool / contents) retrieve as true fields") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val turns = graft.data.Transcripts.generate(spark, 30, 6, seed = 3L, partitions = 2)
    val base = turns.toDF()
      .withColumn("docId", graft.data.Transcripts.docIdCol)
    val contents = base
      .select(col("docId"), lit("contents").as("field"),
        size(split(col("text"), " ")).cast("long").as("docLen"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy("docId", "field", "term", "docLen").agg(count(lit(1)).as("tf"))
      .select("docId", "field", "term", "docLen", "tf")
    val meta = base.select(col("docId"), lit("role").as("field"),
        col("role").as("term"), lit(1L).as("docLen"), lit(1L).as("tf"))
      .unionByName(base.filter(col("tool").isNotNull)
        .select(col("docId"), lit("tool").as("field"),
          col("tool").as("term"), lit(1L).as("docLen"), lit(1L).as("tf")))
    val fielded = contents.unionByName(meta)

    // "bash" only exists in the tool field; role 'tool' turns carry it
    val got = Fielded.search(fielded, Seq(Topic(1, "bash w0")),
        Scoring.BM25c(0.9, 0.4), k = 20,
        boosts = Map("role" -> 0.9, "tool" -> 0.7, "contents" -> 0.3))
      .collect().map(_.getString(1))
    assert(got.nonEmpty, "tool-field term + content term must retrieve")
    // every hit matched BOTH terms (msm(2) = 2): its tool is bash AND its
    // text contains w0 — verify against the raw turns
    val turnsById = turns.collect().map(t => s"${t.conv_id}#${t.turn_idx}" -> t).toMap
    got.foreach { id =>
      val t = turnsById(id)
      assert(t.tool == "bash", s"$id matched without tool=bash")
      assert(t.text.split(" ").contains("w0"), s"$id matched without w0 in text")
    }
  }

  test("searchIndexed ≡ search (same scores/ranks) on a prebuilt fielded index") {
    import spark.implicits._
    val fd = Seq(
      ("docA", "title", "apple", 1L, 2L),
      ("docA", "contents", "pie", 1L, 10L),
      ("docB", "contents", "apple", 1L, 10L),
      ("docB", "contents", "pie", 1L, 10L),
      ("docC", "title", "apple", 1L, 2L),
      ("docD", "contents", "other", 3L, 10L),
      ("docD", "title", "misc", 1L, 2L),
      ("docE", "contents", "other", 2L, 10L),
      ("docE", "title", "misc", 1L, 2L))
      .toDF("docId", "field", "term", "tf", "docLen")
    val dir = java.nio.file.Files.createTempDirectory("graft-fidx-test").toString
    val idx = graft.index.FieldedIndex.build(fd, dir)
    val topics = Seq(Topic(1, "apple pie"), Topic(2, "other"))
    val raw = Fielded.search(fd, topics, Scoring.BM25c(0.9, 0.4), 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3))).toSet
    val indexed = Fielded.searchIndexed(idx, topics, Scoring.BM25c(0.9, 0.4), 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3))).toSet
    assert(indexed == raw, s"indexed path diverged:\n  raw=$raw\n  idx=$indexed")
    // and a reload round-trips
    val reloaded = Fielded.searchIndexed(graft.index.FieldedIndex.load(spark, dir),
        topics, Scoring.BM25c(0.9, 0.4), 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getFloat(3))).toSet
    assert(reloaded == raw)
  }

  test("searchIndexed plan: term-pruned scans, NO corpus aggregate (round-3 VERDICT #1)") {
    import spark.implicits._
    val fd = Seq(
      ("docA", "title", "apple", 1L, 2L),
      ("docA", "contents", "pie", 1L, 10L),
      ("docB", "contents", "apple", 1L, 10L),
      ("docD", "contents", "other", 3L, 10L))
      .toDF("docId", "field", "term", "tf", "docLen")
    val dir = java.nio.file.Files.createTempDirectory("graft-fidx-plan").toString
    val idx = graft.index.FieldedIndex.build(fd, dir)
    val df = Fielded.searchIndexed(idx, Seq(Topic(1, "apple pie")),
      Scoring.BM25c(0.9, 0.4), 10)
    val plan = df.queryExecution.executedPlan.toString
    // every file scan must carry the query-term IN predicate pushed to
    // parquet — the postings AND dict reads are pruned, never full scans
    val scanLines = plan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scanLines.size == 3, s"expected postings+dict+stats scans:\n$plan")
    val pruned = scanLines.filter(s => s.contains("/postings") || s.contains("/dict"))
    assert(pruned.size == 2 && pruned.forall(_.contains("In(term")),
      s"postings/dict scans must push the term IN filter:\n${pruned.mkString("\n\n")}")
    // the only aggregates allowed are the per-(qid,doc,term) DisMax and the
    // per-(qid,doc) roll-up — both AFTER the pruned join, keyed by qid.
    // A corpus-side stats/dict aggregate (groupBy field / field,term over
    // the raw source) would show up as an extra aggregate without qid keys.
    val aggLines = plan.linesIterator.filter(_.contains("Aggregate(keys=")).toSeq
    assert(aggLines.nonEmpty && aggLines.forall(_.contains("qid")),
      s"found a non-query-scoped (corpus) aggregate in the query plan:\n$plan")
  }

  test("FieldedIndex.fromTurns: natural transcript fields (contents/role/tool) through build + searchIndexed") {
    import org.apache.spark.sql.functions._
    val turns = graft.data.Transcripts.generate(spark, 30, 6, seed = 3L, partitions = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-fidx-turns").toString
    val idx = graft.index.FieldedIndex.build(
      graft.index.FieldedIndex.fromTurns(turns), dir)
    // field composition: contents carries analyzed doclens; role/tool are
    // one-token fields with docLen 1
    val stats = idx.stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats.keySet == Set("contents", "role", "tool"))
    val got = Fielded.searchIndexed(idx, Seq(Topic(1, "bash w0")),
        Scoring.BM25c(0.9, 0.4), k = 20,
        boosts = Map("role" -> 0.9, "tool" -> 0.7, "contents" -> 0.3))
      .collect().map(_.getString(1))
    assert(got.nonEmpty, "tool-field term + content term must retrieve")
    // every hit matched BOTH terms (msm(2) = 2): tool=bash AND text has w0.
    // NOTE fromTurns analyzes contents (Analyzer), so verify against the
    // analyzed token list, not a raw split
    val turnsById = turns.collect().map(t => s"${t.conv_id}#${t.turn_idx}" -> t).toMap
    got.foreach { id =>
      val t = turnsById(id)
      assert(t.tool == "bash", s"$id matched without tool=bash")
      assert(graft.analysis.Analyzer.analyze(t.text, graft.analysis.Analyzer.Tag.NoStem)
        .contains("w0"), s"$id matched without w0 in analyzed text")
    }
  }

  test("FieldedIndex.build resumes: committed stages are skipped; a missing stage is repaired") {
    import spark.implicits._
    val fd = Seq(
      ("docA", "title", "apple", 1L, 2L),
      ("docB", "contents", "apple", 2L, 10L),
      ("docB", "contents", "pie", 1L, 10L))
      .toDF("docId", "field", "term", "tf", "docLen")
    val dir = java.nio.file.Files.createTempDirectory("graft-fidx-resume").toString
    graft.index.FieldedIndex.build(fd, dir)
    // simulate a crash after postings but before dict/stats committed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/dict"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/stats"), true)
    // record the postings files; the resume must NOT rewrite them
    def postingFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/postings"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val before = postingFiles
    val idx = graft.index.FieldedIndex.build(fd, dir)
    assert(postingFiles == before, "resume must skip the committed postings stage")
    val dict = idx.dict.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(dict == Set(("title", "apple", 1L, 1L), ("contents", "apple", 1L, 2L),
      ("contents", "pie", 1L, 1L)))
    val stats = idx.stats.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats == Set(("title", 1L, 1L), ("contents", 1L, 3L)))
  }

  test("fieldStatsOf plan has NO Expand node (two-stage distinct-count rewrite pinned)") {
    import spark.implicits._
    val fd = Seq(
      ("docA", "title", "apple", 1L, 2L),
      ("docB", "contents", "apple", 2L, 10L))
      .toDF("docId", "field", "term", "tf", "docLen")
    val stats = graft.index.FieldedIndex.fieldStatsOf(fd)
    val plan = stats.queryExecution.executedPlan.toString
    // agg(countDistinct, sum) would plan an Expand that doubles the posting
    // rows through the shuffle — the two-stage rewrite must keep it out
    assert(!plan.contains("Expand"), s"Expand crept back into fieldStatsOf:\n$plan")
    val got = stats.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("title", 1L, 1L), ("contents", 1L, 2L)))
  }

  // ---- round-5: early-terminating fielded retrieval (FieldedBlockMax) ----

  test("FieldedBlockMax ≡ searchIndexed on the hand fixture (float + rounded modes)") {
    import spark.implicits._
    val fd = Seq(
      ("docA", "title", "apple", 1L, 2L),
      ("docA", "contents", "pie", 1L, 10L),
      ("docB", "contents", "apple", 1L, 10L),
      ("docB", "contents", "pie", 1L, 10L),
      ("docC", "title", "apple", 1L, 2L),
      ("docD", "contents", "other", 3L, 10L),
      ("docD", "title", "misc", 1L, 2L),
      ("docE", "contents", "other", 2L, 10L),
      ("docE", "title", "misc", 1L, 2L))
      .toDF("docId", "field", "term", "tf", "docLen")
    val dir = java.nio.file.Files.createTempDirectory("graft-fbmw-fix").toString
    val idx = graft.index.FieldedIndex.build(fd, dir)
    val fb = graft.index.FieldedBlocks.build(idx, dir, docsPerShard = 2, blockSize = 2)
    val topics = Seq(Topic(1, "apple pie"), Topic(2, "other"), Topic(3, "zzznope"))
    for (rounded <- Seq(None, Some(4))) {
      val want = Fielded.searchIndexed(idx, topics, Scoring.BM25c(0.9, 0.4), 10,
          rounded = rounded)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.get(3))).toSet
      val got = graft.query.FieldedBlockMax.search(fb, topics,
          Scoring.BM25c(0.9, 0.4), 10, rounded = rounded)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.get(3))).toSet
      assert(got == want, s"rounded=$rounded diverged:\n  want=$want\n  got=$got")
    }
    // and a reload round-trips
    val re = graft.query.FieldedBlockMax.search(
        graft.index.FieldedBlocks.load(spark, dir), topics,
        Scoring.BM25c(0.9, 0.4), 10, rounded = Some(4))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.get(3))).toSet
    assert(re.nonEmpty)
  }

  // generated transcripts, tiny shards + tiny blocks: exercises
  // shard-boundary cuts, multi-block runs, and the cross-shard heap merge
  private lazy val (genIdx, genBlocks) = {
    val turns = graft.data.Transcripts.generate(spark, 60, 6, seed = 11L, partitions = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-fbmw-gen").toString
    val idx = graft.index.FieldedIndex.build(
      graft.index.FieldedIndex.fromTurns(turns), dir)
    (idx, graft.index.FieldedBlocks.build(idx, dir, docsPerShard = 16, blockSize = 4))
  }
  private val genTopics = Seq(
    Topic(1, "bash w0"), Topic(2, "w1 w2 w3"), Topic(3, "assistant w0 w1 w2 w4"),
    Topic(4, "w5"), Topic(5, "w0 w0 w0"))
  // 'contents' boosted, role boosted, tool NOT in the boost map (scores 0
  // but still counts for msm — the silent-field semantics of Fielded.score)
  private val genBoosts = Map("role" -> 0.9, "contents" -> 0.3)

  test("FieldedBlockMax ≡ searchIndexed on generated transcripts (k cuts, multi-shard, zero-boost field)") {
    for (k <- Seq(3, 10, 50)) {
      val want = Fielded.searchIndexed(genIdx, genTopics, Scoring.BM25c(0.9, 0.4), k,
          boosts = genBoosts, rounded = Some(4))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
      val got = graft.query.FieldedBlockMax.search(genBlocks, genTopics,
          Scoring.BM25c(0.9, 0.4), k, boosts = genBoosts, rounded = Some(4))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
      assert(got == want,
        s"k=$k diverged:\n  missing=${want -- got}\n  extra=${got -- want}")
    }
  }

  test("FieldedBlockMax ≡ searchIndexed with k beyond the corpus (Int.MaxValue), float + rounded") {
    for (rounded <- Seq(None, Some(4))) {
      val want = Fielded.searchIndexed(genIdx, genTopics, Scoring.BM25c(0.9, 0.4), Int.MaxValue,
          boosts = genBoosts, rounded = rounded)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.get(3))).toSet
      val got = graft.query.FieldedBlockMax.search(genBlocks, genTopics,
          Scoring.BM25c(0.9, 0.4), Int.MaxValue, boosts = genBoosts, rounded = rounded)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.get(3))).toSet
      assert(want.count(_._1 == 4) > 50, "a hot-term topic must rank more docs than the k cuts above")
      assert(got == want, s"rounded=$rounded diverged:\n  missing=${want -- got}\n  extra=${got -- want}")
    }
  }

  test("FieldedBlockMax ≡ searchIndexed with docIds of 2-, 3- and 4-byte UTF-8 characters (k cuts, k beyond hits)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a prefix per turn: UTF-8 byte order (the docIdNum order) ≠ UTF-16 order
    val marks = Seq("é", "東", new String(Character.toChars(0x10400)), "z")
    val turns = graft.data.Transcripts.generate(spark, 30, 6, seed = 13L, partitions = 3).toDF()
      .withColumn("conv_id", concat(element_at(array(marks.map(lit): _*), (col("turn_idx") % 4 + 1).cast("int")),
        col("conv_id")))
      .as[graft.model.Turn]
    val dir = java.nio.file.Files.createTempDirectory("graft-fbmw-utf8").toString
    val idx = graft.index.FieldedIndex.build(graft.index.FieldedIndex.fromTurns(turns), dir)
    // 180 docs → 12 shards in 4 resident partitions: the driver merges byte
    // ranges from several tasks
    val fb = graft.index.FieldedBlocks.build(idx, dir, docsPerShard = 16, blockSize = 4)
    try {
      for (k <- Seq(3, 1000); rounded <- Seq(None, Some(4))) {
        val want = Fielded.searchIndexed(idx, genTopics, Scoring.BM25c(0.9, 0.4), k,
            boosts = genBoosts, rounded = rounded)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.get(3))).toSet
        val got = graft.query.FieldedBlockMax.search(fb, genTopics, Scoring.BM25c(0.9, 0.4), k,
            boosts = genBoosts, rounded = rounded)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.get(3))).toSet
        if (k == 1000) assert(marks.forall(m => got.exists(_._2.startsWith(m))), s"rounded=$rounded")
        assert(got == want, s"k=$k rounded=$rounded diverged:\n  missing=${want -- got}\n  extra=${got -- want}")
      }
    } finally fb.release()
  }

  test("k ≤ 0: FieldedBlockMax ranks nothing, ≡ searchIndexed, with no job") {
    val blocks = genBlocks // built outside the counted jobs
    for (k <- Seq(0, -1); rounded <- Seq(None, Some(4))) {
      var got = Array.empty[org.apache.spark.sql.Row]
      val jobs = SparkTestSession.jobs {
        got = graft.query.FieldedBlockMax.search(blocks, genTopics, Scoring.BM25c(0.9, 0.4), k,
          boosts = genBoosts, rounded = rounded).collect()
      }
      assert(jobs.isEmpty, s"k=$k")
      assert(got.isEmpty, s"k=$k")
      assert(Fielded.searchIndexed(genIdx, genTopics, Scoring.BM25c(0.9, 0.4), k,
        boosts = genBoosts, rounded = rounded).collect().isEmpty, s"k=$k rounded=$rounded")
    }
  }

  test("FieldedBlockMax jobs: shards + kernel on a fresh load, then kernel only") {
    val sc = spark.sparkContext
    val fb = genBlocks.copy() // a fresh handle: its resident shards are not built yet
    assert(fb.blocks.select("shard").distinct().count() > 1, "the fixture must span several shards")
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val kernel = s"fielded bmw kernel: ${genTopics.size} topics"
    sc.setJobDescription("caller")
    sc.setLocalProperty("graft.test.span", "7")
    try {
      // the search's jobs; collecting its result, or an identity selection, runs none
      def batch() = {
        var result: org.apache.spark.sql.DataFrame = null
        val jobs = SparkTestSession.jobs {
          result = graft.query.FieldedBlockMax.search(fb, genTopics, Scoring.BM25c(0.9, 0.4), 10, boosts = genBoosts)
        }
        assert(SparkTestSession.jobs(result.collect()).isEmpty)
        assert(SparkTestSession.jobs(result.select("qid", "docId", "rank", "score").collect()).isEmpty)
        jobs
      }
      // the first also builds the resident shards: one map stage before the kernel's
      assert(batch() == Seq(("fielded bmw shards", 1), (kernel, 2)))
      assert(batch() == Seq((kernel, 1)))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(sc.getLocalProperty("graft.test.span") == "7")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
    } finally {
      sc.setJobDescription(null)
      sc.setLocalProperty("graft.test.span", null)
      fb.release()
    }
  }

  test("FieldedBlocks: blocks respect shard boundaries and decode round-trips") {
    import spark.implicits._
    val fd = (0 until 40).flatMap { i =>
      Seq((f"doc$i%03d", "contents", "alpha", (i % 3 + 1).toLong, 10L),
          (f"doc$i%03d", "title", if (i % 2 == 0) "alpha" else "beta", 1L, 2L))
    }.toDF("docId", "field", "term", "tf", "docLen")
    val dir = java.nio.file.Files.createTempDirectory("graft-fbmw-shard").toString
    val idx = graft.index.FieldedIndex.build(fd, dir)
    val fb = graft.index.FieldedBlocks.build(idx, dir, docsPerShard = 8, blockSize = 4)
    val blocks = fb.blocks.collect()
    blocks.foreach { b =>
      assert(b.minDoc / 8 == b.maxDoc / 8,
        s"block for (${b.field},${b.term}) straddles shards: ${b.minDoc}..${b.maxDoc}")
      assert(b.shard == (b.minDoc / 8).toInt)
      assert(b.n <= 4)
      val docs = graft.index.Codec.decodeDeltas(b.docBytes, b.n)
      assert(docs.toSeq == docs.sorted.toSeq && docs.head == b.minDoc && docs.last == b.maxDoc)
    }
    // decode ∪ blocks == the raw posting rows (via docIdNum map)
    val decoded = blocks.flatMap { b =>
      val d = graft.index.Codec.decodeDeltas(b.docBytes, b.n)
      val t = graft.index.Codec.decodeTfs(b.tfBytes, b.n)
      Iterator.tabulate(b.n)(i => (b.field, b.term, d(i), t(i)))
    }.toSet
    val fdocs = fb.fdocs.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = fd.collect().map(r =>
      (r.getString(1), r.getString(2), fdocs(r.getString(0)), r.getLong(3))).toSet
    assert(decoded == want)
  }

  test("single-term query: msm(1)=1 keeps single-field matches") {
    import spark.implicits._
    val fd = Seq(("d1", "contents", "apple", 1L, 5L), ("d2", "contents", "zز", 1L, 5L))
      .toDF("docId", "field", "term", "tf", "docLen")
    val got = Fielded.search(fd, Seq(Topic(1, "apple")), Scoring.BM25c(0.9, 0.4), 10)
      .collect()
    assert(got.length == 1 && got.head.getString(1) == "d1")
  }

  test("natural fielded source: a null-text document keeps its source/lang postings only") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-null-text").toString
    Seq((1L, "alpha beta alpha", "en", "web"), (2L, null, "de", "news"))
      .toDF("doc_id", "text", "lang", "source").write.parquet(s"$dir/documents.parquet")
    val got = graft.driver.DriverQueries.fieldedNaturalSource(spark, dir)
      .as[(String, String, String, Long, Long)].collect().toSet
    assert(got == Set(
      ("doc-1#0", "contents", "alpha", 2L, 3L), ("doc-1#0", "contents", "beta", 1L, 3L),
      ("doc-1#0", "source", "web", 1L, 1L), ("doc-1#0", "lang", "en", 1L, 1L),
      ("doc-2#0", "source", "news", 1L, 1L), ("doc-2#0", "lang", "de", 1L, 1L)))
  }
}

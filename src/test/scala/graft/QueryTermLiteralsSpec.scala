package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.{Dictionary, FieldedIndex, IndexBuild, Tokenize}
import graft.ltr.DocFeatures
import graft.model.{Topic, Turn}
import graft.query.{Exact, Fielded, Scoring}
import graft.stats.Qpp

/**
 * The query terms enter plans as literals ([[Exact.QueryTermLiterals]]): every
 * function that matches a term-keyed source against them ≡ a brute-force
 * Scala computation over the same analyzed corpus, on a few topics (≤ 10
 * distinct terms: Spark keeps `In`) and on ≈ 300 (hashed `InSet`). The
 * topics hold a term shared by two topics, a duplicated term, unseen terms,
 * non-ASCII and apostrophe terms and a topic without hits; the corpus holds
 * null-text and empty-text docs and a doc that matches no topic.
 */
class QueryTermLiteralsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestSession.spark
  private val tag = Analyzer.Tag.NoStem
  private val model = Scoring.BM25c(0.9, 0.4)

  private val vocab: IndexedSeq[String] =
    (0 until 30).map(i => s"w$i") ++ Seq("café", "naïve", "don't", "o'brien", "𐐀bc", "日本")
  private val turnsLocal: Seq[Turn] = {
    val rng = new scala.util.Random(7)
    val texts = (0 until 90).map { _ =>
      // a Zipf-like draw, so some terms are in most docs and some in few
      Seq.fill(rng.nextInt(12))(vocab((vocab.size * math.pow(rng.nextDouble(), 2.5)).toInt)).mkString(" ")
    } ++ Seq(null, "", "filler nomatch filler", "Don't CAFÉ w0 w0 w0")
    texts.zipWithIndex.map { case (t, i) => Turn(s"c${i / 6}", i % 6, "user", t, null, null) }
  }

  private val few = Seq(
    Topic(1, "w0 w1"),
    Topic(2, "w1 w1 w2"),            // w1 shared with topic 1, mult 2 here
    Topic(3, "w3 unseenterm"),
    Topic(4, "café don't"),
    Topic(5, "𐐀BC naïve"), // a supplementary-plane letter, lowercased by the analyzer
    Topic(6, "neverseen"))           // no hits
  private val many: Seq[Topic] = {
    val rng = new scala.util.Random(11)
    val words = vocab ++ (0 until 6).map(i => s"unseen$i")
    few ++ (7 to 306).map { qid =>
      val ts = Seq.fill(1 + rng.nextInt(4))(words(rng.nextInt(words.size)))
      Topic(qid, (if (rng.nextInt(5) == 0) ts :+ ts.head else ts).mkString(" "))
    }
  }

  // ---- the brute-force side ----
  private val docTf: Map[String, Map[String, Long]] = turnsLocal.map { t =>
    s"${t.conv_id}#${t.turn_idx}" ->
      Analyzer.analyze(t.text, tag).groupBy(identity).map { case (w, o) => w -> o.size.toLong }
  }.toMap
  private val dfCf: Map[String, (Long, Long)] =
    docTf.values.flatten.groupBy(_._1).map { case (w, o) => w -> (o.size.toLong, o.map(_._2).sum) }

  /** (qid, mult by distinct term, qLen) of each topic. */
  private def analyzed(topics: Seq[Topic]): Seq[(Int, Map[String, Int], Int)] =
    topics.map { t =>
      val terms = Analyzer.analyzeQuery(t.query, tag)
      (t.qid, terms.groupBy(identity).map { case (w, o) => w -> o.size }, terms.size)
    }

  // ---- the engine side ----
  private lazy val turns = { import spark.implicits._; turnsLocal.toDS() }
  private lazy val termDocs = Tokenize.termDocs(turns, tag)
  private lazy val dict = Dictionary.termStats(termDocs)
  private lazy val stats = Tokenize.corpusStats(Tokenize.docs(turns, tag))

  private def tuples(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("the analyzed topic sets hold what the cases need") {
    val fewTerms = analyzed(few).flatMap(_._2.keys).toSet
    assert(fewTerms.size <= 10 && analyzed(many).flatMap(_._2.keys).toSet.size > 10)
    assert(fewTerms("don't") && fewTerms("café") && fewTerms("𐐨bc"), fewTerms)
    assert(analyzed(few).exists(_._2.values.exists(_ > 1)) && !dfCf.contains("unseenterm"))
    assert(docTf.exists(_._2.isEmpty) && docTf.contains("c15#2") && docTf("c15#2").keySet == Set("filler", "nomatch"))
    // Spark hashes the larger set (InSet) and compares the smaller one by one (In)
    def predicate(topics: Seq[Topic]) = Exact.qtermStats(topics, dict, tag).queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case i: In => "In"; case i: InSet => "InSet" }))
    assert(predicate(few).distinct == Seq("In") && predicate(many).distinct == Seq("InSet"))
  }

  for ((name, topics) <- Seq("few" -> few, "many" -> many)) {

    test(s"qtermStats ≡ brute force ($name topics)") {
      val want = analyzed(topics).flatMap { case (qid, mult, qLen) =>
        mult.collect { case (w, m) if dfCf.contains(w) =>
          Seq[Any](qid, w, m, mult.size, qLen, dfCf(w)._1, dfCf(w)._2) }
      }.toSet
      assert(want.nonEmpty && tuples(Exact.qtermStats(topics, dict, tag)) == want)
    }

    test(s"countMatches OR and AND ≡ brute force ($name topics)") {
      for (conjunctive <- Seq(false, true)) {
        val want = analyzed(topics).flatMap { case (qid, mult, _) =>
          val n = docTf.values.count { tfs =>
            val hit = mult.keys.count(tfs.contains)
            if (conjunctive) hit == mult.size else hit > 0
          }
          if (n > 0) Some(Seq[Any](qid, n.toLong)) else None
        }.toSet
        assert(want.nonEmpty && tuples(Exact.countMatches(termDocs, topics, tag, conjunctive)) == want,
          s"conjunctive=$conjunctive")
      }
    }

    test(s"Qpp.perTerm ≡ brute force ($name topics)") {
      val (n, c) = (stats.numDocs.toDouble, stats.numTokens.toDouble)
      val want = analyzed(topics).flatMap { case (qid, mult, _) =>
        mult.collect { case (w, m) if dfCf.contains(w) =>
          val (df, cf) = dfCf(w)
          (qid, w, m) -> Seq(math.log(n / df), math.log(c / cf), (1 + math.log(cf.toDouble)) * math.log(n / df))
        }
      }.toMap
      val got = Qpp.perTerm(topics, dict, stats, tag).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2)) -> Seq(r.getDouble(3), r.getDouble(4), r.getDouble(5)))
        .toMap
      assert(want.nonEmpty && got.keySet == want.keySet)
      for ((key, vs) <- want; (g, w) <- got(key).zip(vs))
        assert(math.abs(g - w) <= 1e-12 * math.max(1.0, math.abs(w)), s"$key: $g vs $w")
    }

    test(s"Fielded.searchIndexed ≡ brute force ($name topics)") {
      val boosts = Map("title" -> 0.9, "contents" -> 0.3)
      val tie = Fielded.DEFAULT_TIE
      // title: a doc's first two terms; contents: all of them
      val postings: Seq[(String, String, String, Long, Long)] = turnsLocal.flatMap { t =>
        val id = s"${t.conv_id}#${t.turn_idx}"
        val toks = Analyzer.analyze(t.text, tag)
        Seq("title" -> toks.take(2), "contents" -> toks).flatMap { case (field, ts) =>
          ts.groupBy(identity).map { case (w, o) => (id, field, w, o.size.toLong, ts.size.toLong) }
        }
      }
      val fStats = postings.groupBy(_._2).map { case (f, ps) => f -> (ps.map(_._1).distinct.size.toDouble, ps.map(_._4).sum.toDouble) }
      val fDict = postings.groupBy(p => (p._2, p._3)).map { case (k, ps) => k -> (ps.size.toDouble, ps.map(_._4).sum.toDouble) }
      val utf8: Ordering[String] = (a, b) => IndexBuild.utf8CmpStatic(a, b)
      def brute(k: Int): Set[Seq[Any]] = analyzed(topics).flatMap { case (qid, mult, _) =>
        val perDoc = mult.toSeq.flatMap { case (w, m) =>
          postings.filter(_._3 == w).groupBy(_._1).map { case (doc, ps) =>
            val s = ps.map { case (_, f, _, tf, dl) =>
              val (fN, fC) = fStats(f)
              val (df, cf) = fDict((f, w))
              f -> boosts(f) * model.score(tf.toDouble, dl, fC / fN, 1.0, df, cf, fN, fC).toFloat.toDouble
            }.sortBy(identity)(Ordering.Tuple2(utf8, Ordering.Double.TotalOrdering)).map(_._2)
            doc -> (w, (s.max + tie * (s.foldLeft(0.0)(_ + _) - s.max)) * m)
          }
        }.groupBy(_._1).collect { case (doc, ts) if ts.size >= Fielded.minimumShouldMatch(mult.size) =>
          doc -> ts.map(_._2).sortBy(identity)(Ordering.Tuple2(utf8, Ordering.Double.TotalOrdering))
            .foldLeft(0.0)(_ + _._2).toFloat
        }
        perDoc.toSeq.sortBy { case (doc, s) => (-s, doc) }.take(k).zipWithIndex
          .map { case ((doc, s), i) => Seq[Any](qid, doc, i + 1, s) }
      }.toSet
      val fd = { import spark.implicits._; postings.toDF("docId", "field", "term", "tf", "docLen") }
      val idx = FieldedIndex.build(fd, java.nio.file.Files.createTempDirectory("graft-qtl-fidx").toString)
      for (k <- Seq(3, Int.MaxValue)) {
        val want = brute(k)
        assert(want.nonEmpty && tuples(Fielded.searchIndexed(idx, topics, model, k, boosts, tie, tag)) == want,
          s"k=$k")
      }
    }
  }

  test("DocFeatures.features ≡ brute force: entropy, average distinct-term length, coverage with multiplicities") {
    val qs = analyzed(many)
    val want: Map[(Int, String), (Long, Double, Double, Long, Double)] = docTf.toSeq.flatMap { case (doc, tfs) =>
      val len = tfs.values.sum
      val entropy = tfs.values.map { tf => val p = tf.toDouble / len; p * -(math.log(p) / Scoring.LN2) }.sum
      val avgLen = tfs.keys.toSeq.map(w => w.codePointCount(0, w.length).toDouble).sum / tfs.size
      qs.flatMap { case (qid, mult, qLen) =>
        val covered = mult.collect { case (w, m) if tfs.contains(w) => m.toLong }.sum
        if (covered == 0) None
        else Some((qid, doc) -> (len, entropy, avgLen, covered, covered.toDouble / qLen))
      }
    }.toMap
    val got = DocFeatures.features(termDocs, many, tag).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5), r.getDouble(6)))
      .toMap
    assert(want.keySet.map(_._2).contains("c15#3") && !want.keySet.map(_._2).contains("c15#2"))
    assert(want.keySet.exists(_._1 == 1) && !want.keySet.exists(_._1 == 6)) // topic 6 has no hits
    assert(got.keySet == want.keySet)
    def near(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))
    for ((key, w) <- want; g = got(key))
      assert(g._1 == w._1 && near(g._2, w._2) && near(g._3, w._3) && g._4 == w._4 && near(g._5, w._5),
        s"$key: $g vs $w")
  }

  test("DocFeatures.features plan: one Exchange and no broadcast") {
    val df = DocFeatures.features(termDocs, many, tag)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeLike => e }.size == 1, plan)
    assert(collect(plan) { case e: BroadcastExchangeLike => e }.isEmpty, plan)
  }

  test("the expansion runs inside whole-stage codegen: its Generate is a codegen stage's") {
    val df = Exact.countMatches(termDocs, many, tag)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val generates = collect(plan) { case g: GenerateExec => g }
    val inCodegen = collect(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => w.child.collect { case g: GenerateExec => g })
    assert(generates.nonEmpty && generates.forall(g => inCodegen.exists(_ eq g)), plan)
  }

  test("a plain index's docs: the literal expansion over IndexBuild's termDocs ≡ over Tokenize's") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qtl-idx").toString
    IndexBuild.build(turns, dir, docsPerShard = 40)
    val idx = IndexBuild.load(spark, dir)
    assert(tuples(Exact.countMatches(idx.termDocs, many, tag)) == tuples(Exact.countMatches(termDocs, many, tag)))
    assert(tuples(Exact.qtermStats(many, idx.dict, tag)) == tuples(Exact.qtermStats(many, dict, tag)))
  }

  test("topics without an analyzed term match nothing: an empty IN list and an empty lookup table") {
    val none = Seq(Topic(1, ""), Topic(2, " ,.; "))
    assert(Exact.queryTerms(none, tag).isEmpty)
    assert(Exact.qtermStats(none, dict, tag).collect().isEmpty)
    assert(Exact.countMatches(termDocs, none, tag).collect().isEmpty)
    assert(DocFeatures.features(termDocs, none, tag).collect().isEmpty)
  }
}

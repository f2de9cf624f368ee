package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.{CorpusStats, Topic}

/**
 * Exact (always-correct) retrieval path (SURVEY.md §2.5 R1/R2/R4/R5/R7, §7.3).
 *
 * Semantics reproduced from the reference searcher
 * (`/root/reference/src/main/java/edu/anadolu/Searcher.java:162-230`):
 *
 *  - Boolean-OR of analyzed query terms; per-(term,doc) model score cast to
 *    float (`ModelBase.java:145`), summed per doc (`ModelBase.java:209-225`);
 *    duplicate query terms score once per occurrence.
 *  - top-k under the deterministic total order (score desc, docId asc) —
 *    SURVEY.md §2.8 tie-break note.
 *  - zero-hit queries emit a collection sentinel doc at rank 1, score 0
 *    (`Searcher.java:193-202`).
 *
 * Plan shape at scale: the posting source is scanned ONCE and reduced by a
 * broadcast hash join against the (tiny) query-term table — no shuffle of the
 * posting side until the per-(qid,docId) partial aggregate, whose map-side
 * combine shrinks the shuffle to |matched docs| rows. The final top-k window
 * shuffles only per-query candidates.
 */
object Exact {

  /** Analyzed query terms with multiplicity (mult) and the per-query distinct
   * term count (for conjunctive / minimum-should-match semantics). */
  def queryTerms(topics: Seq[Topic], tag: Analyzer.Tag): Seq[(Int, String, Int, Int)] =
    topics.flatMap { t =>
      val terms = Analyzer.analyzeQuery(t.query, tag)
      val m = terms.groupBy(identity).view.mapValues(_.size).toMap
      m.map { case (term, mult) => (t.qid, term, mult, m.size) }
    }

  /** Query-term table joined with per-term (df, cf): the dictionary is
   * scanned once and reduced via a broadcast of the query terms. `qLen` is
   * the analyzed query word count (Σ mult — the reference's maxOverlap,
   * `Searcher.java:351`), read by query-sensitive models via [[Scoring.In.qLen]]. */
  def qtermStats(spark: SparkSession, topics: Seq[Topic], dict: DataFrame,
                 tag: Analyzer.Tag): DataFrame = {
    import spark.implicits._
    val qt = queryTerms(topics, tag)
    val qLens = qt.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val q = qt.map { case (qid, term, mult, nTerms) => (qid, term, mult, nTerms, qLens(qid)) }
      .toDF("qid", "term", "mult", "nTerms", "qLen")
    dict.join(broadcast(q), Seq("term"))
      .select("qid", "term", "mult", "nTerms", "qLen", "df", "cf")
  }

  /** Per-row (term,doc) score × multiplicity, accumulated in double.
   * With `floatBoundary` the per-term score is cast to float first
   * (`ModelBase.java:145`) — float addition of m equal addends is exact in
   * double for small m, so ×mult ≡ m separate SHOULD clauses. */
  private def perTermScore(model: Scoring.Model, stats: CorpusStats,
                           floatBoundary: Boolean = true): Column = {
    val in = Scoring.In(
      tf = col("tf").cast("double"), docLen = col("docLen").cast("double"),
      df = col("df").cast("double"), cf = col("cf").cast("double"),
      kf = lit(1.0d), n = lit(stats.numDocs.toDouble), c = lit(stats.numTokens.toDouble),
      qLen = col("qLen").cast("double"))
    val s = model.expr(in)
    val boundary = if (floatBoundary) s.cast("float").cast("double") else s
    boundary * col("mult")
  }

  /**
   * Boolean top-k search over the denormalized posting source
   * `termDocs(docId, docLen, term, tf)`.
   *
   * @param conjunctive false = OR (reference default `Searcher.java:133`),
   *                    true = AND (`SearcherTool.java:109`)
   * @param sentinelDocId zero-result sentinel (`ClueWeb09B.java:23-25`)
   */
  def search(termDocs: DataFrame, dict: DataFrame, stats: CorpusStats,
             topics: Seq[Topic], model: Scoring.Model, k: Int,
             tag: Analyzer.Tag = Analyzer.Tag.NoStem,
             conjunctive: Boolean = false,
             sentinelDocId: Option[String] = None,
             roundedDouble: Option[Int] = None): DataFrame = {
    val qts = qtermStats(termDocs.sparkSession, topics, dict, tag)

    // roundedDouble: cross-engine-comparable mode — pure double math, final
    // score rounded to d decimals and ranked on the rounded value (ties then
    // broken by docId in both engines). Default: reference float semantics.
    val scoreAgg = roundedDouble match {
      case Some(d) => round(sum("s"), d).as("score")
      case None    => sum("s").cast("float").as("score")
    }
    val scored = termDocs
      .join(broadcast(qts), Seq("term"))
      .withColumn("s", perTermScore(model, stats, floatBoundary = roundedDouble.isEmpty))
      .groupBy(col("qid"), col("docId"))
      .agg(
        scoreAgg,
        count(lit(1)).as("matched"),
        first("nTerms").as("nTerms"))

    val filtered =
      if (conjunctive) scored.filter(col("matched") === col("nTerms"))
      else scored

    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("docId").asc)
    val ranked = filtered
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "docId", "rank", "score")

    withSentinel(ranked, topics, sentinelDocId, roundedDouble.isDefined)
  }

  /** `ranked` plus a (qid, sentinel, rank 1, score 0) row for every topic
   * without hits — an anti-join of topics vs results; score 0 is a double in
   * the rounded-double mode, a float otherwise. */
  private def withSentinel(ranked: DataFrame, topics: Seq[Topic],
                           sentinelDocId: Option[String],
                           roundedDouble: Boolean): DataFrame =
    sentinelDocId match {
      case None => ranked
      case Some(sentinel) =>
        val spark = ranked.sparkSession
        import spark.implicits._
        val zero: Column = if (roundedDouble) lit(0.0d) else lit(0.0f)
        val missing = topics.map(_.qid).toDF("qid")
          .join(ranked.select("qid").distinct(), Seq("qid"), "left_anti")
          .select(col("qid"), lit(sentinel).as("docId"),
            lit(1).as("rank"), zero.as("score"))
        ranked.unionByName(missing)
    }

  /** R5 multi-model pass: ONE scan of the posting source producing one score
   * column per model (`FeatureSearcher.java:51-140` recomputes all models per
   * (query, doc); here it is a single aggregate). */
  def scoreAllModels(termDocs: DataFrame, dict: DataFrame, stats: CorpusStats,
                     topics: Seq[Topic], models: Seq[Scoring.Model],
                     tag: Analyzer.Tag = Analyzer.Tag.NoStem): DataFrame = {
    val spark = termDocs.sparkSession
    val qts = qtermStats(spark, topics, dict, tag)
    val aggs = models.map(m =>
      sum(perTermScore(m, stats)).cast("float").cast("double").as(m.name))
    termDocs
      .join(broadcast(qts), Seq("term"))
      .groupBy(col("qid"), col("docId"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** R4 count-only queries (`qpp/Scope.java:28-30`): number of docs matching
   * any (OR) / all (AND) query terms. */
  def countMatches(termDocs: DataFrame, topics: Seq[Topic],
                   tag: Analyzer.Tag = Analyzer.Tag.NoStem,
                   conjunctive: Boolean = false): DataFrame = {
    val spark = termDocs.sparkSession
    import spark.implicits._
    val q = queryTerms(topics, tag).toDF("qid", "term", "mult", "nTerms")
    val grouped = termDocs.join(broadcast(q), Seq("term"))
      .groupBy("qid", "docId")
      .agg(count(lit(1)).as("matched"), first("nTerms").as("nTerms"))
    val m = if (conjunctive) grouped.filter(col("matched") === col("nTerms")) else grouped
    m.groupBy("qid").agg(count(lit(1)).as("numMatches"))
  }

  /** TREC run rows (`Searcher.java:204-226`). */
  def toRunRows(ranked: DataFrame, runTag: String): DataFrame =
    ranked.select(col("qid"), lit("Q0").as("q0"), col("docId"), col("rank"),
      col("score"), lit(runTag).as("tag"))
}

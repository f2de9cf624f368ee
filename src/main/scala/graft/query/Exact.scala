package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

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
 * Plan shape at scale: the query terms enter every plan as literals
 * ([[QueryTermLiterals]]): the dictionary is reduced to their rows by a
 * hashed `term IN (…)` filter, and the posting source is scanned ONCE and
 * reduced by a broadcast hash join against those few dictionary rows — no
 * shuffle of the posting side until the per-(qid,docId) partial aggregate,
 * whose map-side combine shrinks the shuffle to |matched docs| rows. The
 * final top-k window shuffles only per-query candidates.
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

  /** How the analyzed query terms of `topics` enter a plan: as literals, so
   * no plan broadcasts a query-term `LocalRelation` (one Spark job and one
   * broadcast buffer per call).
   *
   *  - [[kept]] is `term IN (…)`. Spark hashes it (`InSet`) above 10 terms
   *    and pushes it into parquet scans.
   *  - [[matches]] looks the term up in a hash table built here and shipped
   *    inside the plan ([[TermMatches]]), so a lookup costs the same for 10
   *    terms as for 10,000. */
  final class QueryTermLiterals(topics: Seq[Topic], tag: Analyzer.Tag) {
    private val qt = queryTerms(topics, tag)

    val kept: Column = col("term").isin(qt.map(_._2).distinct: _*)

    /** The row's matches, array<struct<qid, mult, nTerms, qLen>>: the term
     * occurs `mult` times in topic `qid`, which has `nTerms` distinct terms
     * and `qLen` words (Σ mult — the reference's maxOverlap,
     * `Searcher.java:351`). Null where the term is no query term. */
    val matches: Column = {
      val qLens = qt.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val table = new java.util.HashMap[UTF8String, ArrayData]
      qt.groupBy(_._2).foreach { case (term, uses) =>
        table.put(UTF8String.fromString(term), new GenericArrayData(uses.map {
          case (qid, _, mult, nTerms) => InternalRow(qid, mult, nTerms, qLens(qid))
        }.toArray[Any]))
      }
      Columns.of(TermMatches(UnresolvedAttribute("term"), table))
    }

    /** The rows of a term-keyed `source` (postings, dict, fielded postings)
     * whose term is a query term, one per (row, topic holding the term),
     * with qid, mult, nTerms and qLen appended. */
    def expand(source: DataFrame): DataFrame =
      source.filter(kept).select(col("*"), inline(matches))
  }

  /** `term` → the value `table` holds for it, null for any other term. It
   * generates code (a `CodegenFallback` would keep its operator, e.g. the
   * `Generate` of `inline`, out of whole-stage codegen). */
  private final case class TermMatches(child: Expression, table: java.util.HashMap[UTF8String, ArrayData])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq("qid", "mult", "nTerms", "qLen")
      .map(StructField(_, IntegerType, nullable = false))), containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "query_term_matches"
    // the table can hold thousands of terms: plan strings show only the input
    override def toString: String = s"$prettyName($child)"
    override protected def nullSafeEval(term: Any): Any = table.get(term)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val t = ctx.addReferenceObj("table", table)
      nullSafeCodeGen(ctx, ev, term =>
        s"""${ev.value} = (ArrayData) $t.get($term);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)
    }
    override protected def withNewChildInternal(c: Expression): TermMatches = copy(child = c)
  }

  /** The query terms' dictionary rows with per-term (df, cf), one per
   * (qid, term); `qLen` is read by query-sensitive models via
   * [[Scoring.In.qLen]]. */
  def qtermStats(topics: Seq[Topic], dict: DataFrame, tag: Analyzer.Tag): DataFrame =
    new QueryTermLiterals(topics, tag).expand(dict)
      .select("qid", "term", "mult", "nTerms", "qLen", "df", "cf")

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
    val qts = qtermStats(topics, dict, tag)

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
    val qts = qtermStats(topics, dict, tag)
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
    val grouped = new QueryTermLiterals(topics, tag).expand(termDocs)
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

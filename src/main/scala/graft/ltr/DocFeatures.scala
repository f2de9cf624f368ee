package graft.ltr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.Topic
import graft.query.{Exact, Scoring}

/**
 * LTR document / query-document features (SURVEY.md §2; reference `ltr/`
 * package — the text-applicable subset of its 80 feature classes; the
 * HTML/SEO features (Favicon, Https, InLinkCount…) have no analog on
 * transcript text and are out of scope).
 *
 *  - DocLength (`ltr/DocLength.java`): analyzed token count.
 *  - Entropy (`ltr/Entropy.java:14-34`): Σ_t p·(−log2 p), p = tf/docLen.
 *  - AvgTermLength (`ltr/AvgTermLength.java:10-16`): mean length over the
 *    doc's DISTINCT terms (mapTf.keySet).
 *  - CoveredTermCount / CoveredTermRatio (`ltr/CoveredTermCount.java`,
 *    `CoveredTermRatio.java`): per query word, does the doc contain it;
 *    count is the sum, ratio the mean over query words (duplicates weigh
 *    via their multiplicity).
 *
 * All five come from one pass over the posting source
 * `termDocs(docId, docLen, term, tf)`: one `groupBy(docId)` computes the
 * per-doc features and collects the doc's query-term matches (the query
 * terms enter as literals, [[Exact.QueryTermLiterals]]); the matches are
 * then exploded and summed per (docId, qid), which reuses the docId hash
 * partitioning. The plan has one Exchange and no broadcast, where a join
 * of a per-doc and a per-(qid, doc) aggregate had two shuffles and a
 * broadcast (after PAPERS.md, "A Six-dimensional Analysis of In-memory
 * Aggregation").
 *
 * Feature vectors feed `Trec.formatLtr` (K5, SVMlight output).
 */
object DocFeatures {

  /** Per (qid, doc matching at least one of the qid's terms): doclen,
   * entropy, avg_term_len, covered_cnt (Σ mult of the matched terms) and
   * covered_ratio (covered_cnt / qLen). */
  def features(termDocs: DataFrame, topics: Seq[Topic], tag: Analyzer.Tag): DataFrame = {
    val p = col("tf").cast("double") / col("docLen").cast("double")
    termDocs.groupBy("docId").agg(
        first("docLen").as("doclen"),
        sum(p * -(log(p) / lit(Scoring.LN2))).as("entropy"),
        avg(length(col("term")).cast("double")).as("avg_term_len"),
        flatten(collect_list(new Exact.QueryTermLiterals(topics, tag).matches)).as("matches"))
      .select(col("docId"), col("doclen"), col("entropy"), col("avg_term_len"),
        inline(col("matches")))
      .groupBy("docId", "qid")
      .agg(first("doclen").as("doclen"), first("entropy").as("entropy"),
        first("avg_term_len").as("avg_term_len"),
        sum("mult").as("covered_cnt"), first("qLen").as("qlen"))
      .select(col("qid"), col("docId"), col("doclen"), col("entropy"), col("avg_term_len"),
        col("covered_cnt"),
        (col("covered_cnt").cast("double") / col("qlen").cast("double")).as("covered_ratio"))
  }
}

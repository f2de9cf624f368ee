package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Term dictionary (SURVEY.md §1.1): per-term `df` (document frequency) and
 * `cf` (collection / total term frequency), plus a dense, term-ordered
 * `termId`. Reference analog: Lucene's FST term dictionary with (df, cf)
 * resolved per term in `ModelBase.fillBasicStats`
 * (`/root/reference/src/main/java/org/apache/lucene/search/similarities/
 * ModelBase.java:70-100`).
 */
object Dictionary {

  /** (term, df, cf) — one hash-aggregate over the posting source; partial
   * (map-side) aggregation makes the shuffle carry one row per distinct
   * (partition, term), not one per posting. */
  def termStats(termDocs: DataFrame): DataFrame =
    termDocs.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))

  /**
   * Assign dense term-ordered ids WITHOUT a single-partition global window.
   *
   * A naive `row_number().over(Window.orderBy("term"))` funnels the whole
   * dictionary through one task — fatal at 10^12-turn vocabulary size.
   * Instead: range-repartition by term (so partition p holds a contiguous,
   * sorted term range), count per partition, broadcast the prefix offsets,
   * then number within partitions. Two jobs, fully parallel, deterministic.
   * Written to `dir` as (term, termId, df, cf), replacing what is there; the
   * numbering's cached frame is released once the write is done.
   */
  def writeWithIds(termStats: DataFrame, dir: String): Unit = {
    val (numbered, cleanup) = DenseIds.assignManaged(termStats.select("term", "df", "cf"),
      "termId", assumeSorted = false, col("term"))
    try numbered.select("term", "termId", "df", "cf").write.mode("overwrite").parquet(dir)
    finally cleanup()
  }
}

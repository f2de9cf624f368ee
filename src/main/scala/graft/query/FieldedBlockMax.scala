package graft.query

import org.apache.spark.sql.DataFrame

import graft.analysis.Analyzer
import graft.index.FieldedBlocks
import graft.model.Topic

/**
 * Early-terminating fielded DisMax retrieval over the block-compressed
 * fielded index (round-4 VERDICT next-round #1): the [[BlockMax]] kernel
 * over per-(field, term) posting cursors, honoring the reference's per-term
 * DisjunctionMax (max + tie·(sum − max), boosts per field —
 * `Searcher.java:232-323`) and the query-length minimum-should-match.
 *
 * Float discipline matches [[Fielded.score]] exactly: per-field score cast
 * to float THEN scaled by the boost in double (both gate modes), per-term
 * DisMax and ×mult in double, per-doc sum in double in canonical (UTF8)
 * term and field order, finished with a float cast (reference mode) or
 * half-up rounding (cross-engine gate mode).
 */
object FieldedBlockMax {

  /**
   * Distributed fielded block-max search — result ≡ [[Fielded.searchIndexed]]
   * (pinned in FieldedSpec), with per-doc work gated by θ and msm; answered
   * eagerly in one Spark job against the index's resident shard partitions
   * ([[FieldedBlocks.FBIndex.resident]], built by the first search on a
   * loaded index): the query terms' per-(field, term) dict rows and the
   * per-field (fN, fC) rows ride in the job from the driver
   * ([[BlockMax.search]]). The merged rows are held by the result's scan:
   * collecting it, or an identity selection of it, runs no job; an aliasing
   * projection over it runs one. k ≤ 0 ranks nothing and runs no job.
   *
   * @param rounded half-up round the doc score to this many decimals and
   *   rank on the rounded value (the cross-engine gate discipline);
   *   None = reference float semantics
   */
  def search(idx: FieldedBlocks.FBIndex, topics: Seq[Topic],
             model: Scoring.Model, k: Int,
             boosts: Map[String, Double] = Fielded.DEFAULT_BOOSTS,
             tie: Double = Fielded.DEFAULT_TIE,
             tag: Analyzer.Tag = Analyzer.Tag.NoStem,
             rounded: Option[Int] = None): DataFrame = {
    require(model.ubSafe,
      s"fielded Block-Max WAND is unsound for non-monotone model ${model.name}; " +
        "use Fielded.searchIndexed")

    // per (field, term): a field absent from boosts scores 0 but still counts
    // for msm and joins the DisMax group (Fielded.score's boostCol
    // otherwise(0.0)); float boundary BEFORE the boost scale, both gate
    // modes (boostCol * expr.cast(float).cast(double))
    val scorer: BlockMax.ScorerFactory = (_, field, s) => {
      val boost = boosts.getOrElse(field, 0d)
      val avgdl = s.fieldTokens.toDouble / s.fieldDocs.toDouble
      val score = model.bind(avgdl, 1.0, s.df.toDouble, s.cf.toDouble, s.fieldDocs.toDouble,
        s.fieldTokens.toDouble)
      (tf, dl) => boost * score(tf, dl).toFloat.toDouble
    }

    // docIdNum ascending ≡ docId-string ascending (fdocs numbering order) —
    // the kernel's (score desc, docIdNum asc) is Fielded.score's
    // (score desc, docId asc)
    BlockMax.search(idx.resident, topics, tag, Fielded.minimumShouldMatch, scorer, tie, k,
      rounded, sentinel = None)
  }
}

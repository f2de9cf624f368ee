package graft.query

import org.apache.spark.sql.DataFrame

import graft.analysis.Analyzer
import graft.index.IndexBuild
import graft.model.Topic

/**
 * Block-Max WAND top-k over the compressed, document-sharded posting index
 * (SURVEY.md §7.3; north rule "block-max WAND posting-list intersection"):
 * the one-field case (tie 0, msm 1) of the [[BlockMax]] kernel.
 *
 * Float discipline matches the exact path bit-for-bit: per-term score cast
 * to float (`ModelBase.java:145`), ×multiplicity accumulated in double,
 * final cast to float. Standing invariant (tested): BMW ≡ exact path.
 */
object BlockMaxWand {

  /**
   * Distributed BMW search, answered eagerly in one Spark job for the whole
   * topic set ([[BlockMax.search]]) against the index's resident shard
   * partitions ([[IndexBuild.Index.resident]]): the driver ships the query
   * terms' dict rows with the tasks, and each partition runs the WAND loop
   * per topic over its shards and resolves its winners' docIds. The
   * per-partition top-k lists merge on the driver into the result's rows,
   * which the DataFrame's scan holds: collecting it, or an identity
   * selection of it, runs no job; an aliasing projection over it runs one.
   * The first search on a loaded index also builds its partitions; k ≤ 0
   * ranks nothing (only the sentinel rows, if asked) and runs no job.
   */
  def search(index: IndexBuild.Index, topics: Seq[Topic], model: Scoring.Model,
             k: Int, tag: Analyzer.Tag = Analyzer.Tag.NoStem,
             sentinelDocId: Option[String] = None,
             roundedDouble: Option[Int] = None): DataFrame = {
    require(model.ubSafe,
      s"Block-Max WAND is unsound for non-monotone model ${model.name} " +
        "(block bound score(maxTf, minDocLen) would not dominate mid-tf " +
        "postings); use Exact.search")

    // reference float boundary vs cross-engine rounded-double mode (see
    // Exact.search): the per-term map must be monotone and the block upper
    // bounds go through it too, or a float-rounded-down UB could mask a
    // winning doc.
    val perTerm: Double => Double =
      if (roundedDouble.isEmpty) d => d.toFloat.toDouble else identity
    // Query-sensitive models: MATF's scalar score() reads the instance's
    // queryLength (the reference's per-query setMaxOverlap), while the exact
    // path reads In.qLen per row — substitute a per-query instance (|q| =
    // Σ mult) here or BMW would score every query with the parser default
    // (|q| = 1) and diverge from the exact path on multi-term queries.
    val scorer: BlockMax.ScorerFactory = (q, _, s) => {
      val qModel = model match {
        case Scoring.MATF(_) => Scoring.MATF(q.terms.map(_._2).sum)
        case _ => model
      }
      val avgdl = s.fieldTokens.toDouble / s.fieldDocs.toDouble
      val score = qModel.bind(avgdl, 1.0, s.df.toDouble, s.cf.toDouble, s.fieldDocs.toDouble,
        s.fieldTokens.toDouble)
      (tf, dl) => perTerm(score(tf, dl))
    }

    BlockMax.search(index.resident, topics, tag, msm = _ => 1, scorer, tie = 0d, k,
      roundedDouble, sentinelDocId)
  }
}

package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.IndexBuild
import graft.model.{PostingBlock, Topic}

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
   * Distributed BMW search: one Spark job for the whole topic set. Blocks
   * are pruned to the query terms at the parquet scan (predicate pushdown
   * on `term`), grouped by shard, and each shard task runs the WAND loop per
   * topic; the tiny per-shard candidate sets merge through a global window
   * top-k.
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

    // driver-side: analyzed terms + dictionary stats for them (tiny)
    val qterms = Exact.queryTerms(topics, tag) // (qid, term, mult, nTerms)
    val dictRows = index.dict
      .filter(col("term").isin(qterms.map(_._2).distinct: _*))
      .select("term", "df", "cf")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // Query-sensitive models: MATF's scalar score() reads the instance's
    // queryLength (the reference's per-query setMaxOverlap), while the exact
    // path reads In.qLen per row — substitute a per-qid instance here or BMW
    // would score every query with the parser default (|q| = 1) and diverge
    // from the exact path on multi-term queries.
    def modelOf(ts: Seq[(Int, String, Int, Int)]): Scoring.Model = model match {
      case Scoring.MATF(_) => Scoring.MATF(ts.map(_._3).sum)
      case _ => model
    }
    val nDocs = index.stats.numDocs.toDouble
    val nTokens = index.stats.numTokens.toDouble
    val avgdl = nTokens / nDocs
    val queries = qterms.groupBy(_._1).map { case (qid, ts) =>
      val qModel = modelOf(ts)
      qid -> BlockMax.Query(1, ts.flatMap { case (_, term, mult, _) =>
        dictRows.get(term).map { case (df, cf) =>
          BlockMax.QueryTerm(term, mult, Seq("" -> ((tf: Long, dl: Long) =>
            perTerm(qModel.score(tf.toDouble, dl, avgdl, 1.0, df.toDouble, cf.toDouble,
              nDocs, nTokens)))))
        }
      })
    }

    val ranked = BlockMax.search(index.blocks, (_: PostingBlock) => "",
      index.docs, queries, tie = 0d, k, roundedDouble)
    Exact.withSentinel(ranked, topics, sentinelDocId, roundedDouble.isDefined)
  }
}

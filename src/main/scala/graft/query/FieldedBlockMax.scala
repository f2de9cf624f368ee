package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.FieldedBlocks
import graft.model.{FieldedBlock, Topic}

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
   * (pinned in FieldedSpec) with every corpus-sized read a term-pruned block
   * scan and per-doc work gated by θ and msm.
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

    val qterms = Exact.queryTerms(topics, tag) // (qid, term, mult, nTerms)
    // bounded driver state: |fields| stat rows, ≤ |query terms|·|fields| dict rows
    val statRows: Map[String, (Long, Long)] = idx.stats
      .select("field", "fN", "fC").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dictRows: Map[String, Seq[(String, Long, Long)]] = idx.dict
      .filter(col("term").isin(qterms.map(_._2).distinct: _*))
      .select("field", "term", "df", "cf").collect().toSeq
      .groupMap(_.getString(1))(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    // per (field, term): a field absent from boosts scores 0 but still counts
    // for msm and joins the DisMax group (Fielded.score's boostCol
    // otherwise(0.0)); float boundary BEFORE the boost scale, both gate
    // modes (boostCol * expr.cast(float).cast(double))
    val fieldsOf: Map[String, Seq[(String, (Long, Long) => Double)]] =
      dictRows.map { case (term, rows) =>
        term -> rows.map { case (field, df, cf) =>
          val boost = boosts.getOrElse(field, 0d)
          val (fN, fC) = statRows(field)
          val avgdl = fC.toDouble / fN.toDouble
          field -> ((tf: Long, dl: Long) => boost * model.score(tf.toDouble, dl, avgdl, 1.0,
            df.toDouble, cf.toDouble, fN.toDouble, fC.toDouble).toFloat.toDouble)
        }
      }
    val queries = qterms.groupBy(_._1).map { case (qid, ts) =>
      qid -> BlockMax.Query(Fielded.minimumShouldMatch(ts.head._4),
        ts.map { case (_, term, mult, _) =>
          BlockMax.QueryTerm(term, mult, fieldsOf.getOrElse(term, Nil))
        })
    }

    // docIdNum ascending ≡ docId-string ascending (fdocs numbering order) —
    // the kernel's (score desc, docIdNum asc) is Fielded.score's
    // (score desc, docId asc)
    BlockMax.search(idx.blocks, (_: FieldedBlock).field, idx.fdocs, queries, tie, k, rounded)
  }
}

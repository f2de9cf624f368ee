package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.{CorpusStats, Topic}
import graft.query.{Exact, Scoring}

/**
 * Query-performance predictors (SURVEY.md §2.6 A10; reference `edu/anadolu/qpp/`).
 * All pre-retrieval: dictionary lookups + at most one postings pass.
 */
object Qpp {

  /** Per-(qid, term): IDF = ln(N/df) (`qpp/IDF.java:22-24`),
   * ICTF = ln(C/cf) (`ICTF.java:19-21`),
   * SCQ = (1 + ln cf)·idf (`SCQ.java:19-24`). */
  def perTerm(topics: Seq[Topic], dict: DataFrame, stats: CorpusStats,
              tag: Analyzer.Tag = Analyzer.Tag.NoStem): DataFrame =
    new Exact.QueryTermLiterals(topics, tag).expand(dict)
      .select(col("qid"), col("term"), col("mult"),
        log(lit(stats.numDocs.toDouble) / col("df")).as("idf"),
        log(lit(stats.numTokens.toDouble) / col("cf")).as("ictf"),
        ((lit(1d) + log(col("cf"))) * log(lit(stats.numDocs.toDouble) / col("df"))).as("scq"))

  /** Per-query aggregation of a per-term predictor column
   * (`qpp/Aggregate.java`): min/max/avg/sum/geometric-mean/stddev/variance
   * plus γ1 = min/max, γ2 = max/min (`Aggregate.java:68-93`) and the
   * DisMax/DisMin families `extreme + tie·Σothers`
   * (`Aggregate.java:20-66`; "others" excludes every value EQUAL to the
   * extreme, as the reference's `!=` comparison does). */
  def aggregate(perTerm: DataFrame, valueCol: String,
                tie: Double = 0.1): DataFrame = {
    // The reference aggregates over the FULL analyzed token list,
    // duplicate occurrences included (`qpp/Base.aggregated`,
    // `Base.java:102-110`) — expand by multiplicity when the frame carries
    // it ("apple apple pie" contributes idf(apple) twice to sum/avg/…).
    val occurrences =
      if (perTerm.columns.contains("mult"))
        perTerm.withColumn("__occ", explode(sequence(lit(1), col("mult"))))
      else perTerm
    // per-qid extremes joined back so Σ_{v ≠ extreme} is one grouped pass
    val ext = occurrences.groupBy("qid")
      .agg(min(valueCol).as("__mn"), max(valueCol).as("__mx"))
    occurrences.join(ext, "qid").groupBy("qid").agg(
      min(valueCol).as("min"), max(valueCol).as("max"),
      avg(valueCol).as("avg"), sum(valueCol).as("sum"),
      exp(avg(log(col(valueCol)))).as("gm"),
      // single-term queries: Spark yields NaN for sample stats, DuckDB NULL —
      // pin both to 0 explicitly
      when(count(lit(1)) > 1, stddev_samp(valueCol)).otherwise(lit(0d)).as("std"),
      when(count(lit(1)) > 1, var_samp(valueCol)).otherwise(lit(0d)).as("var"),
      (min(valueCol) / max(valueCol)).as("gamma1"),
      (max(valueCol) / min(valueCol)).as("gamma2"),
      (max(valueCol) + lit(tie) *
        coalesce(sum(when(col(valueCol) =!= col("__mx"), col(valueCol))), lit(0d))).as("dismax"),
      (min(valueCol) + lit(tie) *
        coalesce(sum(when(col(valueCol) =!= col("__mn"), col(valueCol))), lit(0d))).as("dismin"))
  }

  /** SCS — simplified clarity score, KL(query model ‖ collection model)
   * (`qpp/SCS.java:31-47`): Σ_terms qtf·ln(qtf/ctf), qtf = occurrences/|q|,
   * ctf = cf/C; missing terms use Double.MaxValue as the reference does.
   * Driver-side: inputs are a handful of dictionary rows. */
  def scs(topics: Seq[Topic], cfLookup: Map[String, Long], stats: CorpusStats,
          tag: Analyzer.Tag = Analyzer.Tag.NoStem): Seq[(Int, Double)] =
    topics.map { t =>
      val terms = Analyzer.analyzeQuery(t.query, tag)
      val n = terms.size.toDouble
      val scs = terms.distinct.map { term =>
        val qtf = terms.count(_ == term) / n
        val ctf = cfLookup.getOrElse(term, 0L).toDouble / stats.numTokens.toDouble
        qtf * math.log(if (ctf == 0.0) Double.MaxValue else qtf / ctf)
      }.sum
      (t.qid, scs)
    }

  /** Scope — -ln(|docs matching any term| / N) / ln N (`qpp/Scope.java:47-49`). */
  def scope(termDocs: DataFrame, topics: Seq[Topic], stats: CorpusStats,
            tag: Analyzer.Tag = Analyzer.Tag.NoStem): DataFrame = {
    val n = stats.numDocs.toDouble
    Exact.countMatches(termDocs, topics, tag)
      .select(col("qid"),
        (-log(col("numMatches").cast("double") / lit(n)) / lit(math.log(n))).as("scope"))
  }

  /** VAR — posting-list variability of wdt = 1 + ln(tf)·ln(1 + N/df)
   * (`qpp/VAR.java:42-117`): per term
   * variance = Σwdt² − (Σwdt)²/df; per query avg of √(variance/df) over
   * terms present in the vocabulary. */
  def varPredictor(termDocs: DataFrame, topics: Seq[Topic], stats: CorpusStats,
                   tag: Analyzer.Tag = Analyzer.Tag.NoStem): DataFrame = {
    val terms = new Exact.QueryTermLiterals(topics, tag)
    val n = stats.numDocs.toDouble
    // wdt needs df inside the row function → two passes: df, then wdt agg
    val dfPerTerm = termDocs.filter(terms.kept)
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val wdt = termDocs.join(broadcast(dfPerTerm), Seq("term"))
      .withColumn("wdt", lit(1d) + log(col("tf").cast("double")) * log(lit(1d) + lit(n) / col("df")))
      .groupBy("term")
      .agg(first("df").as("df"), sum("wdt").as("wdtSum"), sum(col("wdt") * col("wdt")).as("wdtSq"))
      // df==1 terms: wdtSq − wdtSum²/1 is 0 up to pow() rounding — clamp so
      // sqrt never sees a −1ulp negative
      .withColumn("variance", greatest(col("wdtSq") - pow(col("wdtSum"), 2) / col("df"), lit(0d)))
      .withColumn("termVar", sqrt(lit(1.0) / col("df") * col("variance")))
    terms.expand(wdt)
      .groupBy("qid")
      .agg((sum("termVar") / count(lit(1))).as("var"))
  }

  /** PMI — avg over distinct query-term pairs of
   * log2((N+1)·df(t1∧t2) / ((df1+1)·(df2+1))) (`qpp/PMI.java:54-77`);
   * single-term queries → 0. Pair intersections via one self-join pass. */
  def pmi(spark: SparkSession, termDocs: DataFrame, topics: Seq[Topic],
          stats: CorpusStats, tag: Analyzer.Tag = Analyzer.Tag.NoStem): Seq[(Int, Double)] = {
    val termsByQid = topics.map(t =>
      t.qid -> Analyzer.analyzeQuery(t.query, tag).distinct).toMap
    val allTerms = termsByQid.values.flatten.toSeq.distinct
    val posting = termDocs.filter(col("term").isin(allTerms: _*)).select("term", "docId")

    val dfMap = posting.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairCounts = posting.as("a").join(posting.as("b"), col("a.docId") === col("b.docId"))
      .filter(col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("t1"), col("b.term").as("t2"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val n = stats.numDocs.toDouble
    termsByQid.toSeq.map { case (qid, terms) =>
      if (terms.size <= 1) (qid, 0.0)
      else {
        val pairs = for {
          i <- terms.indices; j <- (i + 1) until terms.size
        } yield {
          val (a, b) = if (terms(i) < terms(j)) (terms(i), terms(j)) else (terms(j), terms(i))
          val and = pairCounts.getOrElse((a, b), 0L).toDouble
          val df1 = dfMap.getOrElse(a, 0L) + 1d
          val df2 = dfMap.getOrElse(b, 0L) + 1d
          Scoring.log2((n + 1) * and / (df1 * df2))
        }
        (qid, pairs.sum / pairs.size)
      }
    }.sortBy(_._1)
  }
}

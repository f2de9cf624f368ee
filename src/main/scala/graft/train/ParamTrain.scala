package graft.train

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.eval.Metrics
import graft.model.{CorpusStats, Topic}
import graft.query.{Exact, Scoring}

/**
 * Hyper-parameter training / best-model selection (the reference's step 3:
 * `cmdline/ParamTool.train`, `ParamTool.java:119-138`, over the grids at
 * `SearcherTool.java:34-37`).
 *
 * The reference runs one Lucene search per grid point (190 models) and
 * evaluates each run file; here the WHOLE grid is scored in ONE posting
 * scan — a score column per model in a single aggregate (the R5 pattern),
 * unpivoted with `stack`, ranked per (model, qid) in one window, and
 * evaluated per (model, qid) in one [[Metrics.perQueryGrouped]] pass. At
 * 100 TB the sweep costs one scan + one |models|-wide shuffle instead of
 * 190 scans.
 */
object ParamTrain {

  /** Reference grids (`SearcherTool.java:34-37`). */
  val cValues: Seq[Double] = Seq(0.25, 0.5, 0.8, 1, 2, 3, 5, 8, 10, 12, 14, 16, 18, 20, 22, 24, 26, 28, 30)
  val kValues: Seq[Double] = Seq(0.2, 0.4, 0.6, 0.8, 1.0, 1.2, 1.4, 1.6, 1.8, 2.0, 2.2, 2.4, 2.6, 2.8, 3.0)
  val bValues: Seq[Double] = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
  val muValues: Seq[Double] = Seq(10, 50, 100, 200, 500, 800, 1000, 1500, 2000, 3000, 4000, 5000, 6000, 7000, 8000, 9000, 10000)

  /** Family name of a parametric model (the `train("BM25", …)` key). */
  def familyOf(m: Scoring.Model): String = m match {
    case _: Scoring.BM25c       => "BM25"
    case _: Scoring.PL2c        => "PL2"
    case _: Scoring.LGDc        => "LGD"
    case _: Scoring.DirichletLM => "DirichletLM"
    case other                  => other.name
  }

  /** The full 190-point parametric grid (`SearcherTool.parametricModelList`). */
  def parametricModels(): Seq[Scoring.Model] =
    cValues.flatMap(c => Seq(Scoring.PL2c(c), Scoring.LGDc(c))) ++
      kValues.flatMap(k => bValues.map(b => Scoring.BM25c(k, b))) ++
      muValues.map(Scoring.DirichletLM(_))

  /**
   * One-pass grid sweep → ranked run per model:
   * (model, qid, docId, rank, score).
   *
   * @param roundedDouble cross-engine mode: pure-double per-term scores,
   *   final sum rounded and RANKED on the rounded value (None = reference
   *   float-boundary semantics)
   */
  def sweepRuns(termDocs: DataFrame, dict: DataFrame, stats: CorpusStats,
                topics: Seq[Topic], models: Seq[Scoring.Model], topK: Int,
                tag: Analyzer.Tag = Analyzer.Tag.NoStem,
                roundedDouble: Option[Int] = None): DataFrame = {
    val qts = Exact.qtermStats(topics, dict, tag)
    val in = Scoring.In(
      tf = col("tf").cast("double"), docLen = col("docLen").cast("double"),
      df = col("df").cast("double"), cf = col("cf").cast("double"),
      kf = lit(1.0d), n = lit(stats.numDocs.toDouble), c = lit(stats.numTokens.toDouble),
      qLen = col("qLen").cast("double"))
    val aggs = models.map { m =>
      val perTerm = if (roundedDouble.isEmpty)
        m.expr(in).cast("float").cast("double") else m.expr(in)
      val s = sum(perTerm * col("mult"))
      (roundedDouble match {
        case Some(d) => round(s, d)
        case None    => s.cast("float").cast("double")
      }).as(m.name)
    }
    val scored = termDocs
      .join(broadcast(qts), Seq("term"))
      .groupBy(col("qid"), col("docId"))
      .agg(aggs.head, aggs.tail: _*)
    val stackExpr =
      s"stack(${models.size}, " +
        models.map(m => s"'${m.name}', `${m.name}`").mkString(", ") +
        ") AS (model, score)"
    val long = scored.select(col("qid"), col("docId"), expr(stackExpr))
    val w = Window.partitionBy("model", "qid").orderBy(col("score").desc, col("docId").asc)
    long.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Per-(model, qid) effectiveness of a sweep run. */
  def sweepEval(runs: DataFrame, qrels: DataFrame, k: Int = 10, gmax: Int = 4): DataFrame =
    Metrics.perQueryGrouped(runs, qrels, k, gmax, Seq("model"))

  /** Mean measure per model over queries (the evaluator's model ranking). */
  def meansByModel(perQ: DataFrame): DataFrame = {
    val metricCols = perQ.columns.filterNot(c => c == "model" || c == "qid")
    perQ.groupBy("model").agg(
      avg(metricCols.head).as(s"mean_${metricCols.head}"),
      metricCols.tail.map(c => avg(c).as(s"mean_$c")): _*)
  }

  /**
   * `train(family, measure)` winners (`ParamTool.java:119-138` semantics,
   * minus the on-disk cache): best mean measure per family; ties break on
   * model name ascending, deterministically in any engine.
   */
  def best(means: DataFrame, families: Map[String, String], measure: String): DataFrame = {
    val spark = means.sparkSession
    import spark.implicits._
    val famDf = families.toSeq.toDF("model", "family")
    val w = Window.partitionBy("family").orderBy(col(s"mean_$measure").desc, col("model").asc)
    means.join(broadcast(famDf), "model")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("family"), lit(measure).as("measure"), col("model"),
        col(s"mean_$measure").as("mean_value"))
  }
}

package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.data.Transcripts
import graft.eval.Metrics
import graft.index.{Dictionary, IndexBuild, Tokenize}
import graft.model.Topic
import graft.query.{BlockMax, BlockMaxWand, Exact, Scoring}
import graft.stats.{Histograms, Qpp}

/**
 * Driver-facing correctness queries (SparkEntry.queries) with DuckDB oracle
 * SQL over the same parquet tables (SURVEY.md §2 operator ids in names).
 *
 * The `documents` table plays the corpus role (adapter:
 * [[Transcripts.fromDocuments]], docId = 'doc-<id>#0'); its text is
 * single-space-separated lowercase words, so DuckDB's `string_split(text,' ')`
 * tokenizes identically to [[Analyzer.analyze]] — the oracle and the engine
 * share the analyzer contract (SURVEY.md §2.3).
 *
 * Cross-engine float discipline: score-like doubles are rounded (and ranked
 * on the rounded value) so last-ulp libm differences between JVM and DuckDB
 * cannot flip a hash compare; counts stay exact BIGINT.
 */
object DriverQueries {

  final case class Spec(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  // ---- fixed query set over the documents vocabulary ----
  val topics: Seq[Topic] = Seq(
    Topic(1, "spark merge"),
    Topic(2, "hash join order"),
    Topic(3, "the the the"),      // duplicate-term multiplicity (OR-sum)
    Topic(4, "zzzunseen"),        // zero-hit → sentinel row
    Topic(5, "dup"),              // rare term
    Topic(6, "vector window batch scan"))
  val SENTINEL = "doc-sentinel#0"
  val K = 20

  /** Terms used by per-term analytics queries. */
  val histTerms: Seq[String] = Seq("spark", "merge", "the", "a", "dup", "vector", "hash", "query")

  // ---- shared Spark-side corpus derivations, memoized per sfDir ----
  // Nearly every spec consumes termDocs/docs/dict/corpusStats; without the
  // memo each of the ~40 gate queries re-tokenizes the corpus from scratch
  // (the round-1 gate spent 3-5× its operator time there). The independent
  // expensive builds start as five background chains at first contact with
  // an sfDir, so they back-fill each other's idle cores; fieldedBlockIndex,
  // the last derivation the (frozen) bench warmup awaits, waits for them
  // all, so no background work bleeds into the individually timed gates.
  // Nothing is reused across JVMs: the same work runs from the same parquet
  // inputs, merely concurrently.
  private val derivations = new Derivations()

  private def prefetch(s: SparkSession, d: String): Unit = {
    derivations.prefetch("prefetch-index", d)(index(s, d))
    derivations.prefetch("prefetch-fielded-split", d)(fieldedBlocks(s, d, "split"))
    derivations.prefetch("prefetch-fielded-natural", d)(fieldedIndex(s, d, "natural"))
    derivations.prefetch("prefetch-sweep", d)(sweepPq(s, d))
    derivations.prefetch("prefetch-bm25run", d)(bm25Run(s, d))
  }

  /** `df` persisted and materialized once per sfDir (unpersisted by
   * [[releaseCaches]]). */
  private def persisted(kind: String, s: SparkSession, d: String)(df: => DataFrame): DataFrame = {
    prefetch(s, d)
    derivations(kind, d, (p: DataFrame) => { p.unpersist(blocking = true); () }) {
      val p = df.persist()
      p.count()
      p
    }
  }

  def termDocs(spark: SparkSession, dir: String): DataFrame =
    persisted("termDocs", spark, dir)(Tokenize.termDocs(Transcripts.fromDocuments(spark, dir)))

  def docs(spark: SparkSession, dir: String): DataFrame =
    persisted("docs", spark, dir)(Tokenize.docs(Transcripts.fromDocuments(spark, dir)))

  def dict(spark: SparkSession, dir: String): DataFrame =
    persisted("dict", spark, dir)(Dictionary.termStats(termDocs(spark, dir)))

  def corpusStats(spark: SparkSession, dir: String): graft.model.CorpusStats = {
    prefetch(spark, dir)
    derivations("stats", dir)(Tokenize.corpusStats(docs(spark, dir)))
  }

  /** Compressed block index over the documents corpus, built once per JVM
   * per sfDir into a temp dir (fresh — no reuse across runs, the format may
   * evolve); [[releaseCaches]] frees its resident shard partitions. */
  def index(spark: SparkSession, dir: String): IndexBuild.Index = {
    prefetch(spark, dir)
    derivations.inTempDir("index", dir, "graft-docidx", (i: IndexBuild.Index) => i.release())(
      IndexBuild.build(Transcripts.fromDocuments(spark, dir), _, docsPerShard = 256))
  }

  /** token array → term→tf map, in-row (the [[Tokenize.tfMapUdf]] pattern
   * for already-tokenized arrays): per-(doc, field) term frequencies need
   * NO shuffle — round 6 replaced the explode→groupBy form, which carried
   * every token of every document through an aggregation exchange (a
   * corpus-sized shuffle for a row-local computation; guide §2.4). A null
   * array (null text) yields no terms, as exploding it did. */
  private val toksTfUdf = udf { (toks: Seq[String]) =>
    val m = new java.util.HashMap[String, Long]()
    if (toks != null) toks.foreach(t => m.merge(t, 1L, (a, b) => a + b))
    import scala.jdk.CollectionConverters._
    m.asScala.toMap
  }

  /** The r3 fielded posting source: documents split into a synthetic
   * 'title' field (first 8 tokens) + 'contents' (rest) —
   * (docId, field, term, tf, docLen) with per-FIELD doclens. Map-only. */
  private def fieldedSplitSource(s: SparkSession, d: String): DataFrame = {
    val docs = Transcripts.table(s, d, "documents")
      .select(concat(lit("doc-"), col("doc_id").cast("string"), lit("#0")).as("docId"),
        split(col("text"), " ").as("toks"))
    docs
      .select(col("docId"), lit("title").as("field"), slice(col("toks"), 1, 8).as("ftoks"))
      .unionByName(docs.select(col("docId"), lit("contents").as("field"),
        expr("slice(toks, 9, greatest(size(toks) - 8, 0))").as("ftoks")))
      .filter(size(col("ftoks")) > 0)
      .select(col("docId"), col("field"), size(col("ftoks")).cast("long").as("docLen"),
        explode(toksTfUdf(col("ftoks"))).as(Seq("term", "tf")))
      .select("docId", "field", "term", "tf", "docLen")
  }

  /** The r3b fielded source over the documents' NATURAL fields: contents =
   * text tokens; source/lang = the column value as a one-token field.
   * Map-only (same in-row tf as the split source). */
  private[graft] def fieldedNaturalSource(s: SparkSession, d: String): DataFrame = {
    val docs = Transcripts.table(s, d, "documents")
      .select(concat(lit("doc-"), col("doc_id").cast("string"), lit("#0")).as("docId"),
        col("text"), col("lang"), col("source"))
    val contents = docs
      .select(col("docId"), lit("contents").as("field"),
        size(split(col("text"), " ")).cast("long").as("docLen"),
        explode(toksTfUdf(split(col("text"), " "))).as(Seq("term", "tf")))
      .select("docId", "field", "term", "tf", "docLen")
    val meta = docs
      .select(col("docId"), lit("source").as("field"), col("source").as("term"),
        lit(1L).as("tf"), lit(1L).as("docLen"))
      .unionByName(docs.select(col("docId"), lit("lang").as("field"),
        col("lang").as("term"), lit(1L).as("tf"), lit(1L).as("docLen")))
    contents.unionByName(meta)
  }

  /** Prebuilt fielded indexes (round-3 VERDICT #1): per-field postings +
   * dict + stats materialized ONCE per (sfDir, variant); the r3/r3b gates
   * then run query-term-pruned scans only. */
  def fieldedIndex(s: SparkSession, d: String, variant: String): graft.index.FieldedIndex.FIndex = {
    prefetch(s, d)
    derivations.inTempDir(s"fidx-$variant", d, s"graft-fidx-$variant") { dir =>
      val src = if (variant == "natural") fieldedNaturalSource(s, d)
                else fieldedSplitSource(s, d)
      graft.index.FieldedIndex.build(src, dir)
    }
  }

  /** Block stage over the cached fielded index (round-4 VERDICT #1): built
   * once per (sfDir, variant) — the r3c gate then runs the early-terminating
   * WAND over the handle's resident shard partitions, which [[releaseCaches]]
   * frees. sf0.01 holds ~600 docs; 256-doc shards exercise the cross-shard
   * heap merge. */
  private def fieldedBlocks(s: SparkSession, d: String,
                            variant: String): graft.index.FieldedBlocks.FBIndex =
    derivations.inTempDir(s"fblocks-$variant", d, s"graft-fblocks-$variant",
        (b: graft.index.FieldedBlocks.FBIndex) => b.release())(
      graft.index.FieldedBlocks.build(fieldedIndex(s, d, variant), _, docsPerShard = 256))

  /** Public accessor doubles as the warmup BARRIER: it is the last shared
   * derivation the frozen bench warms, so it returns only after every
   * background build of the sfDir has finished. */
  def fieldedBlockIndex(s: SparkSession, d: String, variant: String): graft.index.FieldedBlocks.FBIndex = {
    prefetch(s, d)
    val r = fieldedBlocks(s, d, variant)
    derivations.awaitAll(d)
    r
  }

  /** Unpersist and drop every per-sfDir cache (the gate suite's warm
   * state) once every build in flight has finished — including storage
   * persisted INSIDE the builders (DenseIds' post-shuffle frame in the
   * compressed index, which the memo never references) via
   * `catalog.clearCache()`, and the indexes' temp dirs on disk — so a
   * subsequent measurement runs on a quiet heap and a quiet filesystem.
   * Round-3 context: the driver bench recorded a 3.6× index-build inflation
   * with the gate caches still resident (VERDICT r03 "What's wrong" #2). */
  def releaseCaches(spark: SparkSession): Unit = {
    derivations.release()
    spark.catalog.clearCache()
  }

  // ---- shared DuckDB CTEs ----
  private val CTES =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      |st AS (SELECT (SELECT count(*) FROM documents) AS n, (SELECT count(*) FROM tok) AS c),
      |dict AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM tf GROUP BY term)""".stripMargin

  private def sqlTermList(ts: Seq[String]): String = ts.map(t => s"'$t'").mkString("(", ", ", ")")

  /** VALUES rows for the analyzed query terms — must stay in lockstep with
   * [[Exact.queryTerms]] over [[topics]]. */
  private def qValues: String =
    Exact.queryTerms(topics, Analyzer.Tag.NoStem)
      .map { case (qid, term, mult, _) => s"($qid, '$term', $mult)" }.mkString(", ")

  private def qidValues: String = topics.map(t => s"(${t.qid})").mkString(", ")

  /** BM25c(k1=0.9, b=0.4) per-(term,doc) score in SQL, operation-for-operation
   * the same expression tree as [[Scoring.BM25c.expr]] (so IEEE doubles agree
   * to the last ulp wherever libm does). */
  private val bm25Sql =
    "(tf.tf * (8.0 + 1.0) * 1.0 / (((8.0) + 1.0) * (0.9 * ((1.0 - 0.4) + 0.4 * dl.dl / (st.c * 1.0 / st.n)) + tf.tf))) " +
      "* (ln((st.n - dict.df + 0.5) / (dict.df + 0.5)) / ln(2.0))"

  private def bm25TopkSql(conjunctive: Boolean): String = {
    val having = if (conjunctive)
      "HAVING count(*) = max(q.nterms)" else ""
    s"""WITH $CTES,
       |qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
       |qn AS (SELECT qid, count(*) AS nterms FROM qv GROUP BY qid),
       |q AS (SELECT qv.qid, qv.term, qv.mult, qn.nterms FROM qv JOIN qn ON qv.qid = qn.qid),
       |scored AS (
       |  SELECT q.qid AS qid, tf.doc_id AS doc_id,
       |         round(sum(q.mult * ($bm25Sql)), 4) AS score
       |  FROM q
       |  JOIN tf ON q.term = tf.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  JOIN dict ON q.term = dict.term
       |  CROSS JOIN st
       |  GROUP BY q.qid, tf.doc_id
       |  $having),
       |ranked AS (
       |  SELECT qid, 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, ('doc-' || CAST(doc_id AS VARCHAR) || '#0') ASC) AS INT) AS rank,
       |         score
       |  FROM scored)
       |SELECT qid, docid, rank, score FROM ranked WHERE rank <= $K
       |UNION ALL
       |SELECT s.qid, '$SENTINEL' AS docid, 1 AS rank, 0.0 AS score
       |FROM (VALUES $qidValues) AS s(qid)
       |WHERE s.qid NOT IN (SELECT DISTINCT qid FROM scored)""".stripMargin
  }

  private def bm25TopkSpark(spark: SparkSession, dir: String, conjunctive: Boolean): DataFrame = {
    val td = termDocs(spark, dir)
    Exact.search(td, dict(spark, dir), corpusStats(spark, dir), topics, Scoring.BM25c(0.9, 0.4), K,
        conjunctive = conjunctive, sentinelDocId = Some(SENTINEL),
        roundedDouble = Some(4))
      .withColumnRenamed("docId", "docid")
  }

  /** A block-max result with `docId` renamed `docid`, over the same rows
   * (an aliasing projection over the result's local scan would run a job). */
  private def docidNamed(ranked: DataFrame): DataFrame = BlockMax.renamed(ranked, "docId", "docid")

  val specs: Seq[Spec] = Seq(

    Spec("t1_tokenize",
      (s, d) => termDocs(s, d).select(col("docId").as("docid"), col("term"), col("tf")),
      Some(s"""WITH $CTES
        |SELECT 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid, term, tf FROM tf""".stripMargin)),

    Spec("t2_doclen",
      (s, d) => docs(s, d).select(col("docId").as("docid"), col("docLen").as("doclen")),
      Some(s"""SELECT 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS doclen FROM documents""".stripMargin)),

    Spec("a1_corpus_stats",
      (s, d) => {
        val st = corpusStats(s, d)
        s.createDataFrame(Seq((st.numDocs, st.numTokens)))
          .toDF("num_docs", "num_tokens")
          .withColumn("avgdl", round(col("num_tokens").cast("double") / col("num_docs").cast("double"), 6))
      },
      Some(s"""WITH $CTES
        |SELECT n AS num_docs, c AS num_tokens, round(c * 1.0 / n, 6) AS avgdl FROM st""".stripMargin)),

    Spec("a2_term_stats",
      (s, d) => dict(s, d).select("term", "df", "cf"),
      Some(s"""WITH $CTES
        |SELECT term, df, CAST(cf AS BIGINT) AS cf FROM dict""".stripMargin)),

    // cti per CorpusStatistics.java:49-102: e_ij = cf*dl/C over the term's
    // postings + closed-form remainder for non-matching docs, / N.
    Spec("a2c_cti",
      (s, d) => {
        val td = termDocs(s, d).filter(col("term").isin(histTerms: _*))
        val dct = dict(s, d)
        val st = corpusStats(s, d)
        val e = (col("cf") * col("docLen")).cast("double") / lit(st.numTokens.toDouble)
        td.join(dct, "term")
          .withColumn("x", pow(col("tf").cast("double") - e, 2) / e)
          .groupBy("term")
          .agg(first("df").as("df"), first("cf").as("cf"), sum("x").as("sx"))
          .select(col("term"), round(
            (col("sx") + (lit(st.numDocs) - col("df")) * (col("cf").cast("double") / lit(st.numDocs.toDouble)))
              / lit(st.numDocs.toDouble), 6).as("cti"))
      },
      Some(s"""WITH $CTES
        |SELECT tf.term AS term,
        |  round((sum(pow(tf.tf * 1.0 - (dict.cf * dl.dl) * 1.0 / st.c, 2) / ((dict.cf * dl.dl) * 1.0 / st.c))
        |    + (st.n - dict.df) * (dict.cf * 1.0 / st.n)) / (st.n * 1.0), 6) AS cti
        |FROM tf JOIN dl ON tf.doc_id = dl.doc_id JOIN dict ON tf.term = dict.term CROSS JOIN st
        |WHERE tf.term IN ${sqlTermList(histTerms)}
        |GROUP BY tf.term, st.n, st.c, dict.df, dict.cf""".stripMargin)),

    Spec("a3_doclen_stats",
      (s, d) => termDocs(s, d).filter(col("term").isin(histTerms: _*))
        .groupBy("term")
        .agg(count(lit(1)).as("n_docs"), sum("docLen").as("sum_dl"),
          sum(col("docLen") * col("docLen")).as("sum_dl2")),
      Some(s"""WITH $CTES
        |SELECT tf.term AS term, count(*) AS n_docs,
        |  CAST(sum(dl.dl) AS BIGINT) AS sum_dl, CAST(sum(dl.dl * dl.dl) AS BIGINT) AS sum_dl2
        |FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |WHERE tf.term IN ${sqlTermList(histTerms)}
        |GROUP BY tf.term""".stripMargin)),

    // LengthNormalized(10) binning (freq/LengthNormalized.java:15-41):
    // v = trunc(pct*10); bin = v == 10 ? v : v+1.
    Spec("a4_tf_histogram",
      (s, d) => {
        val v = floor(col("tf").cast("double") / col("docLen").cast("double") * 10)
        termDocs(s, d).filter(col("term").isin(histTerms: _*))
          .withColumn("bin", when(v === 10, v).otherwise(v + 1).cast("int"))
          .groupBy("term", "bin").agg(count(lit(1)).as("cnt"))
      },
      Some(s"""WITH $CTES,
        |j AS (SELECT tf.term AS term, CAST(floor(tf.tf * 1.0 / dl.dl * 10) AS INT) AS v
        |      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |      WHERE tf.term IN ${sqlTermList(histTerms)})
        |SELECT term, CASE WHEN v = 10 THEN v ELSE v + 1 END AS bin, count(*) AS cnt
        |FROM j GROUP BY 1, 2""".stripMargin)),

    Spec("r1_bm25_topk",
      (s, d) => bm25TopkSpark(s, d, conjunctive = false),
      Some(bm25TopkSql(conjunctive = false))),

    // Same oracle as r1 — the Block-Max WAND path over the compressed
    // sharded index must independently reproduce the DuckDB ranking.
    Spec("r1c_bmw_topk",
      (s, d) => docidNamed(BlockMaxWand.search(index(s, d), topics, Scoring.BM25c(0.9, 0.4), K,
          sentinelDocId = Some(SENTINEL), roundedDouble = Some(4))),
      Some(bm25TopkSql(conjunctive = false))),

    Spec("r2_bm25_and_topk",
      (s, d) => bm25TopkSpark(s, d, conjunctive = true),
      Some(bm25TopkSql(conjunctive = true))),

    Spec("r4_count_or",
      (s, d) => Exact.countMatches(termDocs(s, d), topics)
        .select(col("qid"), col("numMatches").as("num_matches")),
      Some(s"""WITH $CTES,
        |q(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult))
        |SELECT qid, count(*) AS num_matches FROM (
        |  SELECT q.qid AS qid, tf.doc_id FROM q JOIN tf ON q.term = tf.term GROUP BY q.qid, tf.doc_id)
        |GROUP BY qid""".stripMargin)),

    // QPP predictors per analyzed query term: IDF (qpp/IDF.java:22-24),
    // ICTF (ICTF.java:19-21), SCQ (SCQ.java:19-24); natural log as reference.
    Spec("a10_qpp_terms",
      (s, d) => {
        val st = corpusStats(s, d)
        new Exact.QueryTermLiterals(topics, Analyzer.Tag.NoStem).expand(dict(s, d))
          .select(col("qid"), col("term"),
            round(log(lit(st.numDocs.toDouble) / col("df")), 6).as("idf"),
            round(log(lit(st.numTokens.toDouble) / col("cf")), 6).as("ictf"),
            round((lit(1d) + log(col("cf"))) * log(lit(st.numDocs.toDouble) / col("df")), 6).as("scq"))
      },
      Some(s"""WITH $CTES,
        |q(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult))
        |SELECT q.qid AS qid, q.term AS term,
        |  round(ln(st.n * 1.0 / dict.df), 6) AS idf,
        |  round(ln(st.c * 1.0 / dict.cf), 6) AS ictf,
        |  round((1.0 + ln(dict.cf)) * ln(st.n * 1.0 / dict.df), 6) AS scq
        |FROM q JOIN dict ON q.term = dict.term CROSS JOIN st""".stripMargin))
  )

  // ---- batch 2: histograms, QPP, native eval, spam re-rank ----

  /** BM25 rounded-double run WITHOUT sentinel (k=20) — eval/spam input.
   * Round 6: memoized per sfDir like the sweep runs — e1/r6/nc1/sa1 all
   * consume it, and each used to re-score + re-rank the whole posting
   * source for itself. */
  private def bm25Run(s: SparkSession, d: String): DataFrame =
    persisted("bm25Run", s, d)(Exact.search(termDocs(s, d), dict(s, d), corpusStats(s, d),
      topics, Scoring.BM25c(0.9, 0.4), K, roundedDouble = Some(4)))

  /** Synthetic deterministic qrels over documents: qid × doc where
   * (doc_id + qid·7) % 5 == 0 (dense enough to overlap top-k runs),
   * judge = doc_id % 3 ∈ {0,1,2}. */
  private def qrelsDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qids = topics.map(_.qid).toDF("qid")
    Transcripts.table(s, d, "documents")
      .select(col("doc_id"))
      .crossJoin(broadcast(qids))
      .filter((col("doc_id") + col("qid") * 7) % 5 === 0)
      .select(col("qid"),
        concat(lit("doc-"), col("doc_id").cast("string"), lit("#0")).as("docId"),
        (col("doc_id") % 3).cast("int").as("judge"))
  }

  private val qrelsSqlCte =
    s"""qrels AS (SELECT q.qid AS qid,
       |  'doc-' || CAST(d.doc_id AS VARCHAR) || '#0' AS docid,
       |  CAST(d.doc_id % 3 AS INT) AS judge
       |  FROM documents d CROSS JOIN (VALUES $qidValues) AS q(qid)
       |  WHERE (d.doc_id + q.qid * 7) % 5 = 0)""".stripMargin

  /** The r1 ranked run as a SQL CTE (no sentinel), reused by eval/spam. */
  private val runSqlCte =
    s"""qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
       |scored AS (
       |  SELECT qv.qid AS qid, tf.doc_id AS doc_id,
       |         round(sum(qv.mult * ($bm25Sql)), 4) AS score
       |  FROM qv
       |  JOIN tf ON qv.term = tf.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  JOIN dict ON qv.term = dict.term
       |  CROSS JOIN st
       |  GROUP BY qv.qid, tf.doc_id),
       |run AS (
       |  SELECT * FROM (
       |    SELECT qid, 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid,
       |           CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, ('doc-' || CAST(doc_id AS VARCHAR) || '#0') ASC) AS INT) AS rank,
       |           score
       |    FROM scored) WHERE rank <= $K)""".stripMargin

  val specs2: Seq[Spec] = Seq(

    // Zero (add-one) distribution: matching docs bin (tf+1)/(dl+1), docs
    // NOT containing the term bin 1/(dl+1) (ZeroDistribution.java:55-120).
    Spec("a6_zero_histogram",
      (s, d) => Histograms.zero(termDocs(s, d), docs(s, d), histTerms, 10),
      Some(s"""WITH $CTES,
        |m AS (SELECT tf.term AS term,
        |        CAST(floor((tf.tf * 1.0 + 1) / (dl.dl * 1.0 + 1) * 10) AS INT) AS v
        |      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |      WHERE tf.term IN ${sqlTermList(histTerms)}),
        |nm AS (SELECT t.term AS term,
        |         CAST(floor(1.0 / (dl.dl * 1.0 + 1) * 10) AS INT) AS v
        |       FROM dl CROSS JOIN (SELECT unnest(ARRAY[${histTerms.map(t => s"'$t'").mkString(",")}]) AS term) t
        |       LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = t.term
        |       WHERE tf.doc_id IS NULL),
        |b AS (SELECT term, v FROM m UNION ALL SELECT term, v FROM nm)
        |SELECT term, CASE WHEN v = 10 THEN v ELSE v + 1 END AS bin, count(*) AS cnt
        |FROM b GROUP BY 1, 2""".stripMargin)),

    // Dirichlet-smoothed distribution: (tf+e)/(dl+e), e = cf·dl/C
    // (DirichletDistribution.java relativeFrequency).
    Spec("a6b_dirichlet_histogram",
      (s, d) => {
        val td = termDocs(s, d)
        Histograms.dirichlet(td, dict(s, d), corpusStats(s, d),
          histTerms, 10)
      },
      Some(s"""WITH $CTES,
        |j AS (SELECT tf.term AS term,
        |        CAST(floor((tf.tf * 1.0 + (dict.cf * dl.dl) * 1.0 / st.c)
        |                 / (dl.dl * 1.0 + (dict.cf * dl.dl) * 1.0 / st.c) * 10) AS INT) AS v
        |      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |      JOIN dict ON tf.term = dict.term CROSS JOIN st
        |      WHERE tf.term IN ${sqlTermList(histTerms)})
        |SELECT term, CASE WHEN v = 10 THEN v ELSE v + 1 END AS bin, count(*) AS cnt
        |FROM j GROUP BY 1, 2""".stripMargin)),

    // Phi histogram (freq/Phi.java:46-90). DuckDB has no normal CDF, but
    // binning Φ(z) at 0.1·j boundaries ≡ counting crossed Φ⁻¹(0.1·j)
    // constants (Φ strictly increasing) — so the oracle compares the same
    // z = (tf−e)/√e against the 9 precomputed inverse-CDF doubles.
    Spec("a5_phi_histogram",
      (s, d) => {
        val td = termDocs(s, d)
        Histograms.phi(td, dict(s, d), corpusStats(s, d),
          histTerms, 10)
      },
      Some {
        val binSql = Histograms.phiBinBoundaries(10)
          .map(b => s"+ (CASE WHEN z >= $b THEN 1 ELSE 0 END)").mkString(" ")
        s"""WITH $CTES,
          |j AS (SELECT tf.term AS term,
          |        (tf.tf * 1.0 - ((dict.cf * dl.dl) * 1.0 / st.c))
          |          / sqrt((dict.cf * dl.dl) * 1.0 / st.c) AS z
          |      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
          |      JOIN dict ON tf.term = dict.term CROSS JOIN st
          |      WHERE tf.term IN ${sqlTermList(histTerms)})
          |SELECT term, (1 $binSql) AS bin, count(*) AS cnt
          |FROM j GROUP BY 1, 2""".stripMargin
      }),

    // QPP aggregation over per-term idf (qpp/Aggregate.java).
    Spec("a10b_qpp_agg",
      (s, d) => {
        val pt = Qpp.perTerm(topics, dict(s, d), corpusStats(s, d))
        // gamma ratios pinned to 0 when the relevant extreme is 0 (a term
        // in every doc → idf 0; the reference's raw double division gives
        // ∞/NaN, which the two engines hash differently)
        Qpp.aggregate(pt, "idf").select(
          col("qid"), round(col("min"), 6).as("min"), round(col("max"), 6).as("max"),
          round(col("avg"), 6).as("avg"), round(col("sum"), 6).as("sum"),
          round(col("gm"), 6).as("gm"), round(col("std"), 6).as("std"),
          round(col("var"), 6).as("var"),
          round(when(col("max") === 0, lit(0.0)).otherwise(col("gamma1")), 6).as("gamma1"),
          round(when(col("min") === 0, lit(0.0)).otherwise(col("gamma2")), 6).as("gamma2"),
          round(col("dismax"), 6).as("dismax"), round(col("dismin"), 6).as("dismin"))
      },
      Some(s"""WITH $CTES,
        |q(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |pt AS (SELECT q.qid AS qid, ln(st.n * 1.0 / dict.df) AS idf,
        |         unnest(range(q.mult)) AS occ
        |       FROM q JOIN dict ON q.term = dict.term CROSS JOIN st),
        |ext AS (SELECT qid, min(idf) AS mn, max(idf) AS mx FROM pt GROUP BY qid)
        |SELECT pt.qid AS qid, round(min(idf), 6) AS min, round(max(idf), 6) AS max,
        |  round(avg(idf), 6) AS avg, round(sum(idf), 6) AS sum,
        |  round(exp(avg(ln(idf))), 6) AS gm,
        |  round(CASE WHEN count(*) > 1 THEN stddev_samp(idf) ELSE 0.0 END, 6) AS std,
        |  round(CASE WHEN count(*) > 1 THEN var_samp(idf) ELSE 0.0 END, 6) AS var,
        |  round(CASE WHEN max(idf) = 0 THEN 0.0 ELSE min(idf) / max(idf) END, 6) AS gamma1,
        |  round(CASE WHEN min(idf) = 0 THEN 0.0 ELSE max(idf) / min(idf) END, 6) AS gamma2,
        |  round(max(idf) + 0.1 * COALESCE(sum(CASE WHEN idf <> ext.mx THEN idf END), 0.0), 6) AS dismax,
        |  round(min(idf) + 0.1 * COALESCE(sum(CASE WHEN idf <> ext.mn THEN idf END), 0.0), 6) AS dismin
        |FROM pt JOIN ext ON pt.qid = ext.qid GROUP BY pt.qid""".stripMargin)),

    // Scope predictor (qpp/Scope.java:47-49).
    Spec("a10c_scope",
      (s, d) => Qpp.scope(termDocs(s, d), topics, corpusStats(s, d))
        .select(col("qid"), round(col("scope"), 6).as("scope")),
      Some(s"""WITH $CTES,
        |q(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |m AS (SELECT qid, count(*) AS num_matches FROM (
        |        SELECT q.qid AS qid, tf.doc_id FROM q JOIN tf ON q.term = tf.term
        |        GROUP BY q.qid, tf.doc_id) GROUP BY qid)
        |SELECT qid, round(-ln(num_matches * 1.0 / st.n) / ln(st.n * 1.0), 6) AS scope
        |FROM m CROSS JOIN st""".stripMargin)),

    // VAR predictor (qpp/VAR.java:42-117): wdt = 1 + ln(tf)·ln(1 + N/df).
    Spec("a10d_var",
      (s, d) => Qpp.varPredictor(termDocs(s, d), topics, corpusStats(s, d))
        .select(col("qid"), round(col("var"), 6).as("var")),
      Some(s"""WITH $CTES,
        |q(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |dft AS (SELECT tf.term AS term, count(*) * 1.0 AS df FROM tf
        |        WHERE tf.term IN (SELECT term FROM q) GROUP BY tf.term),
        |w AS (SELECT tf.term AS term, dft.df AS df,
        |        1 + ln(tf.tf * 1.0) * ln(1 + st.n * 1.0 / dft.df) AS wdt
        |      FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN st),
        |tv AS (SELECT term, df, sum(wdt) AS wdtsum, sum(wdt * wdt) AS wdtsq
        |       FROM w GROUP BY term, df),
        |tv2 AS (SELECT term, sqrt(1.0 / df * greatest(wdtsq - pow(wdtsum, 2) / df, 0.0)) AS termvar
        |        FROM tv)
        |SELECT q.qid AS qid, round(sum(tv2.termvar) / count(*), 6) AS var
        |FROM q JOIN tv2 ON q.term = tv2.term GROUP BY q.qid""".stripMargin)),

    // PMI predictor (qpp/PMI.java:54-77): avg pairwise
    // log2((N+1)·df(t1∧t2)/((df1+1)(df2+1))); single-term queries → 0.
    Spec("a10e_pmi",
      (s, d) => {
        import s.implicits._
        Qpp.pmi(s, termDocs(s, d), topics, corpusStats(s, d))
          .toDF("qid", "pmi").select(col("qid"), round(col("pmi"), 6).as("pmi"))
      },
      Some {
        val pairRows = topics.flatMap { t =>
          val terms = Analyzer.analyzeQuery(t.query).distinct
          for { i <- terms.indices; j <- (i + 1) until terms.size } yield {
            val (a, b) = if (terms(i) < terms(j)) (terms(i), terms(j)) else (terms(j), terms(i))
            s"(${t.qid}, '$a', '$b')"
          }
        }
        val singles = topics.filter(t => Analyzer.analyzeQuery(t.query).distinct.size <= 1)
          .map(t => s"(${t.qid})").mkString(", ")
        s"""WITH $CTES,
          |pr(qid, t1, t2) AS (SELECT * FROM (VALUES ${pairRows.mkString(", ")}) AS v(qid, t1, t2)),
          |pc AS (SELECT a.term AS t1, b.term AS t2, count(*) * 1.0 AS cnt
          |       FROM tf a JOIN tf b ON a.doc_id = b.doc_id AND a.term < b.term
          |       GROUP BY a.term, b.term),
          |pv AS (SELECT pr.qid AS qid,
          |         ln((st.n + 1) * COALESCE(pc.cnt, 0.0)
          |            / ((COALESCE(d1.df, 0) + 1.0) * (COALESCE(d2.df, 0) + 1.0))) / ln(2.0) AS pmi
          |       FROM pr LEFT JOIN pc ON pr.t1 = pc.t1 AND pr.t2 = pc.t2
          |       LEFT JOIN dict d1 ON pr.t1 = d1.term
          |       LEFT JOIN dict d2 ON pr.t2 = d2.term
          |       CROSS JOIN st)
          |SELECT qid, round(sum(pmi) / count(*), 6) AS pmi FROM pv GROUP BY qid
          |UNION ALL
          |SELECT qid, 0.0 AS pmi FROM (VALUES $singles) AS sgl(qid)""".stripMargin
      }),

    // Native eval metrics over the BM25 run × synthetic qrels
    // (SURVEY.md §2.11; AP/P@10/R@10/NDCG@10/ERR@10 per query).
    Spec("e1_eval_metrics",
      (s, d) => Metrics.perQuery(
          bm25Run(s, d).withColumnRenamed("docid", "docId"), qrelsDf(s, d), k = 10, gmax = 4)
        .select(col("qid"), round(col("ap"), 6).as("ap"),
          round(col("p10"), 6).as("p10"), round(col("recall10"), 6).as("recall10"),
          round(col("ndcg10"), 6).as("ndcg10"), round(col("err10"), 6).as("err10")),
      Some(s"""WITH $CTES,
        |$runSqlCte,
        |$qrelsSqlCte,
        |j AS (SELECT r.qid AS qid, r.docid AS docid, r.rank AS rank,
        |        COALESCE(qr.judge, 0) AS judge,
        |        CASE WHEN COALESCE(qr.judge, 0) > 0 THEN 1 ELSE 0 END AS rel
        |      FROM run r LEFT JOIN qrels qr ON r.qid = qr.qid AND r.docid = qr.docid),
        |e AS (SELECT *,
        |        sum(rel) OVER (PARTITION BY qid ORDER BY rank) * 1.0 / rank AS precat,
        |        (pow(2.0, judge) - 1) / 16.0 AS errr,
        |        (pow(2.0, judge) - 1) / (ln(rank * 1.0 + 1) / ln(2.0)) AS dcggain
        |      FROM j),
        |e2 AS (SELECT *,
        |        (errr / rank) * exp(COALESCE(sum(ln(1.0 - (CASE WHEN errr >= 1.0 THEN 0.999999 ELSE errr END)))
        |          OVER (PARTITION BY qid ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)) AS errcontrib
        |      FROM e),
        |base AS (SELECT qid,
        |    sum(CASE WHEN rel = 1 THEN precat ELSE 0.0 END) AS apnum,
        |    sum(CASE WHEN rank <= 10 THEN rel ELSE 0 END) * 1.0 AS relatk,
        |    sum(CASE WHEN rank <= 10 THEN dcggain ELSE 0.0 END) AS dcgatk,
        |    sum(CASE WHEN rank <= 10 THEN errcontrib ELSE 0.0 END) AS erratk
        |  FROM e2 GROUP BY qid),
        |nr AS (SELECT qid, count(*) AS numrel FROM qrels WHERE judge > 0 GROUP BY qid),
        |idcg AS (SELECT qid, sum((pow(2.0, judge) - 1) / (ln(irank * 1.0 + 1) / ln(2.0))) AS idcgatk
        |  FROM (SELECT qid, judge,
        |          row_number() OVER (PARTITION BY qid ORDER BY judge DESC, docid ASC) AS irank
        |        FROM qrels WHERE judge > 0)
        |  WHERE irank <= 10 GROUP BY qid)
        |SELECT base.qid AS qid,
        |  round(CASE WHEN nr.numrel IS NULL OR nr.numrel = 0 THEN 0.0 ELSE apnum / nr.numrel END, 6) AS ap,
        |  round(relatk / 10, 6) AS p10,
        |  round(CASE WHEN nr.numrel IS NULL OR nr.numrel = 0 THEN 0.0 ELSE relatk / nr.numrel END, 6) AS recall10,
        |  round(CASE WHEN idcg.idcgatk IS NULL OR idcg.idcgatk = 0 THEN 0.0 ELSE dcgatk / idcg.idcgatk END, 6) AS ndcg10,
        |  round(erratk, 6) AS err10
        |FROM base LEFT JOIN nr ON base.qid = nr.qid LEFT JOIN idcg ON base.qid = idcg.qid""".stripMargin)),

    // Waterloo-spam re-rank (spam/SpamTool.java:99-120): drop percentile <
    // 50, re-rank by (score desc, docId DESC — SubmissionFile.java:58-65).
    Spec("r6_spam_rerank",
      (s, d) => {
        val spam = Transcripts.table(s, d, "documents")
          .select(concat(lit("doc-"), col("doc_id").cast("string"), lit("#0")).as("docId"),
            (col("doc_id") % 100).cast("int").as("percentile"))
        Metrics.spamRerank(bm25Run(s, d).withColumnRenamed("docid", "docId"), spam,
            threshold = 50, k = 10)
          .withColumnRenamed("docId", "docid")
      },
      Some(s"""WITH $CTES,
        |$runSqlCte,
        |spam AS (SELECT 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid,
        |           CAST(doc_id % 100 AS INT) AS percentile FROM documents)
        |SELECT qid, docid, rank, score FROM (
        |  SELECT r.qid AS qid, r.docid AS docid,
        |    CAST(row_number() OVER (PARTITION BY r.qid ORDER BY r.score DESC, r.docid DESC) AS INT) AS rank,
        |    r.score AS score
        |  FROM run r LEFT JOIN spam ON r.docid = spam.docid
        |  WHERE COALESCE(spam.percentile, 0) >= 50)
        |WHERE rank <= 10""".stripMargin))
  )

  // ---- batch 3: training-data pipeline operators ----

  /** Documents plus planted duplicates (copies of doc_id < 25 at +100000) —
   * gives dedup something to find, deterministically in both engines. */
  private def dupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Transcripts.table(s, d, "documents").select("doc_id", "text")
    docs.unionByName(docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }
  private val dupCorpusCte =
    """corp AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 25)""".stripMargin

  /** dupCorpus plus planted NEAR-duplicates: copies of 25 ≤ doc_id < 50 at
   * +200000 with one appended token — high-but-not-1.0 shingle Jaccard, so
   * the MinHash/LSH gate exercises genuine near-dup recall, with the exact
   * shingle Jaccard of every planted pair recomputed independently by the
   * DuckDB oracle. */
  private def nearDupCorpus(s: SparkSession, d: String): DataFrame =
    dupCorpus(s, d).unionByName(
      Transcripts.table(s, d, "documents").select("doc_id", "text")
        .filter(col("doc_id") >= 25 && col("doc_id") < 50)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" xnearx")).as("text")))
  private val nearDupCorpusCte =
    """corp AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 25
      |  UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' xnearx' AS text
      |    FROM documents WHERE doc_id >= 25 AND doc_id < 50)""".stripMargin
  /** The planted (id1, id2) truth pairs of [[nearDupCorpus]]. */
  private val plantedPairsSql =
    """truth(id1, id2) AS (
      |  SELECT doc_id, doc_id + 100000 FROM documents WHERE doc_id < 25
      |  UNION ALL SELECT doc_id, doc_id + 200000 FROM documents WHERE doc_id >= 25 AND doc_id < 50)""".stripMargin
  private def plantedPairsDf(s: SparkSession, d: String): DataFrame = {
    val base = Transcripts.table(s, d, "documents").select(col("doc_id").cast("long").as("id1"))
    base.filter(col("id1") < 25).select(col("id1"), (col("id1") + 100000).as("id2"))
      .unionByName(base.filter(col("id1") >= 25 && col("id1") < 50)
        .select(col("id1"), (col("id1") + 200000).as("id2")))
  }

  /** SimHash fixture docs (constant texts): two heavy anchor tokens make
   * ~half the fingerprint bits decisive while a light distinct-token tail
   * leaves the rest near the voting margin — single-token substitutions
   * land at small nonzero hamming distances. Expected fingerprint distances
   * are computed locally from the same public simhash definition and pinned
   * in the oracle VALUES; the gate checks the DISTRIBUTED chunk-bucketed
   * join reproduces them end-to-end. */
  private val simFixtures: Seq[(Long, String)] = {
    def text(heavy: Seq[(String, Int)], tail: Seq[String]): String =
      (heavy.flatMap { case (t, n) => Seq.fill(n)(t) } ++ tail).mkString(" ")
    val tail0 = (0 until 50).map(i => s"w$i")
    Seq(
      900001L -> text(Seq("alpha" -> 15, "beta" -> 15), tail0),
      900002L -> text(Seq("alpha" -> 15, "beta" -> 15), tail0.updated(7, "xsubx")),
      900003L -> text(Seq("alpha" -> 15, "beta" -> 15), tail0.updated(7, "xsubx").updated(31, "ysuby")),
      900004L -> text(Seq("alpha" -> 15, "beta" -> 15), tail0.updated(3, "zsubz").updated(19, "qsubq").updated(44, "vsubv")))
  }
  private lazy val simExpected: Seq[(Long, Long, Int)] = {
    val fps = simFixtures.map { case (id, t) =>
      id -> graft.pipeline.Dedup.simhash64(Analyzer.analyze(t)) }
    val fixturePairs = for {
      (i1, f1) <- fps; (i2, f2) <- fps if i1 < i2
      dd = graft.pipeline.Dedup.hamming(f1, f2) if dd <= 3
    } yield (i1, i2, dd)
    (0L until 25L).map(i => (i, i + 100000L, 0)) ++ fixturePairs
  }

  /** Exact cosine top-5 of vec_id < 10 — oracle for BOTH the brute-force
   * baseline (s1) and the exhaustively-probed LSH path (s2b). */
  private val s1Sql: String =
    s"""WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |              unnest(range(len(embedding))) AS pos FROM embeddings),
      |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nn FROM el GROUP BY vec_id),
      |dots AS (SELECT q.vec_id AS qid, c.vec_id AS id, sum(c.v * q.v) AS dot
      |         FROM el c JOIN el q ON c.pos = q.pos AND q.vec_id < 10 AND c.vec_id <> q.vec_id
      |         GROUP BY q.vec_id, c.vec_id),
      |cosv AS (SELECT qid, id, round(dot / (nc.nn * nq.nn), 6) AS cos
      |         FROM dots JOIN nrm nc ON dots.id = nc.vec_id JOIN nrm nq ON dots.qid = nq.vec_id)
      |SELECT qid, id, rank, cos FROM (
      |  SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS INT) AS rank, cos
      |  FROM cosv) WHERE rank <= 5""".stripMargin

  val specs3: Seq[Spec] = Seq(

    // Exact dedup: content-hash groups with >1 member.
    Spec("d1_dedup_exact",
      (s, d) => graft.pipeline.Dedup.exactGroups(dupCorpus(s, d), "doc_id", "text"),
      Some(s"""WITH $dupCorpusCte
        |SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS canonical_id
        |FROM corp GROUP BY md5(text) HAVING count(*) > 1""".stripMargin)),

    // Exact distinct-token-set Jaccard pairs (the dedup verification kernel).
    Spec("d2_jaccard_pairs",
      (s, d) => graft.pipeline.Dedup.tokenJaccardPairs(
        Transcripts.table(s, d, "documents"), "doc_id", "text", maxId = 150, threshold = 0.8),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |         FROM documents WHERE doc_id < 150),
        |dt AS (SELECT DISTINCT doc_id, term FROM tok),
        |nd AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) * 1.0 AS icnt
        |          FROM dt a JOIN dt b ON a.term = b.term AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id)
        |SELECT id1, id2, round(icnt / (n1.n + n2.n - icnt), 6) AS jaccard
        |FROM inter JOIN nd n1 ON inter.id1 = n1.doc_id JOIN nd n2 ON inter.id2 = n2.doc_id
        |WHERE icnt / (n1.n + n2.n - icnt) >= 0.8""".stripMargin)),

    // MinHash + LSH near-dup pipeline (shingle → signature → band-bucket
    // join → exact-Jaccard verify), gated on planted-pair recall: the
    // exact-dup pairs collide with certainty, the near-dup pairs (shingle
    // J ≈ (n−2)/(n−1)) with banding probability ≈ 1 (deterministic under
    // the fixed seed + corpus), and the oracle recomputes each planted
    // pair's exact 3-gram Jaccard independently in SQL.
    Spec("d3_minhash_lsh",
      (s, d) => graft.pipeline.Dedup.minhashLsh(nearDupCorpus(s, d), "doc_id", "text",
          shingleK = 3, bands = 8, rows = 4, threshold = 0.5)
        .join(broadcast(plantedPairsDf(s, d)), Seq("id1", "id2"))
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard")),
      Some(s"""WITH $nearDupCorpusCte,
        |$plantedPairsSql,
        |ids AS (SELECT id1 AS id FROM truth UNION SELECT id2 FROM truth),
        |tokp AS (SELECT c.doc_id AS doc_id,
        |           unnest(string_split(c.text, ' ')) AS term,
        |           unnest(range(len(string_split(c.text, ' ')))) AS pos
        |         FROM corp c JOIN ids ON c.doc_id = ids.id),
        |sh0 AS (SELECT doc_id,
        |          term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w AS sh
        |        FROM tokp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh IS NOT NULL),
        |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT t.id1 AS id1, t.id2 AS id2, count(*) * 1.0 AS icnt
        |          FROM truth t JOIN sh a ON a.doc_id = t.id1
        |          JOIN sh b ON b.doc_id = t.id2 AND a.sh = b.sh
        |          GROUP BY t.id1, t.id2)
        |SELECT inter.id1 AS id1, inter.id2 AS id2,
        |  round(icnt / (n1.n + n2.n - icnt), 6) AS jaccard
        |FROM inter JOIN ns n1 ON inter.id1 = n1.doc_id JOIN ns n2 ON inter.id2 = n2.doc_id
        |WHERE icnt / (n1.n + n2.n - icnt) >= 0.5""".stripMargin)),

    // SimHash near-dup pairs (fingerprint → 16-bit-chunk buckets → hamming
    // verify), gated on planted pairs: exact dups MUST surface at distance
    // 0, and the constant-text fixtures' expected distances (computed from
    // the same public simhash definition driver-side) pin the tokenize →
    // weighted-bit-vote → bucket-join path end-to-end.
    Spec("d4_simhash_pairs",
      (s, d) => {
        import s.implicits._
        val corpus = dupCorpus(s, d)
          .unionByName(simFixtures.toDF("doc_id", "text"))
        val truth = simExpected.map { case (a, b, _) => (a, b) }.toDF("id1", "id2")
        graft.pipeline.Dedup.simhashPairs(corpus, "doc_id", "text", maxDist = 3)
          .join(broadcast(truth), Seq("id1", "id2"))
          .select("id1", "id2", "dist")
      },
      Some {
        val rows = simExpected.map { case (a, b, dd) => s"($a, $b, $dd)" }.mkString(", ")
        s"""SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
           |  CAST(dist AS INT) AS dist
           |FROM (VALUES $rows) AS v(id1, id2, dist)""".stripMargin
      }),

    // Brute-force cosine ANN baseline: top-5 neighbours of vec_id < 10.
    Spec("s1_ann_cosine_topk",
      (s, d) => {
        val emb = Transcripts.table(s, d, "embeddings")
        graft.pipeline.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      },
      Some(s1Sql)),

    // LSH-bucketed ANN at the honest scale config (8 planes, 2-bit
    // multi-probe ≈ 14% of buckets), gated on planted recall: an exact copy
    // of each query vector (vec_id+500000) shares its bucket by definition,
    // so it MUST come back at cosine 1.0 — any bucketing/probing/rescore
    // regression drops or mis-scores the row. Partial-probe recall vs brute
    // force is asserted in SimilaritySpec.
    Spec("s2_ann_lsh_topk",
      (s, d) => {
        val emb = Transcripts.table(s, d, "embeddings").select("vec_id", "embedding")
        val q = emb.filter(col("vec_id") < 10)
        val corpus = emb.unionByName(
          q.select((col("vec_id") + 500000).as("vec_id"), col("embedding")))
        graft.pipeline.Similarity.lshTopK(corpus, q, k = 5, planes = 8, probeBits = 2)
          .filter(col("id") === col("qid") + 500000)
          .select("qid", "id", "cos")
      },
      Some("""SELECT vec_id AS qid, vec_id + 500000 AS id, CAST(1.0 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // Same LSH machinery probed EXHAUSTIVELY (probeBits = planes → every
    // bucket): the bucket join + in-bucket rescore must then reproduce the
    // brute-force top-k exactly, hash-gated against the s1 oracle — a full
    // end-to-end check of the bucket/probe/dedup/rescore pipeline.
    Spec("s2b_ann_lsh_full",
      (s, d) => {
        val emb = Transcripts.table(s, d, "embeddings")
        graft.pipeline.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          planes = 8, probeBits = 8)
      },
      Some(s1Sql)),

    // IVF-Flat ANN (k-means coarse quantizer on a bounded sample, map-only
    // cell assignment, probe join), gated on planted recall like s2: an
    // exact copy of each query vector gets the identical cell assignment
    // (bit-identical column math), and nprobe=1 probes exactly that cell —
    // the copy MUST come back at cosine 1.0.
    Spec("s3_ann_ivf_topk",
      (s, d) => {
        val emb = Transcripts.table(s, d, "embeddings").select("vec_id", "embedding")
        val q = emb.filter(col("vec_id") < 10)
        val corpus = emb.unionByName(
          q.select((col("vec_id") + 500000).as("vec_id"), col("embedding")))
        graft.pipeline.Similarity.ivfTopK(corpus, q, k = 5, cells = 16, nprobe = 1)
          .filter(col("id") === col("qid") + 500000)
          .select("qid", "id", "cos")
      },
      Some("""SELECT vec_id AS qid, vec_id + 500000 AS id, CAST(1.0 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // Same IVF machinery probed EXHAUSTIVELY (nprobe = cells): the
    // train/assign/probe/rescore pipeline must then reproduce the
    // brute-force top-k exactly, hash-gated against the s1 oracle.
    Spec("s3b_ann_ivf_full",
      (s, d) => {
        val emb = Transcripts.table(s, d, "embeddings")
        graft.pipeline.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          cells = 16, nprobe = 16)
      },
      Some(s1Sql)),

    // Per-doc text-quality statistics (all column math).
    Spec("x1_textstats",
      (s, d) => graft.pipeline.TextAnalysis.textStats(
        Transcripts.table(s, d, "documents"), "doc_id", "text"),
      Some {
        val stopList = graft.pipeline.TextAnalysis.STOPWORDS.map(s => s"'$s'").mkString(", ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
          |base AS (SELECT doc_id,
          |    len(string_split(text, ' ')) * 1.0 AS n,
          |    length(text) * 1.0 AS chars FROM documents),
          |uq AS (SELECT doc_id, count(DISTINCT term) * 1.0 AS nu FROM tok GROUP BY doc_id),
          |st AS (SELECT doc_id, count(*) * 1.0 AS ns FROM tok WHERE term IN ($stopList) GROUP BY doc_id)
          |SELECT base.doc_id AS id,
          |  CAST(base.n AS BIGINT) AS n_tokens,
          |  CAST(uq.nu AS BIGINT) AS n_uniq,
          |  round((base.chars - (base.n - 1)) / base.n, 6) AS avg_word_len,
          |  round(COALESCE(st.ns, 0.0) / base.n, 6) AS stop_ratio,
          |  round(uq.nu / base.n, 6) AS uniq_ratio,
          |  round(least(1.0, greatest(0.0,
          |    0.3 + 0.5 * (uq.nu / base.n) + 1.5 * (COALESCE(st.ns, 0.0) / base.n)
          |    - 0.002 * abs(base.n - 60))), 6) AS quality
          |FROM base JOIN uq ON base.doc_id = uq.doc_id
          |LEFT JOIN st ON base.doc_id = st.doc_id""".stripMargin
      }),

    // Language ID heuristic. Marker counting is non-overlapping, so DuckDB
    // mirrors the whole predictor: per-language marker-occurrence counts via
    // length(replace(...)), same normalization, same argmax tie order
    // (score DESC, lang DESC) — a full hash gate over the real corpus, with
    // natural-language behavior additionally pinned by unit tests.
    Spec("x2_langid",
      (s, d) => graft.pipeline.TextAnalysis.withLanguageScored(
          Transcripts.table(s, d, "documents"), "doc_id", "text")
        .select(col("id"), col("lang_pred"), round(col("lang_score"), 6).as("lang_score")),
      Some {
        def esc(m: String) = m.replace("'", "''")
        val perLang = graft.pipeline.TextAnalysis.PROFILES.toSeq.sortBy(_._1)
          .map { case (lang, ms) =>
            val cnt = ms.map(m =>
              s"(length(s) - length(replace(s, '${esc(m)}', ''))) // ${m.length}").mkString(" + ")
            s"SELECT id, '$lang' AS lang, CAST($cnt AS DOUBLE) / greatest(1, length(s)) AS score FROM p"
          }.mkString(" UNION ALL ")
        s"""WITH p AS (SELECT doc_id AS id, ' ' || lower(text) || ' ' AS s FROM documents),
          |sc AS ($perLang),
          |best AS (SELECT id, lang, score,
          |           row_number() OVER (PARTITION BY id ORDER BY score DESC, lang DESC) AS rn
          |         FROM sc)
          |SELECT id, CASE WHEN score = 0 THEN 'und' ELSE lang END AS lang_pred,
          |  round(CASE WHEN score = 0 THEN CAST(0.0 AS DOUBLE) ELSE score END, 6) AS lang_score
          |FROM best WHERE rn = 1""".stripMargin
      }),

    // Normalization fingerprint: md5 of analyzed tokens re-joined — equals
    // md5(text) exactly because the corpus text is already canonical.
    Spec("x3_fingerprint",
      (s, d) => graft.pipeline.TextAnalysis.normalizedFingerprint(
        Transcripts.table(s, d, "documents"), "doc_id", "text"),
      Some("SELECT doc_id AS id, md5(text) AS fingerprint FROM documents")),

    // BPE-ish LLM token estimate: alnum runs cost ceil(len/4).
    Spec("x4_approx_tokens",
      (s, d) => graft.pipeline.TextAnalysis.withApproxTokens(
        Transcripts.table(s, d, "documents"), "doc_id", "text"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT doc_id AS id, CAST(sum((length(term) + 3) // 4) AS BIGINT) AS approx_llm_tokens
        |FROM tok GROUP BY doc_id""".stripMargin)),

    // Gopher/C4-style n-gram repetition statistics: top-gram and
    // duplicated-gram fractions for unigrams and token bigrams, 6-dp
    // rounded, docs with < 2 tokens reporting bigram fractions 0.
    Spec("x5_repetition_stats",
      (s, d) => graft.pipeline.TextAnalysis.repetitionStats(
        Transcripts.table(s, d, "documents"), "doc_id", "text"),
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), uni AS (
        |  SELECT doc_id, 1 AS kind, unnest(t) AS gram FROM toks
        |), bi AS (
        |  SELECT doc_id, 2 AS kind,
        |         unnest(list_transform(generate_series(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i + 1])) AS gram
        |  FROM toks WHERE len(t) >= 2
        |), counts AS (
        |  SELECT doc_id, kind, gram, count(*) AS n
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) GROUP BY 1, 2, 3
        |), per_kind AS (
        |  SELECT doc_id, kind, max(n) AS topn, sum(n) AS total,
        |         sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS dupn
        |  FROM counts GROUP BY 1, 2
        |)
        |SELECT doc_id AS id,
        |  round(coalesce(max(CASE WHEN kind = 1 THEN topn / total END), 0.0), 6) AS top_unigram_frac,
        |  round(coalesce(max(CASE WHEN kind = 2 THEN topn / total END), 0.0), 6) AS top_bigram_frac,
        |  round(coalesce(max(CASE WHEN kind = 1 THEN dupn / total END), 0.0), 6) AS dup_unigram_frac,
        |  round(coalesce(max(CASE WHEN kind = 2 THEN dupn / total END), 0.0), 6) AS dup_bigram_frac
        |FROM per_kind GROUP BY doc_id""".stripMargin)),

    // Deterministic stratified sampling / domain mixing: LCG-keyed filter
    // sampling with per-source target fractions — the EXACT sampled row
    // set must match the oracle evaluating the same integer arithmetic
    // (reproducible-dataset-build contract, not a statistical test).
    Spec("c2_stratified_sample",
      (s, d) => graft.pipeline.Curation.stratifiedSample(
          Transcripts.table(s, d, "documents").select("doc_id", "source"),
          "doc_id", "source",
          fractions = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 1.0, "src3" -> 0.0),
          default = 0.1)
        .select("doc_id", "source"),
      Some(s"""SELECT doc_id, source FROM documents
        |WHERE (doc_id * 1103515245 + 12345) % 2147483648 <
        |  CASE source
        |    WHEN 'src0' THEN ${(1L << 31) / 2}
        |    WHEN 'src1' THEN ${(1L << 31) / 4}
        |    WHEN 'src2' THEN ${1L << 31}
        |    WHEN 'src3' THEN 0
        |    ELSE ${math.floor((1L << 31) * 0.1).toLong}
        |  END""".stripMargin)),

    // Embedding-cosine near-dup pairs (exact over a bounded id range —
    // the verification kernel behind cosine-threshold dedup).
    Spec("d5_embedding_neardup",
      (s, d) => {
        val emb = Transcripts.table(s, d, "embeddings").filter(col("vec_id") < 200)
        val a = emb.select(col("vec_id").as("id1"), col("embedding").as("v1"))
        val b = emb.select(col("vec_id").as("id2"), col("embedding").as("v2"))
        a.join(b, col("id1") < col("id2"))
          .withColumn("cos", round(graft.pipeline.Similarity.cosineCol(col("v1"), col("v2")), 6))
          .filter(col("cos") >= 0.25)
          .select("id1", "id2", "cos")
      },
      Some("""WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |            unnest(range(len(embedding))) AS pos FROM embeddings WHERE vec_id < 200),
        |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nn FROM el GROUP BY vec_id),
        |dots AS (SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.v * b.v) AS dot
        |         FROM el a JOIN el b ON a.pos = b.pos AND a.vec_id < b.vec_id
        |         GROUP BY a.vec_id, b.vec_id),
        |cosv AS (SELECT id1, id2, round(dot / (n1.nn * n2.nn), 6) AS cos
        |         FROM dots JOIN nrm n1 ON dots.id1 = n1.vec_id JOIN nrm n2 ON dots.id2 = n2.vec_id)
        |SELECT id1, id2, cos FROM cosv WHERE cos >= 0.25""".stripMargin)),

    // Multimodal stub pipeline: binary payload → mapPartitions batch decode
    // → metadata + feature norm. The gated columns (kind routing, byte
    // count, feature-vector norm over the first 8 payload bytes / 256) are
    // all SQL-derivable for the ASCII corpus, so the Dataset-encoding +
    // mapPartitions plumbing is hash-verified end-to-end; the hash-derived
    // width/height/duration stubs stay unit-tested (FakeCodec determinism).
    Spec("m1_multimodal_features",
      (s, d) => graft.pipeline.Multimodal.featuresOf(
          Transcripts.table(s, d, "documents"), "doc_id", "text")
        .select("id", "kind", "n_bytes", "feature_norm"),
      Some {
        val comps = (1 to 8).map(i =>
          s"(CASE WHEN length(text) >= $i THEN CAST(ord(substr(text, $i, 1)) AS DOUBLE) / 256.0 ELSE CAST(0 AS DOUBLE) END)")
        val sumSq = comps.map(t => s"$t * $t").mkString(" + ")
        s"""SELECT doc_id AS id,
          |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
          |  CAST(strlen(text) AS BIGINT) AS n_bytes,
          |  round(sqrt($sumSq), 6) AS feature_norm
          |FROM documents""".stripMargin
      })
  )

  // ---- batch 4: judged-frequency dump, query stats, multi-model pass ----
  val specs4: Seq[Spec] = Seq(

    // R5 — one scan of the posting source scoring SEVERAL models at once
    // (FeatureSearcher.java:51-140): per (qid, doc) a column per model.
    Spec("r5_multi_model",
      (s, d) => {
        val td = termDocs(s, d)
        val dct = dict(s, d)
        val st = corpusStats(s, d)
        val qts = Exact.qtermStats(topics, dct, Analyzer.Tag.NoStem)
        val in = graft.query.Scoring.In(
          tf = col("tf").cast("double"), docLen = col("docLen").cast("double"),
          df = col("df").cast("double"), cf = col("cf").cast("double"),
          kf = lit(1.0d), n = lit(st.numDocs.toDouble), c = lit(st.numTokens.toDouble))
        val models = Seq(
          "bm25" -> Scoring.BM25c(0.9, 0.4), "tfidf" -> Scoring.TFIDF, "rawtf" -> Scoring.RawTF)
        val aggs = models.map { case (nm, m) =>
          round(sum(m.expr(in) * col("mult")), 4).as(nm)
        }
        td.join(broadcast(qts), Seq("term"))
          .groupBy(col("qid"), col("docId").as("docid"))
          .agg(aggs.head, aggs.tail: _*)
      },
      Some(s"""WITH $CTES,
        |q(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult))
        |SELECT q.qid AS qid, 'doc-' || CAST(tf.doc_id AS VARCHAR) || '#0' AS docid,
        |  round(sum(q.mult * ($bm25Sql)), 4) AS bm25,
        |  round(sum(q.mult * ((1.2 * tf.tf / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / (st.c * 1.0 / st.n))))
        |    * (ln(st.n * 1.0 / dict.df + 1) / ln(2.0)))), 4) AS tfidf,
        |  round(sum(q.mult * CAST(tf.tf AS DOUBLE)), 4) AS rawtf
        |FROM q JOIN tf ON q.term = tf.term
        |JOIN dl ON tf.doc_id = dl.doc_id
        |JOIN dict ON q.term = dict.term CROSS JOIN st
        |GROUP BY q.qid, tf.doc_id""".stripMargin)),

    // A8 — query-judged frequency dump (TermFreqDistribution.java:107-145):
    // per (qid, term, judgeLevel): matched-doc count + Σ tf/docLen.
    Spec("a8_judged_freq",
      (s, d) => {
        new Exact.QueryTermLiterals(topics, Analyzer.Tag.NoStem).expand(termDocs(s, d))
          .join(qrelsDf(s, d), Seq("qid", "docId"))
          .groupBy("qid", "term", "judge")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("tf").cast("double") / col("docLen").cast("double")), 6).as("sum_relfreq"))
      },
      Some(s"""WITH $CTES,
        |$qrelsSqlCte,
        |q(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult))
        |SELECT q.qid AS qid, q.term AS term, qr.judge AS judge, count(*) AS cnt,
        |  round(sum(tf.tf * 1.0 / dl.dl), 6) AS sum_relfreq
        |FROM q
        |JOIN tf ON q.term = tf.term
        |JOIN dl ON tf.doc_id = dl.doc_id
        |JOIN qrels qr ON qr.qid = q.qid AND qr.docid = 'doc-' || CAST(tf.doc_id AS VARCHAR) || '#0'
        |GROUP BY q.qid, q.term, qr.judge""".stripMargin)),

    // A9 — per-query doc-length stats over docs matching any term
    // (stats/QueryStats.java:6-46): matched-df, Σdl, Σdl².
    Spec("a9_query_stats",
      (s, d) => {
        new Exact.QueryTermLiterals(topics, Analyzer.Tag.NoStem).expand(termDocs(s, d))
          .groupBy("qid", "docId").agg(first("docLen").as("dl"))
          .groupBy("qid")
          .agg(count(lit(1)).as("n_matched"), sum("dl").as("sum_dl"),
            sum(col("dl") * col("dl")).as("sum_dl2"))
      },
      Some(s"""WITH $CTES,
        |q(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |m AS (SELECT q.qid AS qid, tf.doc_id AS doc_id FROM q JOIN tf ON q.term = tf.term
        |      GROUP BY q.qid, tf.doc_id)
        |SELECT m.qid AS qid, count(*) AS n_matched,
        |  CAST(sum(dl.dl) AS BIGINT) AS sum_dl, CAST(sum(dl.dl * dl.dl) AS BIGINT) AS sum_dl2
        |FROM m JOIN dl ON m.doc_id = dl.doc_id GROUP BY m.qid""".stripMargin))
  )

  // ---- batch 5: stemming ----

  /** Hand-derived Porter2 golden pairs. Expected stems are derived from the
   * PUBLISHED Snowball spec (snowballstem.org, English/Porter2) — written
   * down independently of graft.analysis.Porter2, so the gate is a real
   * oracle for the implementation, covering: exceptional forms, every
   * step's suffix families, R1/R2 gating (incl. the famous no-backtrack
   * `agreement` case), double-undoubling, short-word e-restoration, and
   * the y/Y consonant marking. */
  val stemGolden: Seq[(String, String)] = Seq(
    // step 1a plural forms
    "caresses" -> "caress", "ponies" -> "poni", "ties" -> "tie",
    "cries" -> "cri", "flies" -> "fli", "dies" -> "die",
    "gas" -> "gas", "gaps" -> "gap", "kiwis" -> "kiwi", "dogs" -> "dog",
    "conspicuous" -> "conspicu",
    // exceptional forms + post-1a invariants
    "skis" -> "ski", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
    "ugly" -> "ugli", "only" -> "onli", "singly" -> "singl", "gently" -> "gentl",
    "sky" -> "sky", "news" -> "news", "bias" -> "bias",
    "exceed" -> "exceed", "proceed" -> "proceed", "inning" -> "inning",
    // step 1b: eed / ed / ing with at-bl-iz, double, short-word repair
    "agreed" -> "agre", "bled" -> "bled", "sized" -> "size",
    "hopping" -> "hop", "hoping" -> "hope", "running" -> "run",
    "singing" -> "sing", "failing" -> "fail", "filing" -> "file",
    "mating" -> "mate", "matting" -> "mat", "meeting" -> "meet",
    "meetings" -> "meet", "falling" -> "fall", "dropped" -> "drop",
    "owed" -> "owe", "arguing" -> "argu", "bowing" -> "bow", "taxing" -> "tax",
    // y handling (1c + consonant marking)
    "cry" -> "cri", "crying" -> "cri", "by" -> "by", "say" -> "say",
    "saying" -> "say", "enjoying" -> "enjoy", "yellow" -> "yellow",
    // steps 2-4 suffix chains and region gating
    "knightly" -> "knight", "national" -> "nation", "rational" -> "ration",
    "nationally" -> "nation", "conditional" -> "condit",
    "electricity" -> "electr", "electrical" -> "electr",
    "hopefulness" -> "hope", "agreement" -> "agreement",
    "replacement" -> "replac", "communication" -> "communic",
    "abilities" -> "abil", "ability" -> "abil", "visualization" -> "visual",
    "radically" -> "radic", "luckily" -> "luckili", "happily" -> "happili",
    "geology" -> "geolog", "authentication" -> "authent",
    "sensational" -> "sensat", "relational" -> "relat",
    "adoption" -> "adopt", "decision" -> "decis", "argument" -> "argument",
    "runner" -> "runner", "generate" -> "generat", "generously" -> "generous",
    "pirate" -> "pirat")

  /** Small parametric grid for the training gate: 6 BM25c points + 2
   * DirichletLM points (the full reference grids live in
   * [[graft.train.ParamTrain.parametricModels]], 190 points, same path). */
  private val gridModels: Seq[Scoring.Model] =
    Seq(0.9, 1.2, 2.0).flatMap(k => Seq(0.4, 0.75).map(b => Scoring.BM25c(k, b))) ++
      Seq(Scoring.DirichletLM(500), Scoring.DirichletLM(2500))

  private val gridMdlCte: String = {
    val rows = gridModels.map {
      case m @ Scoring.BM25c(k1, b)     => s"('${m.name}', 'BM25', ${k1}, ${b}, 0.0)"
      case m @ Scoring.DirichletLM(mu)  => s"('${m.name}', 'DirichletLM', 0.0, 0.0, ${mu})"
      case m => throw new IllegalStateException(m.name)
    }.mkString(", ")
    s"mdl(model, family, k1, b, mu) AS (SELECT * FROM (VALUES $rows) AS v(model, family, k1, b, mu))"
  }

  /** Per-(model, qid, doc) grid scores → ranked run → per-(model, qid)
   * ap/ndcg10, shared by the p1/p2 oracles. */
  private val sweepPqSql: String =
    s"""$gridMdlCte,
      |qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
      |$qrelsSqlCte,
      |scored AS (
      |  SELECT mdl.model AS model, qv.qid AS qid, tf.doc_id AS doc_id,
      |    round(sum((CASE WHEN mdl.family = 'BM25'
      |      THEN (tf.tf * (8.0 + 1.0) * 1.0 / (((8.0) + 1.0) * (mdl.k1 * ((1.0 - mdl.b) + mdl.b * dl.dl / (st.c * 1.0 / st.n)) + tf.tf)))
      |           * (ln((st.n - dict.df + 0.5) / (dict.df + 0.5)) / ln(2.0))
      |      ELSE (ln(1 + (tf.tf / (mdl.mu * (dict.cf / st.c)))) / ln(2.0))
      |           + (ln(mdl.mu / (dl.dl + mdl.mu)) / ln(2.0))
      |      END) * qv.mult), 4) AS score
      |  FROM mdl CROSS JOIN qv
      |  JOIN tf ON qv.term = tf.term
      |  JOIN dl ON tf.doc_id = dl.doc_id
      |  JOIN dict ON qv.term = dict.term
      |  CROSS JOIN st
      |  GROUP BY mdl.model, qv.qid, tf.doc_id),
      |run AS (SELECT * FROM (
      |    SELECT model, qid, 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid,
      |      CAST(row_number() OVER (PARTITION BY model, qid
      |        ORDER BY score DESC, ('doc-' || CAST(doc_id AS VARCHAR) || '#0') ASC) AS INT) AS rank
      |    FROM scored) WHERE rank <= $K),
      |j AS (SELECT r.model AS model, r.qid AS qid, r.rank AS rank,
      |        COALESCE(qr.judge, 0) AS judge,
      |        CASE WHEN COALESCE(qr.judge, 0) > 0 THEN 1 ELSE 0 END AS rel
      |      FROM run r LEFT JOIN qrels qr ON r.qid = qr.qid AND r.docid = qr.docid),
      |e AS (SELECT *,
      |        sum(rel) OVER (PARTITION BY model, qid ORDER BY rank) * 1.0 / rank AS precat,
      |        (pow(2.0, judge) - 1) / (ln(rank * 1.0 + 1) / ln(2.0)) AS dcggain
      |      FROM j),
      |agg AS (SELECT model, qid,
      |    sum(CASE WHEN rel = 1 THEN precat ELSE 0.0 END) AS apnum,
      |    sum(CASE WHEN rank <= 10 THEN dcggain ELSE 0.0 END) AS dcgatk
      |  FROM e GROUP BY model, qid),
      |nr AS (SELECT qid, count(*) AS numrel FROM qrels WHERE judge > 0 GROUP BY qid),
      |idcg AS (SELECT qid, sum((pow(2.0, judge) - 1) / (ln(irank * 1.0 + 1) / ln(2.0))) AS idcgatk
      |  FROM (SELECT qid, judge,
      |          row_number() OVER (PARTITION BY qid ORDER BY judge DESC, docid ASC) AS irank
      |        FROM qrels WHERE judge > 0)
      |  WHERE irank <= 10 GROUP BY qid),
      |pq AS (SELECT agg.model AS model, agg.qid AS qid,
      |  round(CASE WHEN nr.numrel IS NULL OR nr.numrel = 0 THEN 0.0 ELSE apnum / nr.numrel END, 6) AS ap,
      |  round(CASE WHEN idcg.idcgatk IS NULL OR idcg.idcgatk = 0 THEN 0.0 ELSE dcgatk / idcg.idcgatk END, 6) AS ndcg10
      |FROM agg LEFT JOIN nr ON agg.qid = nr.qid LEFT JOIN idcg ON agg.qid = idcg.qid)""".stripMargin

  /** Grid-sweep ranked runs, computed once per sfDir (p1/p2/ls1 all
   * consume them — without caching each gate re-scans and re-ranks the
   * whole sweep). */
  private def sweepRuns(s: SparkSession, d: String): DataFrame =
    persisted("sweepRuns", s, d)(graft.train.ParamTrain.sweepRuns(
      termDocs(s, d), dict(s, d), corpusStats(s, d), topics, gridModels,
      topK = K, roundedDouble = Some(4)))

  /** Rounded per-(model, qid) sweep metrics (shared by p1/p2/ls1 gate fns). */
  private def sweepPq(s: SparkSession, d: String): DataFrame =
    persisted("sweepPq", s, d)(
      graft.train.ParamTrain.sweepEval(sweepRuns(s, d), qrelsDf(s, d), k = 10)
        .select(col("model"), col("qid"),
          round(col("ap"), 6).as("ap"), round(col("ndcg10"), 6).as("ndcg10")))

  val specs5: Seq[Spec] = Seq(

    // P1 — one-pass parametric grid sweep (ParamTool.train substrate): 8
    // grid points scored in a single posting scan, ranked per (model, qid),
    // evaluated per query — the oracle recomputes the whole sweep in SQL.
    Spec("p1_param_sweep",
      (s, d) => sweepPq(s, d),
      Some(s"""WITH $CTES,
        |$sweepPqSql
        |SELECT model, qid, ap, ndcg10 FROM pq""".stripMargin)),

    // P2 — train() winners: best mean measure per family (ties → model
    // name asc), for MAP and NDCG@10 (ParamTool.java:119-138 semantics).
    Spec("p2_param_best",
      (s, d) => {
        val pq = sweepPq(s, d)
        val means = pq.groupBy("model").agg(
          round(avg("ap"), 6).as("mean_ap"),
          round(avg("ndcg10"), 6).as("mean_ndcg10"))
        val fams = gridModels.map(m => m.name -> graft.train.ParamTrain.familyOf(m)).toMap
        graft.train.ParamTrain.best(means, fams, "ap")
          .unionByName(graft.train.ParamTrain.best(means, fams, "ndcg10"))
      },
      Some {
        val famRows = gridModels
          .map(m => s"('${m.name}', '${graft.train.ParamTrain.familyOf(m)}')").mkString(", ")
        s"""WITH $CTES,
          |$sweepPqSql,
          |means AS (SELECT model, round(avg(ap), 6) AS mean_ap,
          |            round(avg(ndcg10), 6) AS mean_ndcg10 FROM pq GROUP BY model),
          |fam(model, family) AS (SELECT * FROM (VALUES $famRows) AS v(model, family)),
          |r1 AS (SELECT f.family AS family, 'ap' AS measure, m.model AS model,
          |         m.mean_ap AS mean_value,
          |         row_number() OVER (PARTITION BY f.family ORDER BY m.mean_ap DESC, m.model ASC) AS rn
          |       FROM means m JOIN fam f ON m.model = f.model),
          |r2 AS (SELECT f.family AS family, 'ndcg10' AS measure, m.model AS model,
          |         m.mean_ndcg10 AS mean_value,
          |         row_number() OVER (PARTITION BY f.family ORDER BY m.mean_ndcg10 DESC, m.model ASC) AS rn
          |       FROM means m JOIN fam f ON m.model = f.model)
          |SELECT family, measure, model, mean_value FROM r1 WHERE rn = 1
          |UNION ALL
          |SELECT family, measure, model, mean_value FROM r2 WHERE rn = 1""".stripMargin
      }),

    // Z1 — ZRisk over a (system × topic) value matrix (exp/ZRisk.java:23-88):
    // χ² deviation from row/column independence, distributed via two tiny
    // broadcast aggregates. Matrix: deterministic doc_id partitioning of
    // the documents table with n_chars mass.
    Spec("z1_zrisk",
      (s, d) => {
        val m = Transcripts.table(s, d, "documents")
          .groupBy((col("doc_id") % 4).as("system"), (col("doc_id") % 6).as("topic"))
          .agg(sum("n_chars").as("value"))
        graft.stats.Risk.zriskDf(m, "system", "topic", "value")
          .select(col("system"), round(col("zrisk"), 6).as("zrisk"))
      },
      Some("""WITH m AS (SELECT doc_id % 4 AS system, doc_id % 6 AS topic,
        |            CAST(sum(n_chars) AS DOUBLE) AS v
        |          FROM documents GROUP BY 1, 2),
        |rs AS (SELECT system, sum(v) AS rowsum FROM m GROUP BY system),
        |cs AS (SELECT topic, sum(v) AS colsum FROM m GROUP BY topic),
        |tot AS (SELECT sum(v) AS t FROM m)
        |SELECT m.system AS system,
        |  round(sum((m.v - (rs.rowsum * cs.colsum / tot.t)) * (m.v - (rs.rowsum * cs.colsum / tot.t))
        |            / (rs.rowsum * cs.colsum / tot.t)), 6) AS zrisk
        |FROM m JOIN rs USING (system) JOIN cs USING (topic) CROSS JOIN tot
        |GROUP BY m.system""".stripMargin)),

    // L1 — LTR text features (ltr/DocLength, Entropy, AvgTermLength,
    // CoveredTermCount/Ratio) per (qid, matched doc), K5's feature source.
    Spec("l1_ltr_features",
      (s, d) =>
        graft.ltr.DocFeatures.features(termDocs(s, d), topics, Analyzer.Tag.NoStem)
          .select(col("qid"), col("docId").as("docid"), col("doclen"),
            round(col("entropy"), 6).as("entropy"),
            round(col("avg_term_len"), 6).as("avg_term_len"),
            col("covered_cnt"),
            round(col("covered_ratio"), 6).as("covered_ratio")),
      Some(s"""WITH $CTES,
        |qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |ql AS (SELECT qid, sum(mult) AS qlen FROM qv GROUP BY qid),
        |docf AS (SELECT tf.doc_id AS doc_id, min(dl.dl) AS doclen,
        |           sum((tf.tf * 1.0 / dl.dl) * (-(ln(tf.tf * 1.0 / dl.dl) / ln(2.0)))) AS entropy,
        |           avg(CAST(length(tf.term) AS DOUBLE)) AS avg_term_len
        |         FROM tf JOIN dl ON tf.doc_id = dl.doc_id GROUP BY tf.doc_id),
        |cov AS (SELECT qv.qid AS qid, tf.doc_id AS doc_id,
        |          CAST(sum(qv.mult) AS BIGINT) AS covered_cnt, min(ql.qlen) AS qlen
        |        FROM qv JOIN tf ON qv.term = tf.term JOIN ql ON qv.qid = ql.qid
        |        GROUP BY qv.qid, tf.doc_id)
        |SELECT cov.qid AS qid, 'doc-' || CAST(cov.doc_id AS VARCHAR) || '#0' AS docid,
        |  CAST(docf.doclen AS BIGINT) AS doclen,
        |  round(docf.entropy, 6) AS entropy,
        |  round(docf.avg_term_len, 6) AS avg_term_len,
        |  cov.covered_cnt AS covered_cnt,
        |  round(CAST(cov.covered_cnt AS DOUBLE) / CAST(cov.qlen AS DOUBLE), 6) AS covered_ratio
        |FROM cov JOIN docf ON cov.doc_id = docf.doc_id""".stripMargin)),

    // MATF multi-aspect TF (MATF.java:14-202) per (qid, doc), qLen-aware —
    // the full formula (RITF/LRTF blend, QLF, TDF) mirrored op-for-op in SQL.
    Spec("r7_matf_scores",
      (s, d) => {
        val td = termDocs(s, d)
        val st = corpusStats(s, d)
        val qts = Exact.qtermStats(topics, dict(s, d), Analyzer.Tag.NoStem)
        val in = graft.query.Scoring.In(
          tf = col("tf").cast("double"), docLen = col("docLen").cast("double"),
          df = col("df").cast("double"), cf = col("cf").cast("double"),
          kf = lit(1.0d), n = lit(st.numDocs.toDouble), c = lit(st.numTokens.toDouble),
          qLen = col("qLen").cast("double"))
        td.join(broadcast(qts), Seq("term"))
          .groupBy(col("qid"), col("docId").as("docid"))
          .agg(round(sum(Scoring.MATF().expr(in) * col("mult")), 4).as("matf"))
      },
      Some(s"""WITH $CTES,
        |qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |ql AS (SELECT qid, CAST(sum(mult) AS DOUBLE) AS qlen FROM qv GROUP BY qid)
        |SELECT qv.qid AS qid, 'doc-' || CAST(tf.doc_id AS VARCHAR) || '#0' AS docid,
        |  round(sum((
        |    ((2.0 / (1 + (ln(1 + ql.qlen) / ln(2.0))))
        |       * (((ln(1 + tf.tf) / ln(2.0)) / (ln(1 + dl.dl) / ln(2.0)))
        |          / (1 + ((ln(1 + tf.tf) / ln(2.0)) / (ln(1 + dl.dl) / ln(2.0)))))
        |     + (1 - (2.0 / (1 + (ln(1 + ql.qlen) / ln(2.0)))))
        |       * ((tf.tf * (ln(1 + (st.c * 1.0 / st.n) / dl.dl) / ln(2.0)))
        |          / (1 + (tf.tf * (ln(1 + (st.c * 1.0 / st.n) / dl.dl) / ln(2.0))))))
        |    * ((ln((st.n + 1) / dict.df) / ln(2.0))
        |       * ((dict.cf / dict.df) / (1 + (dict.cf / dict.df))))
        |  ) * qv.mult), 4) AS matf
        |FROM qv
        |JOIN tf ON qv.term = tf.term
        |JOIN dl ON tf.doc_id = dl.doc_id
        |JOIN dict ON qv.term = dict.term
        |JOIN ql ON qv.qid = ql.qid
        |CROSS JOIN st
        |GROUP BY qv.qid, tf.doc_id""".stripMargin)),

    // LGDX empirical-CDF scoring (LGDX.java + EModelBase.sqlCDF + Prob2):
    // per-term tfn CDF as a range window, score = −log2((N−cdf)/N).
    Spec("r9_lgdx_scores",
      (s, d) => graft.query.EmpiricalCdf.scores(
          termDocs(s, d), dict(s, d), corpusStats(s, d), topics,
          Scoring.L2, graft.query.EmpiricalCdf.P2)
        .withColumnRenamed("docId", "docid"),
      Some(s"""WITH $CTES,
        |qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |base AS (SELECT tf.term AS term, tf.doc_id AS doc_id,
        |           round(tf.tf * (ln(1.0 + (st.c * 1.0 / st.n) / dl.dl) / ln(2.0)), 4) AS tfn
        |         FROM tf JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |         WHERE tf.term IN (SELECT DISTINCT term FROM qv)),
        |wc AS (SELECT term, doc_id,
        |         count(*) OVER (PARTITION BY term ORDER BY tfn
        |                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf
        |       FROM base)
        |SELECT qv.qid AS qid, 'doc-' || CAST(wc.doc_id AS VARCHAR) || '#0' AS docid,
        |  round(sum(-(ln((CAST(st.n AS DOUBLE) - wc.cdf) / CAST(st.n AS DOUBLE)) / ln(2.0)) * qv.mult), 4) AS lgdx
        |FROM qv JOIN wc ON qv.term = wc.term CROSS JOIN st
        |GROUP BY qv.qid, wc.doc_id""".stripMargin)),
    // G1 — Porter2 golden pairs THROUGH the distributed analyze chain
    // (Dataset → analyze(_, Snowball) per row), hash-gated against the
    // hand-derived VALUES above.
    Spec("g1_stem_golden",
      (s, d) => {
        import s.implicits._
        stemGolden.map(_._1).toDF("word")
          .as[String]
          .map(w => (w, Analyzer.analyzeQuery(w, Analyzer.Tag.Snowball).mkString(" ")))
          .toDF("word", "stem")
      },
      Some {
        val rows = stemGolden.map { case (w, st) => s"('$w', '$st')" }.mkString(", ")
        s"SELECT word, stem FROM (VALUES $rows) AS v(word, stem)"
      })
  )

  // ---- batch 6: Structured Streaming surface ----
  // Round-5 (r04 VERDICT #4): each gate streams from a parquet FILE source
  // — batches are executor-side parquet writes into a watched dir, with
  // explicit processAllAvailable() barriers preserving cross-batch order —
  // so the fixture mechanism is the same data path the engine runs in
  // production and the gates stay meaningful at every scale point (the old
  // driver-side MemoryStream deserialized the whole corpus per task and was
  // skipped at sf10). Output goes through a parquet sink where the mode
  // allows (st1/st4); the complete-mode st2 keeps the tiny memory sink.

  /** Run `f` on a new session (same SparkContext and cache, own conf) whose
   * `spark.sql.shuffle.partitions` is derived from the stream's document
   * volume — the caller's session conf is never written, so builds running
   * concurrently on it keep their parallelism. The conf fixes the
   * STATE-STORE partition count of a streaming query at its first batch —
   * AQE does not apply to streaming — so a session sized for batch
   * parallelism otherwise commits `cpus` state files per micro-batch for a
   * few thousand rows of state. Scale-adaptive, not a local[32] constant:
   * one state partition per ~2000 docs, capped at the session's own
   * parallelism (at sf10's 500k docs this saturates back to the session
   * value; at 100 TB the cap IS the cluster parallelism). Results are
   * partition-count-invariant (exact dedup / exact aggregation / stateless
   * map); only task and state-file counts change. */
  private def withStreamSession[A](s: SparkSession, nDocs: Long)(f: SparkSession => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val ss = s.newSession()
    ss.conf.set(key, math.max(2L, math.min(s.conf.get(key).toLong, nDocs / 2000L + 1L)).toString)
    f(ss)
  }

  // corpus-sized per-gate dirs (stream inputs/outputs/checkpoints) are
  // memo entries of their own, deleted by releaseCaches — a bench loop at
  // sf10 otherwise leaks several GB per suite run and later legs die with
  // ENOSPC (the same failure mode Bench.rmAll/ScaleBench guard against)
  private def streamTmp(prefix: String): String =
    derivations.inTempDir(java.util.UUID.randomUUID().toString, "stream", prefix)(identity)

  val specs6: Seq[Spec] = Seq(

    // ST1 — streaming exact dedup: first-seen content hash wins across
    // micro-batches (stateful dropDuplicates). Batch 1 = originals; batch 2
    // = exact copies (must be suppressed by state) + near-dups with one
    // appended token (new hashes, must pass). Both batches are DERIVED
    // column-side (no driver collect) and written as files.
    Spec("st1_stream_dedup",
      (s, d) => {
        val docs = Transcripts.table(s, d, "documents")
          .select(col("doc_id").cast("long").as("id"), col("text"))
        val b2 = docs.filter(col("id") < 25)
          .select((col("id") + 100000L).as("id"), col("text"))
          .unionByName(docs.filter(col("id") >= 25 && col("id") < 50)
            .select((col("id") + 200000L).as("id"),
              concat(col("text"), lit(" xnearx")).as("text")))
        val inDir = streamTmp("graft-st1-in")
        val outDir = streamTmp("graft-st1-out")
        // round 6: 2 files per barrier group (= one micro-batch each, at
        // maxFilesPerTrigger 2) instead of 4 — the cross-batch state
        // semantics the gate pins (originals fully committed before the
        // copies arrive) live in the processAllAvailable barrier, not in
        // how many micro-batches each group is chopped into
        withStreamSession(s, corpusStats(s, d).numDocs) { ss =>
          val src = ss.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2).parquet(inDir)
          val q = graft.streaming.Streams.dedupByContent(src, "id", "text")
            .writeStream.format("parquet").outputMode("append")
            .option("path", outDir)
            .option("checkpointLocation", streamTmp("graft-st1-ck")).start()
          try {
            docs.repartition(2).write.mode("append").parquet(inDir); q.processAllAvailable()
            b2.repartition(2).write.mode("append").parquet(inDir); q.processAllAvailable()
          } finally q.stop()
        }
        s.read.parquet(outDir)
      },
      Some("""SELECT doc_id AS id, md5(text) AS text_hash FROM documents
        |UNION ALL
        |SELECT doc_id + 200000 AS id, md5(text || ' xnearx') AS text_hash
        |FROM documents WHERE doc_id >= 25 AND doc_id < 50""".stripMargin)),

    // ST4 — streaming topic match / percolation: the standing topic set
    // scored against each incoming turn with BM25c under the STATIC
    // corpus's statistics — a stateless per-batch map (no shuffle, no
    // state store). Oracle = the same scored join in batch SQL, every
    // match kept (minScore 0; BM25 can go negative on every-doc terms,
    // which the threshold drops in both engines identically).
    Spec("st4_stream_match",
      (s, d) => {
        val docs = Transcripts.table(s, d, "documents")
          .select(col("doc_id").cast("long").as("id"), col("text"))
        val inDir = streamTmp("graft-st4-in")
        val outDir = streamTmp("graft-st4-out")
        withStreamSession(s, corpusStats(s, d).numDocs) { ss =>
          val src = ss.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2).parquet(inDir)
          val out = graft.streaming.Streams.topicMatches(
            src, "id", "text",
            topics, dict(s, d), corpusStats(s, d),
            Scoring.BM25c(0.9, 0.4), minScore = 0.0, floatBoundary = false)
            .select(col("id"), col("qid"), round(col("score"), 4).as("score"))
          val q = out.writeStream.format("parquet").outputMode("append")
            .option("path", outDir)
            .option("checkpointLocation", streamTmp("graft-st4-ck")).start()
          try {
            // stateless per-batch map: the split is arbitrary — parity keeps
            // both batches derived executor-side (2 files = 1 batch each)
            docs.filter(col("id") % 2 === 0).repartition(2)
              .write.mode("append").parquet(inDir)
            q.processAllAvailable()
            docs.filter(col("id") % 2 === 1).repartition(2)
              .write.mode("append").parquet(inDir)
            q.processAllAvailable()
          } finally q.stop()
        }
        s.read.parquet(outDir)
      },
      Some(s"""WITH $CTES,
        |qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |m AS (SELECT qv.qid AS qid, tf.doc_id AS id,
        |        sum(qv.mult * ($bm25Sql)) AS raw
        |      FROM qv
        |      JOIN tf ON qv.term = tf.term
        |      JOIN dl ON tf.doc_id = dl.doc_id
        |      JOIN dict ON qv.term = dict.term
        |      CROSS JOIN st
        |      GROUP BY qv.qid, tf.doc_id)
        |SELECT id, qid, round(raw, 4) AS score FROM m WHERE raw >= 0""".stripMargin)),

    // ST2 — event-time tumbling-window token stats (ts = doc_id seconds
    // since epoch, 60s windows); complete mode for a deterministic final
    // table (append-mode watermark finalization is pinned in StreamingSpec).
    Spec("st2_stream_window",
      (s, d) => {
        val docs = Transcripts.table(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val inDir = streamTmp("graft-st2-in")
        withStreamSession(s, corpusStats(s, d).numDocs) { ss =>
          val src = ss.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2).parquet(inDir)
            .withColumn("ts", col("doc_id").cast("timestamp"))
          val out = graft.streaming.Streams.windowedTokenStats(src, "ts", "text", "60 seconds")
          // the memory sink's view lives in the gate's own session
          val q = out.writeStream.format("memory").queryName("st2").outputMode("complete")
            .option("checkpointLocation", streamTmp("graft-st2-ck")).start()
          try {
            docs.filter(col("doc_id") < 250).repartition(2)
              .write.mode("append").parquet(inDir)
            q.processAllAvailable()
            docs.filter(col("doc_id") >= 250).repartition(2)
              .write.mode("append").parquet(inDir)
            q.processAllAvailable()
          } finally q.stop()
          ss.table("st2")
        }
      },
      Some("""SELECT (doc_id // 60) * 60 AS window_start, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY 1""".stripMargin)),

    // ST3 — incremental streaming index ingest: two micro-batches through
    // foreachBatch/appendBatch (disjoint shard ranges, dict from block
    // metadata), then the LOADED index's posting source must reproduce the
    // batch tokenization hash-exactly (same oracle as t1).
    Spec("st3_stream_index",
      (s, d) => {
        import s.implicits._
        val turns = Transcripts.fromDocuments(s, d)
        val inDir = streamTmp("graft-st3-in")
        val dir = streamTmp("graft-stream-idx")
        val ckpt = streamTmp("graft-stream-ckpt")
        withStreamSession(s, corpusStats(s, d).numDocs) { ss =>
          val src = ss.readStream.schema(turns.schema)
            .option("maxFilesPerTrigger", 2).parquet(inDir)
            .as[graft.model.Turn]
          val q = graft.streaming.Streams.indexSink(src, dir, docsPerShard = 256,
              streamToken = ckpt.hashCode.toHexString)
            .option("checkpointLocation", ckpt).start()
          try {
            // shard-disjoint appends regardless of split: parity halves,
            // derived executor-side (2 files = 1 appendBatch each)
            turns.toDF().filter(abs(hash(col("conv_id"))) % 2 === 0)
              .repartition(2).write.mode("append").parquet(inDir)
            q.processAllAvailable()
            turns.toDF().filter(abs(hash(col("conv_id"))) % 2 === 1)
              .repartition(2).write.mode("append").parquet(inDir)
            q.processAllAvailable()
          } finally q.stop()
        }
        IndexBuild.load(s, dir).termDocs
          .select(col("docId").as("docid"), col("term"), col("tf"))
      },
      Some(s"""WITH $CTES
        |SELECT 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid, term, tf FROM tf""".stripMargin))
  )

  // ---- batch 7: script fields + curation capstone ----

  /** Script fixtures (constant texts, mark-free tokens so UAX word-break
   * keeps each word whole): expected script labels are HAND-WRITTEN from
   * the Unicode script property — a real oracle for [[Analyzer.scriptOf]]. */
  private val scriptFixtures: Seq[(Int, String, Seq[(String, String)])] = Seq(
    (1, "Hello World", Seq("hello" -> "ascii", "world" -> "ascii")),
    (2, "привет мир", Seq("привет" -> "Cyrillic", "мир" -> "Cyrillic")),
    (3, "αλφα βητα", Seq("αλφα" -> "Greek", "βητα" -> "Greek")),
    (4, "שלום עולם", Seq("שלום" -> "Hebrew", "עולם" -> "Hebrew")),
    (5, "مرحبا", Seq("مرحبا" -> "Arabic")),
    (6, "안녕하세요", Seq("안녕하세요" -> "Hangul")),
    (7, "こんにちは 漢字", Seq("こんにちは" -> "Jpan", "漢字" -> "Jpan")),
    (8, "คน", Seq("คน" -> "Thai")),
    (9, "नमन", Seq("नमन" -> "Devanagari")),
    (10, "բարեւ", Seq("բարեւ" -> "Armenian")),
    (11, "გამარჯობა", Seq("გამარჯობა" -> "Georgian")),
    (12, "hello мир", Seq("hello" -> "ascii", "мир" -> "Cyrillic")))

  val specs7: Seq[Spec] = Seq(

    // T4 — script-partitioned fields (Indexer.java:113-119): tokens routed
    // to per-script labels (the reference's ten scripts + ascii), via the
    // distributed analyze + scriptOf path, against hand-written expectations.
    Spec("t4_script_fields",
      (s, d) => {
        import s.implicits._
        val tok = udf((t: String) => Analyzer.analyze(t))
        val scr = udf((t: String) => Analyzer.scriptOf(t))
        scriptFixtures.map { case (id, text, _) => (id, text) }.toDF("id", "text")
          .select(col("id"), explode(tok(col("text"))).as("token"))
          .select(col("id"), col("token"), scr(col("token")).as("script"))
      },
      Some {
        val rows = scriptFixtures.flatMap { case (id, _, toks) =>
          toks.map { case (t, sc) => s"($id, '$t', '$sc')" }
        }.mkString(", ")
        s"SELECT id, token, script FROM (VALUES $rows) AS v(id, token, script)"
      }),

    // C1 — curation capstone: exact dedup (smallest id per content hash) →
    // language filter (en) → quality band, the full mirror recomputed in SQL.
    Spec("c1_curation",
      (s, d) => graft.pipeline.Curation.curate(dupCorpus(s, d), "doc_id", "text",
        langs = Some(Set("en")), minQuality = 0.5),
      Some {
        def esc(m: String) = m.replace("'", "''")
        val perLang = graft.pipeline.TextAnalysis.PROFILES.toSeq.sortBy(_._1)
          .map { case (lang, ms) =>
            val cnt = ms.map(m =>
              s"(length(s) - length(replace(s, '${esc(m)}', ''))) // ${m.length}").mkString(" + ")
            s"SELECT id, '$lang' AS lang, CAST($cnt AS DOUBLE) / greatest(1, length(s)) AS score FROM p"
          }.mkString(" UNION ALL ")
        val stopList = graft.pipeline.TextAnalysis.STOPWORDS.map(w => s"'$w'").mkString(", ")
        s"""WITH $dupCorpusCte,
          |dd AS (SELECT doc_id AS id, text FROM (
          |    SELECT doc_id, text,
          |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
          |    FROM corp) WHERE rn = 1),
          |p AS (SELECT id, ' ' || lower(text) || ' ' AS s FROM dd),
          |sc AS ($perLang),
          |lng AS (SELECT id, CASE WHEN score = 0 THEN 'und' ELSE lang END AS lang_pred FROM (
          |    SELECT id, lang, score,
          |      row_number() OVER (PARTITION BY id ORDER BY score DESC, lang DESC) AS rn
          |    FROM sc) WHERE rn = 1),
          |tok AS (SELECT id, unnest(string_split(text, ' ')) AS term FROM dd),
          |qbase AS (SELECT id, len(string_split(text, ' ')) * 1.0 AS n FROM dd),
          |uq AS (SELECT id, count(DISTINCT term) * 1.0 AS nu FROM tok GROUP BY id),
          |stp AS (SELECT id, count(*) * 1.0 AS ns FROM tok WHERE term IN ($stopList) GROUP BY id),
          |qual AS (SELECT qbase.id AS id,
          |    round(least(1.0, greatest(0.0,
          |      0.3 + 0.5 * (uq.nu / qbase.n) + 1.5 * (COALESCE(stp.ns, 0.0) / qbase.n)
          |      - 0.002 * abs(qbase.n - 60))), 6) AS quality
          |  FROM qbase JOIN uq ON qbase.id = uq.id LEFT JOIN stp ON qbase.id = stp.id)
          |SELECT lng.id AS id, lng.lang_pred AS lang_pred, qual.quality AS quality
          |FROM lng JOIN qual ON lng.id = qual.id
          |WHERE lng.lang_pred = 'en' AND qual.quality >= 0.5""".stripMargin
      })
  )

  // ---- batch 8: stock-Lucene similarity grid (Models.java:105-127) ----
  val specs8: Seq[Spec] = Seq(

    // R8 — one posting scan scoring seven representative cells of the
    // 130-model stock grid (a DFR cell per after-effect/normalization
    // family, both IB distributions/lambdas, Classic, stock BM25, stock
    // LM-JM), each mirrored operation-for-operation in SQL.
    Spec("r8_stock_grid",
      (s, d) => {
        import graft.query.StockLucene
        import graft.query.StockLucene._
        val td = termDocs(s, d)
        val st = corpusStats(s, d)
        val qts = Exact.qtermStats(topics, dict(s, d), Analyzer.Tag.NoStem)
        val in = graft.query.Scoring.In(
          tf = col("tf").cast("double"), docLen = col("docLen").cast("double"),
          df = col("df").cast("double"), cf = col("cf").cast("double"),
          kf = lit(1.0d), n = lit(st.numDocs.toDouble), c = lit(st.numTokens.toDouble))
        val models: Seq[(String, Scoring.Model)] = Seq(
          "dfr_inl2" -> Dfr(BIn, GL, H2),
          "dfr_gb1" -> Dfr(BG, GB, H1),
          "ib_ll_df_h2" -> Ib(DistLL, LamDF, H2),
          "ib_spl_ttf_h1" -> Ib(DistSPL, LamTTF, H1),
          "classic" -> StockLucene.Classic,
          "lucene_bm25" -> LuceneBM25(),
          "lucene_lmjm" -> LuceneLMJM(0.7))
        val aggs = models.map { case (nm, m) =>
          round(sum(m.expr(in) * col("mult")), 4).as(nm)
        }
        td.join(broadcast(qts), Seq("term"))
          .groupBy(col("qid"), col("docId").as("docid"))
          .agg(aggs.head, aggs.tail: _*)
      },
      Some(s"""WITH $CTES,
        |qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |b AS (SELECT qv.qid AS qid, tf.doc_id AS doc_id, qv.mult AS mult,
        |        CAST(tf.tf AS DOUBLE) AS tf, CAST(dl.dl AS DOUBLE) AS dl,
        |        CAST(dict.df AS DOUBLE) AS df, CAST(dict.cf AS DOUBLE) AS cf,
        |        CAST(st.n AS DOUBLE) AS n, CAST(st.c AS DOUBLE) AS c,
        |        st.c * 1.0 / st.n AS avgdl
        |      FROM qv JOIN tf ON qv.term = tf.term
        |      JOIN dl ON tf.doc_id = dl.doc_id
        |      JOIN dict ON qv.term = dict.term CROSS JOIN st),
        |sp AS (SELECT qid, doc_id, mult,
        |        -- tfn under H2 and H1
        |        tf * (ln(1 + avgdl / dl) / ln(2.0)) AS tfn2,
        |        tf * avgdl / dl AS tfn1,
        |        -- SPL lambda (TTF), nudged off the λ=1 singularity
        |        CASE WHEN abs((cf + 1) / (n + 1) - 1.0) < 1e-9
        |             THEN 1.0 + 1e-9 ELSE (cf + 1) / (n + 1) END AS lttf,
        |        tf, dl, df, cf, n, c, avgdl
        |      FROM b)
        |SELECT qid, 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid,
        |  round(sum(mult * ((1.0 / (tfn2 + 1)) * tfn2 * (ln((n + 1) / (df + 0.5)) / ln(2.0)))), 4) AS dfr_inl2,
        |  round(sum(mult * (((cf + 1) / (df * (tfn1 + 1)))
        |    * ((ln(1 + cf / (n + cf)) / ln(2.0))
        |       + tfn1 * (ln((1 + cf / (n + cf)) / (cf / (n + cf))) / ln(2.0))))), 4) AS dfr_gb1,
        |  round(sum(mult * (ln(1 + tfn2 / ((df + 1) / (n + 1))) / ln(2.0))), 4) AS ib_ll_df_h2,
        |  round(sum(mult * (-(ln((pow(lttf, tfn1 / (tfn1 + 1)) - lttf) / (1 - lttf)) / ln(2.0)))), 4) AS ib_spl_ttf_h1,
        |  round(sum(mult * (sqrt(tf) * pow(1 + ln((n + 1) / (df + 1)), 2) / sqrt(dl))), 4) AS classic,
        |  round(sum(mult * (ln(1 + (n - df + 0.5) / (df + 0.5))
        |    * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))), 4) AS lucene_bm25,
        |  round(sum(mult * (ln(1 + ((1 - 0.7) * tf / dl) / (0.7 * (cf + 1) / (c + 1))))), 4) AS lucene_lmjm
        |FROM sp
        |GROUP BY qid, doc_id""".stripMargin)),

    // R3 — fielded DisMax with minimum-should-match (Searcher.java:232-323),
    // hash-gated: documents are split deterministically into a 'title' field
    // (first 8 tokens, boost 0.9) and 'contents' (rest, boost 0.3); per-field
    // BM25c(0.9,0.4) under per-field collection stats, DisjunctionMax
    // max + 0.1·(sum−max) per term, msm(len) filter, top-20.
    Spec("r3_fielded_dismax",
      (s, d) => {
        // prebuilt fielded index (built once per sfDir); the query plan is
        // term-pruned scans only — no corpus aggregate per call
        graft.query.Fielded.searchIndexed(fieldedIndex(s, d, "split"), topics,
            Scoring.BM25c(0.9, 0.4), K, rounded = Some(4))
          .withColumnRenamed("docId", "docid")
      },
      Some(r3OracleSql))
  )

  /** Shared by r3 (flat join+window path) and r3c (block-max WAND path) —
   * the two engines must produce the identical fielded DisMax result. */
  private lazy val r3OracleSql: String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |f AS (
        |  SELECT doc_id, 'title' AS field, list_slice(toks, 1, 8) AS ftoks FROM base
        |  UNION ALL
        |  SELECT doc_id, 'contents' AS field, list_slice(toks, 9, len(toks)) AS ftoks
        |  FROM base WHERE len(toks) > 8),
        |ftok AS (SELECT doc_id, field, len(ftoks) AS fdl, unnest(ftoks) AS term FROM f),
        |ftf AS (SELECT doc_id, field, term, max(fdl) AS fdl, count(*) AS tf
        |        FROM ftok GROUP BY doc_id, field, term),
        |fstat AS (SELECT field, count(DISTINCT doc_id) AS fn, sum(tf) AS fc
        |          FROM ftf GROUP BY field),
        |fdict AS (SELECT field, term, count(*) AS df, sum(tf) AS cf
        |          FROM ftf GROUP BY field, term),
        |qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |qn AS (SELECT qid, count(*) AS nterms FROM qv GROUP BY qid),
        |sc AS (
        |  SELECT qv.qid AS qid, ftf.doc_id AS doc_id, qv.term AS term,
        |    qv.mult AS mult, qn.nterms AS nterms,
        |    (CASE ftf.field WHEN 'title' THEN 0.9 ELSE 0.3 END) * CAST(
        |      (ftf.tf * (8.0 + 1.0) * 1.0 / (((8.0) + 1.0)
        |         * (0.9 * ((1.0 - 0.4) + 0.4 * ftf.fdl / (fstat.fc * 1.0 / fstat.fn)) + ftf.tf)))
        |      * (ln((fstat.fn - fdict.df + 0.5) / (fdict.df + 0.5)) / ln(2.0)) AS REAL) AS s
        |  FROM qv
        |  JOIN ftf ON qv.term = ftf.term
        |  JOIN fdict ON ftf.field = fdict.field AND qv.term = fdict.term
        |  JOIN fstat ON ftf.field = fstat.field
        |  JOIN qn ON qv.qid = qn.qid),
        |pt AS (SELECT qid, doc_id, term, max(mult) AS mult, max(nterms) AS nterms,
        |         max(s) AS mx, sum(s) AS sm
        |       FROM sc GROUP BY qid, doc_id, term),
        |pd AS (SELECT qid, doc_id,
        |         round(sum((mx + 0.1 * (sm - mx)) * mult), 4) AS score,
        |         count(*) AS matched, max(nterms) AS n
        |       FROM pt GROUP BY qid, doc_id
        |       HAVING count(*) >= (CASE WHEN max(nterms) < 3 THEN max(nterms)
        |                                WHEN max(nterms) < 5 THEN max(nterms) - 1
        |                                ELSE max(nterms) - 2 END)),
        |ranked AS (SELECT qid, 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, ('doc-' || CAST(doc_id AS VARCHAR) || '#0') ASC) AS INT) AS rank, score
        |  FROM pd)
        |SELECT qid, docid, rank, score FROM ranked WHERE rank <= $K""".stripMargin

  // ---- batch 9 (round 3): NCG / statAP metrics, natural-field retrieval ----

  /** Synthetic prels (the statAP perl script's 5-column sampled qrels):
   * same (qid, doc) universe as [[qrelsDf]] plus a deterministic inclusion
   * probability iprob ∈ {0.2, 0.4, 0.6, 0.8}. */
  private def prelsDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qids = topics.map(_.qid).toDF("qid")
    Transcripts.table(s, d, "documents")
      .select(col("doc_id"))
      .crossJoin(broadcast(qids))
      .filter((col("doc_id") + col("qid") * 7) % 5 === 0)
      .select(col("qid"),
        concat(lit("doc-"), col("doc_id").cast("string"), lit("#0")).as("docId"),
        (col("doc_id") % 3).cast("int").as("judge"),
        (lit(0.2) + (col("doc_id") % 4).cast("double") * lit(0.2)).as("iprob"))
  }

  private val prelsSqlCte =
    s"""prels AS (SELECT q.qid AS qid,
       |  'doc-' || CAST(d.doc_id AS VARCHAR) || '#0' AS docid,
       |  CAST(d.doc_id % 3 AS INT) AS judge,
       |  CAST(0.2 AS DOUBLE) + CAST(d.doc_id % 4 AS DOUBLE) * CAST(0.2 AS DOUBLE) AS iprob
       |  FROM documents d CROSS JOIN (VALUES $qidValues) AS q(qid)
       |  WHERE (d.doc_id + q.qid * 7) % 5 = 0)""".stripMargin

  /** KStem golden pairs (plural / past / participle / irregular /
   * protected / pass-through), expected values from the Krovetz rules +
   * subset lexicon. */
  private val kstemGolden: Seq[(String, String)] = Seq(
    "cities" -> "city", "tables" -> "table", "churches" -> "church",
    "boxes" -> "box", "classes" -> "class", "merges" -> "merge",
    "uses" -> "use", "species" -> "species", "series" -> "series",
    "status" -> "status", "tried" -> "try", "stopped" -> "stop",
    "used" -> "use", "walked" -> "walk", "merged" -> "merge",
    "agreed" -> "agree", "passed" -> "pass", "running" -> "run",
    "filing" -> "file", "walking" -> "walk", "using" -> "use",
    "falling" -> "fall", "writing" -> "write", "thing" -> "thing",
    "during" -> "during", "string" -> "string", "children" -> "child",
    "men" -> "man", "feet" -> "foot", "indices" -> "index",
    "wrote" -> "write", "taken" -> "take", "thought" -> "think",
    "known" -> "know", "spark" -> "spark", "hundred" -> "hundred",
    // round-4 lexicon growth: e-restorations that FELL BACK to the bare
    // rule outcome before (hoped→hop, danced→danc, …) and now arbitrate
    "hoped" -> "hope", "hoping" -> "hope", "danced" -> "dance",
    "dancing" -> "dance", "shaped" -> "shape", "sliced" -> "slice",
    "escaped" -> "escape", "traded" -> "trade", "promised" -> "promise",
    "confused" -> "confuse", "describing" -> "describe",
    "surprising" -> "surprise", "upgraded" -> "upgrade",
    "settled" -> "settle", "struggled" -> "struggle",
    "retrieved" -> "retrieve", "consumed" -> "consume",
    "competing" -> "compete", "subscribed" -> "subscribe",
    "welcomed" -> "welcome",
    // round-5 growth: new e-final heads, -sses arbitration, protected
    // function words, and further irregular conflations
    "noticed" -> "notice", "services" -> "service", "practiced" -> "practice",
    "emphasized" -> "emphasize", "encouraging" -> "encourage",
    "collapsed" -> "collapse", "devised" -> "devise",
    "finesses" -> "finesse", "pipelines" -> "pipeline",
    "templates" -> "template", "outsourced" -> "outsource",
    "streamlined" -> "streamline", "sentences" -> "sentence",
    "these" -> "these", "whereas" -> "whereas",
    "goes" -> "go", "heroes" -> "hero", "echoes" -> "echo",
    "became" -> "become", "froze" -> "freeze", "struck" -> "strike",
    "heard" -> "hear", "sought" -> "seek", "hidden" -> "hide",
    "spent" -> "spend", "woke" -> "wake")

  /** Topics over the natural document fields: content words plus `source` /
   * `lang` metadata values (src0..src19, en/es/de/zh…). */
  val fieldTopics: Seq[Topic] = Seq(
    Topic(11, "spark merge"),          // content-only
    Topic(12, "spark src7"),           // content + source metadata
    Topic(13, "merge window en"),      // content + lang, 3 terms → msm 2
    Topic(14, "src3 es"))              // metadata-only
  private def fieldQValues: String =
    Exact.queryTerms(fieldTopics, Analyzer.Tag.NoStem)
      .map { case (qid, term, mult, _) => s"($qid, '$term', $mult)" }.mkString(", ")

  val specs9: Seq[Spec] = Seq(

    // NCG@10 (knn/Measure.java:20, trec_eval ncg_cut — eval/TrecEval.java:64-68):
    // cumulated linear gain over ideal cumulated gain at the cutoff.
    Spec("nc1_ncg",
      (s, d) => Metrics.ncgAtK(
          bm25Run(s, d).withColumnRenamed("docid", "docId"), qrelsDf(s, d), k = 10)
        .select(col("qid"), round(col("ncg10"), 6).as("ncg10")),
      Some(s"""WITH $CTES,
        |$runSqlCte,
        |$qrelsSqlCte,
        |cg AS (SELECT r.qid AS qid,
        |    sum(CAST(greatest(COALESCE(qr.judge, 0), 0) AS DOUBLE)) AS cg
        |  FROM run r LEFT JOIN qrels qr ON r.qid = qr.qid AND r.docid = qr.docid
        |  WHERE r.rank <= 10 GROUP BY r.qid),
        |icg AS (SELECT qid, sum(CAST(judge AS DOUBLE)) AS icg FROM (
        |    SELECT qid, judge,
        |      row_number() OVER (PARTITION BY qid ORDER BY judge DESC, docid ASC) AS irank
        |    FROM qrels WHERE judge > 0) WHERE irank <= 10 GROUP BY qid),
        |qq AS (SELECT DISTINCT qid FROM run)
        |SELECT qq.qid AS qid,
        |  round(CASE WHEN icg.icg IS NULL OR icg.icg = 0 THEN 0.0
        |             ELSE COALESCE(cg.cg, 0.0) / icg.icg END, 6) AS ncg10
        |FROM qq LEFT JOIN cg ON qq.qid = cg.qid LEFT JOIN icg ON qq.qid = icg.qid""".stripMargin)),

    // statAP (statAP_MQ_eval_v4.pl:229-333 estimator; parsed by
    // eval/StatAP.java): inferred AP over sampled judgments with inclusion
    // probabilities.
    Spec("sa1_statap",
      (s, d) => Metrics.statAP(
          bm25Run(s, d).withColumnRenamed("docid", "docId"), prelsDf(s, d))
        .select(col("qid"), round(col("statap"), 6).as("statap")),
      Some(s"""WITH $CTES,
        |$runSqlCte,
        |$prelsSqlCte,
        |j AS (SELECT r.qid AS qid, r.docid AS docid, r.rank AS rank, p.judge AS judge, p.iprob AS iprob
        |      FROM run r LEFT JOIN prels p ON r.qid = p.qid AND r.docid = p.docid),
        |e AS (SELECT *, CASE WHEN judge > 0 THEN 1.0 / iprob ELSE 0.0 END AS relw FROM j),
        |e2 AS (SELECT *, COALESCE(sum(relw) OVER (PARTITION BY qid ORDER BY rank
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS prevsum FROM e),
        |up AS (SELECT qid, sum(CASE WHEN judge > 0
        |         THEN ((1.0 + prevsum) / rank) / iprob ELSE 0.0 END) AS up
        |       FROM e2 GROUP BY qid),
        |rq AS (SELECT qid, sum(1.0 / iprob) AS rq FROM prels WHERE judge > 0 GROUP BY qid),
        |qq AS (SELECT DISTINCT qid FROM run)
        |SELECT qq.qid AS qid,
        |  round(CASE WHEN rq.rq IS NULL OR rq.rq = 0 THEN 0.0
        |             ELSE COALESCE(up.up, 0.0) / rq.rq END, 6) AS statap
        |FROM qq LEFT JOIN up ON qq.qid = up.qid LEFT JOIN rq ON qq.qid = rq.qid""".stripMargin)),

    // QF1 — per-QUERY frequency distribution
    // (`freq/QueryFreqDistribution.java:42-107`): conjunctive (AND) match
    // over the query's DISTINCT terms, per-doc relative frequency =
    // MetaTerm score = Σ_terms tf/dl, LengthNormalized-binned, counted per
    // (qid, bin). numHits unbounded (the reference passes a top-k; every
    // match is binned here — documented).
    Spec("qf1_query_freq",
      (s, d) => {
        val rf = new Exact.QueryTermLiterals(topics, Analyzer.Tag.NoStem).expand(termDocs(s, d))
          .groupBy("qid", "docId")
          .agg((sum(col("tf")).cast("double") / first("docLen")).as("rf"),
            count(lit(1)).as("matched"), first("nTerms").as("nTerms"))
          .filter(col("matched") === col("nTerms"))
        rf.withColumn("bin", Histograms.binCol(col("rf"), 100))
          .groupBy("qid", "bin").agg(count(lit(1)).as("cnt"))
      },
      Some(s"""WITH $CTES,
        |qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |qn AS (SELECT qid, count(*) AS nterms FROM qv GROUP BY qid),
        |m AS (SELECT qv.qid AS qid, tf.doc_id AS doc_id,
        |        CAST(sum(tf.tf) AS DOUBLE) / max(dl.dl) AS rf,
        |        count(*) AS matched
        |      FROM qv JOIN tf ON qv.term = tf.term
        |      JOIN dl ON tf.doc_id = dl.doc_id
        |      GROUP BY qv.qid, tf.doc_id),
        |am AS (SELECT m.* FROM m JOIN qn ON m.qid = qn.qid WHERE m.matched = qn.nterms),
        |b AS (SELECT qid,
        |        CAST(CASE WHEN floor(rf * 100) = 100 THEN floor(rf * 100)
        |                  ELSE floor(rf * 100) + 1 END AS INT) AS bin
        |      FROM am)
        |SELECT qid, bin, count(*) AS cnt FROM b GROUP BY qid, bin""".stripMargin)),

    // GF1 — goodness-of-fit of per-term tf distributions to
    // Poisson(λ = cf/N) (`exp/GOF.java:57-85`): for tf < 20, observed doc
    // count (tf = 0 row = N − df), Poisson pmf, expected = round(prob·N),
    // chi = (obs − exp)²/exp (NULL when expected = 0). Deviation note: the
    // pmf is the closed form e^{−λ}λ^tf/tf! (exact `factorial` in both
    // engines) rather than commons-math's saddle-point expansion — they
    // agree to ~1e-15 at these λ; rows exist only for observed tf values,
    // where the reference's map lookup is non-null.
    Spec("gf1_gof_poisson",
      (s, d) => {
        val st = corpusStats(s, d)
        val n = st.numDocs.toDouble
        val dictF = dict(s, d).filter(col("term").isin(histTerms: _*))
        val observed = termDocs(s, d)
          .filter(col("term").isin(histTerms: _*) && col("tf") < 20)
          .groupBy("term", "tf").agg(count(lit(1)).as("observed"))
          .unionByName(dictF.select(col("term"), lit(0L).as("tf"),
            (lit(st.numDocs) - col("df")).as("observed")))
        val lam = dictF.select(col("term"), (col("cf").cast("double") / lit(n)).as("lambda"))
        val prob = round(
          exp(-col("lambda")) * pow(col("lambda"), col("tf").cast("double")) /
            factorial(col("tf").cast("int")).cast("double"), 6)
        observed.join(broadcast(lam), "term")
          .withColumn("prob", prob)
          .withColumn("expected", floor(col("prob") * lit(n) + lit(0.5)).cast("long"))
          .withColumn("chi",
            when(col("expected") === 0, lit(null).cast("double"))
              .otherwise(round(
                pow((col("observed") - col("expected")).cast("double"), 2) /
                  col("expected").cast("double"), 4)))
          .select("term", "tf", "observed", "prob", "expected", "chi")
      },
      Some(s"""WITH $CTES,
        |obs AS (SELECT term, tf, count(*) AS observed FROM tf
        |        WHERE term IN ${sqlTermList(histTerms)} AND tf < 20 GROUP BY term, tf
        |        UNION ALL
        |        SELECT dict.term AS term, 0 AS tf,
        |          (SELECT n FROM st) - dict.df AS observed
        |        FROM dict WHERE dict.term IN ${sqlTermList(histTerms)}),
        |lam AS (SELECT term, CAST(cf AS DOUBLE) / (SELECT n FROM st) AS lambda
        |        FROM dict WHERE term IN ${sqlTermList(histTerms)}),
        |g AS (SELECT obs.term AS term, obs.tf AS tf, obs.observed AS observed,
        |        round(exp(-lam.lambda) * pow(lam.lambda, CAST(obs.tf AS DOUBLE))
        |          / CAST(factorial(CAST(obs.tf AS INT)) AS DOUBLE), 6) AS prob
        |      FROM obs JOIN lam ON obs.term = lam.term),
        |e AS (SELECT *, CAST(floor(prob * (SELECT n FROM st) + 0.5) AS BIGINT) AS expected FROM g)
        |SELECT term, tf, observed, prob, expected,
        |  CASE WHEN expected = 0 THEN NULL
        |       ELSE round(pow(CAST(observed - expected AS DOUBLE), 2)
        |         / CAST(expected AS DOUBLE), 4) END AS chi
        |FROM e""".stripMargin)),

    // A4b — LengthNormalized distribution under Round2 binning
    // (freq/Round2Binning.java:8-24): bin = round(tf/dl, 2)·100, half-up.
    Spec("a4b_round2_histogram",
      (s, d) => Histograms.roundBinned(termDocs(s, d), histTerms, digits = 2)
        .orderBy("term", "bin"),
      Some(s"""WITH $CTES
        |SELECT tf.term AS term,
        |  CAST(round(CAST(tf.tf AS DOUBLE) / dl.dl * 100, 0) AS INT) AS bin,
        |  count(*) AS cnt
        |FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |WHERE tf.term IN ${sqlTermList(histTerms)}
        |GROUP BY tf.term, bin""".stripMargin)),

    // RB1 — Rule-Based model selection (eval/RBEvaluator.scoreRuleBased:
    // 40-57): 1-word → RawTF; any cf/N > e → DFIC; 2-word → df-ratio < 2 →
    // LogTFNv0L0 else DPH; else DFIC. e = 0.5 (half an occurrence expected
    // in an average doc).
    Spec("rb1_rule_based",
      (s, d) => {
        val st = corpusStats(s, d)
        Exact.qtermStats(topics, dict(s, d), Analyzer.Tag.NoStem)
          .groupBy("qid")
          .agg(first("qLen").as("qlen"), max("cf").as("maxcf"),
            max("df").as("maxdf"), min("df").as("mindf"))
          .select(col("qid"),
            when(col("qlen") === 1, "RawTF")
              .when(col("maxcf").cast("double") / lit(st.numDocs.toDouble) > 0.5, "DFIC")
              .when(col("qlen") === 2,
                when(col("maxdf").cast("double") / col("mindf") < 2.0, "LogTFNv0L0")
                  .otherwise("DPH"))
              .otherwise("DFIC").as("model"))
      },
      Some(s"""WITH $CTES,
        |qv(qid, term, mult) AS (SELECT * FROM (VALUES $qValues) AS v(qid, term, mult)),
        |ql AS (SELECT qid, sum(mult) AS qlen FROM qv GROUP BY qid),
        |qstat AS (SELECT qv.qid AS qid, max(ql.qlen) AS qlen,
        |    max(dict.cf) AS maxcf, max(dict.df) AS maxdf, min(dict.df) AS mindf
        |  FROM qv JOIN dict ON qv.term = dict.term
        |  JOIN ql ON qv.qid = ql.qid GROUP BY qv.qid)
        |SELECT qid,
        |  CASE WHEN qlen = 1 THEN 'RawTF'
        |       WHEN CAST(maxcf AS DOUBLE) / (SELECT n FROM st) > 0.5 THEN 'DFIC'
        |       WHEN qlen = 2 THEN
        |         CASE WHEN CAST(maxdf AS DOUBLE) / mindf < 2.0 THEN 'LogTFNv0L0' ELSE 'DPH' END
        |       ELSE 'DFIC' END AS model
        |FROM qstat""".stripMargin)),

    // G2 — KStem golden pairs (the reference's DEFAULT index tag,
    // Analyzers.java:95-101): published Krovetz rules + documented subset
    // lexicon (analysis/KStem.scala), driven through the full analyze chain.
    Spec("g2_kstem_golden",
      (s, d) => {
        import s.implicits._
        kstemGolden.map(_._1).toDF("word")
          .as[String]
          .map(w => (w, Analyzer.analyzeQuery(w, Analyzer.Tag.KStem).mkString(" ")))
          .toDF("word", "stem")
      },
      Some {
        val rows = kstemGolden.map { case (w, st) => s"('$w', '$st')" }.mkString(", ")
        s"SELECT word, stem FROM (VALUES $rows) AS v(word, stem)"
      }),

    // LS1 — LearningToSelect end-to-end (LearningToSelect.java:1-440):
    // KL features between the base model's and each candidate's sweep runs
    // (Lee-normalized over the top-K intersection), leave-one-out KNN (k=3)
    // per candidate, chosen model = best mean-of-neighbors AP.
    Spec("ls1_learn_select",
      (s, d) => {
        val baseName = Scoring.BM25c(0.9, 0.4).name
        val feats = graft.train.LearnToSelect.klFeatures(
          sweepRuns(s, d), baseName, n = K)
        graft.train.LearnToSelect.select(feats,
          sweepPq(s, d).select("model", "qid", "ap"), "ap", k = 3)
      },
      Some {
        val baseName = Scoring.BM25c(0.9, 0.4).name
        s"""WITH $CTES,
          |$sweepPqSql,
          |lsrun AS (SELECT * FROM (
          |    SELECT model, qid, 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid, score,
          |      CAST(row_number() OVER (PARTITION BY model, qid
          |        ORDER BY score DESC, ('doc-' || CAST(doc_id AS VARCHAR) || '#0') ASC) AS INT) AS rank
          |    FROM scored) WHERE rank <= $K),
          |lsbase AS (SELECT qid, docid, score AS bs FROM lsrun WHERE model = '$baseName'),
          |lscand AS (SELECT model, qid, docid, score AS cs FROM lsrun WHERE model <> '$baseName'),
          |lsinter AS (SELECT c.model AS model, c.qid AS qid, c.cs AS cs, b.bs AS bs
          |            FROM lscand c JOIN lsbase b ON c.qid = b.qid AND c.docid = b.docid),
          |lsst AS (SELECT model, qid, count(*) AS cnt,
          |           min(bs) AS bmn, max(bs) AS bmx, min(cs) AS cmn, max(cs) AS cmx
          |         FROM lsinter GROUP BY model, qid),
          |lsnrm AS (SELECT i.model AS model, i.qid AS qid,
          |    CASE WHEN s.cnt = 1 THEN 1.0 + 0.01 WHEN s.bmn = s.bmx THEN 0.01
          |         ELSE (i.bs - s.bmn) / (s.bmx - s.bmn) + 0.01 END AS rb,
          |    CASE WHEN s.cnt = 1 THEN 1.0 + 0.01 WHEN s.cmn = s.cmx THEN 0.01
          |         ELSE (i.cs - s.cmn) / (s.cmx - s.cmn) + 0.01 END AS rc
          |  FROM lsinter i JOIN lsst s ON i.model = s.model AND i.qid = s.qid),
          |lsfeat0 AS (SELECT model, qid,
          |    round(sum(rb * (ln(rb / rc) / ln(2.0))) / count(*), 6) AS kl
          |  FROM lsnrm GROUP BY model, qid),
          |lsdom AS (SELECT DISTINCT model, qid FROM lscand),
          |lsfeat AS (SELECT d.model AS model, d.qid AS qid,
          |    COALESCE(f.kl, 1000000000.0) AS kl
          |  FROM lsdom d LEFT JOIN lsfeat0 f ON d.model = f.model AND d.qid = f.qid),
          |lspairs AS (SELECT t.model AS model, t.qid AS qid, o.qid AS nqid,
          |    abs(t.kl - o.kl) AS dist
          |  FROM lsfeat t JOIN lsfeat o ON t.model = o.model AND t.qid <> o.qid),
          |lsneigh AS (SELECT * FROM (SELECT model, qid, nqid,
          |    row_number() OVER (PARTITION BY model, qid ORDER BY dist ASC, nqid ASC) AS nrank
          |  FROM lspairs) WHERE nrank <= 3),
          |lspred AS (SELECT n.model AS model, n.qid AS qid, round(avg(p.ap), 6) AS pred
          |  FROM lsneigh n JOIN pq p ON n.model = p.model AND n.nqid = p.qid
          |  GROUP BY n.model, n.qid),
          |lschosen AS (SELECT * FROM (SELECT model, qid, pred,
          |    row_number() OVER (PARTITION BY qid ORDER BY pred DESC, model ASC) AS rn
          |  FROM lspred) WHERE rn = 1)
          |SELECT c.qid AS qid, c.model AS model_pred, c.pred AS pred,
          |  COALESCE(p.ap, 0.0) AS actual
          |FROM lschosen c LEFT JOIN pq p ON c.model = p.model AND c.qid = p.qid""".stripMargin
      }),

    // R3b — fielded DisMax over the documents' NATURAL fields (VERDICT round-2
    // "What's missing" #3; reference field mode `Indexer.java:413-512`):
    // contents = text tokens (boost 0.3), source = the source column's value
    // as a one-token field (boost 0.9), lang likewise (boost 0.5). Genuine
    // per-field doclens/df/cf — no synthesized title split.
    Spec("r3b_fielded_natural",
      (s, d) => {
        graft.query.Fielded.searchIndexed(fieldedIndex(s, d, "natural"), fieldTopics,
            Scoring.BM25c(0.9, 0.4), K,
            boosts = Map("source" -> 0.9, "lang" -> 0.5, "contents" -> 0.3),
            rounded = Some(4))
          .withColumnRenamed("docId", "docid")
      },
      Some(s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks, lang, source FROM documents),
        |ctok AS (SELECT doc_id, 'contents' AS field, len(toks) AS fdl, unnest(toks) AS term FROM base),
        |ctf AS (SELECT doc_id, field, term, max(fdl) AS fdl, count(*) AS tf
        |        FROM ctok GROUP BY doc_id, field, term),
        |mtf AS (SELECT doc_id, 'source' AS field, source AS term, 1 AS fdl, 1 AS tf FROM base
        |        UNION ALL
        |        SELECT doc_id, 'lang' AS field, lang AS term, 1 AS fdl, 1 AS tf FROM base),
        |ftf AS (SELECT * FROM ctf UNION ALL SELECT * FROM mtf),
        |fstat AS (SELECT field, count(DISTINCT doc_id) AS fn, sum(tf) AS fc
        |          FROM ftf GROUP BY field),
        |fdict AS (SELECT field, term, count(*) AS df, sum(tf) AS cf
        |          FROM ftf GROUP BY field, term),
        |qv(qid, term, mult) AS (SELECT * FROM (VALUES $fieldQValues) AS v(qid, term, mult)),
        |qn AS (SELECT qid, count(*) AS nterms FROM qv GROUP BY qid),
        |sc AS (
        |  SELECT qv.qid AS qid, ftf.doc_id AS doc_id, qv.term AS term,
        |    qv.mult AS mult, qn.nterms AS nterms,
        |    (CASE ftf.field WHEN 'source' THEN 0.9 WHEN 'lang' THEN 0.5 ELSE 0.3 END) * CAST(
        |      (ftf.tf * (8.0 + 1.0) * 1.0 / (((8.0) + 1.0)
        |         * (0.9 * ((1.0 - 0.4) + 0.4 * ftf.fdl / (fstat.fc * 1.0 / fstat.fn)) + ftf.tf)))
        |      * (ln((fstat.fn - fdict.df + 0.5) / (fdict.df + 0.5)) / ln(2.0)) AS REAL) AS s
        |  FROM qv
        |  JOIN ftf ON qv.term = ftf.term
        |  JOIN fdict ON ftf.field = fdict.field AND qv.term = fdict.term
        |  JOIN fstat ON ftf.field = fstat.field
        |  JOIN qn ON qv.qid = qn.qid),
        |pt AS (SELECT qid, doc_id, term, max(mult) AS mult, max(nterms) AS nterms,
        |         max(s) AS mx, sum(s) AS sm
        |       FROM sc GROUP BY qid, doc_id, term),
        |pd AS (SELECT qid, doc_id,
        |         round(sum((mx + 0.1 * (sm - mx)) * mult), 4) AS score,
        |         count(*) AS matched, max(nterms) AS n
        |       FROM pt GROUP BY qid, doc_id
        |       HAVING count(*) >= (CASE WHEN max(nterms) < 3 THEN max(nterms)
        |                                WHEN max(nterms) < 5 THEN max(nterms) - 1
        |                                ELSE max(nterms) - 2 END)),
        |ranked AS (SELECT qid, 'doc-' || CAST(doc_id AS VARCHAR) || '#0' AS docid,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, ('doc-' || CAST(doc_id AS VARCHAR) || '#0') ASC) AS INT) AS rank, score
        |  FROM pd)
        |SELECT qid, docid, rank, score FROM ranked WHERE rank <= $K""".stripMargin))
  )

  // ---- batch 10 (round 4): spam ROC intrinsic eval, all-pairs sig matrix ----

  /** Synthetic RocTool input: qid × every document with a qrels grade
   * (−2 spam … 2 relevant; −1 exercises the reference's uncounted "junk"
   * path) and the r6 fixture's percentile (doc_id % 100). */
  private def rocLabeled(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qids = topics.map(_.qid).toDF("qid")
    Transcripts.table(s, d, "documents")
      .select(col("doc_id"))
      .crossJoin(broadcast(qids))
      .select(col("qid"),
        concat(lit("doc-"), col("doc_id").cast("string"), lit("#0")).as("docId"),
        ((col("doc_id") + col("qid")) % 5 - 2).cast("int").as("grade"),
        (col("doc_id") % 100).cast("int").as("percentile"),
        // exactly-representable 0.5-step odds in [−10, 15.5] ⊂ the valid
        // Fusion odds range — bin math is exact in both engines
        ((col("doc_id") % 52) * 0.5 - 10.0).as("odds"))
  }

  /** The standard English stop set (Lucene `ENGLISH_STOP_WORDS_SET` — the
   * classic public 33-word Smart/Fox subset the reference defaults to). */
  private val englishStopWords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  private val rocLabeledSqlCte =
    s"""lab AS (SELECT q.qid AS qid, d.doc_id AS doc_id,
       |  CAST((d.doc_id + q.qid) % 5 - 2 AS INT) AS grade,
       |  CAST(d.doc_id % 100 AS INT) AS percentile,
       |  (d.doc_id % 52) * 0.5 - 10.0 AS odds
       |  FROM documents d CROSS JOIN (VALUES $qidValues) AS q(qid))""".stripMargin

  private val confusionSql =
    """round(CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fp) END, 6) AS "precision",
      |  round(CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fn) END, 6) AS recall,
      |  round(CASE WHEN tn + fp = 0 THEN 0.0 ELSE fp * 1.0 / (tn + fp) END, 6) AS fallout,
      |  round(CASE WHEN (CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fp) END)
      |           + (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fn) END) = 0 THEN 0.0
      |        ELSE 2.0 * (CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fp) END)
      |           * (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fn) END)
      |           / ((CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fp) END)
      |            + (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fn) END)) END, 6) AS f1""".stripMargin

  private def rocSelect(df: DataFrame): DataFrame =
    df.select(col("threshold"), col("tp"), col("tn"), col("fp"), col("fn"),
      round(col("precision"), 6).as("precision"), round(col("recall"), 6).as("recall"),
      round(col("fallout"), 6).as("fallout"), round(col("f1"), 6).as("f1"))

  val specs10: Seq[Spec] = Seq(

    // RC1 — spam intrinsic evaluation, percentile thresholds
    // (`cmdline/RocTool.java:193-221` classify + `:297-371` distribution):
    // per-class percentile histogram → confusion matrix + precision /
    // recall / fallout / F1 at every threshold 0..100. The corpus touches
    // ONE aggregation; the threshold sweep runs on the ≤100-row histogram.
    Spec("rc1_spam_roc",
      (s, d) => rocSelect(graft.eval.Spam.rocPercentile(rocLabeled(s, d), 0 to 100)),
      Some(s"""WITH $rocLabeledSqlCte,
        |hist AS (SELECT percentile,
        |    CAST(sum(CASE WHEN grade = -2 THEN 1 ELSE 0 END) AS BIGINT) AS spam,
        |    CAST(sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS BIGINT) AS relevant
        |  FROM lab GROUP BY percentile),
        |cm AS (SELECT CAST(th.threshold AS INT) AS threshold,
        |    CAST(COALESCE(sum(CASE WHEN percentile < th.threshold THEN spam END), 0) AS BIGINT) AS tp,
        |    CAST(COALESCE(sum(CASE WHEN percentile >= th.threshold THEN relevant END), 0) AS BIGINT) AS tn,
        |    CAST(COALESCE(sum(CASE WHEN percentile < th.threshold THEN relevant END), 0) AS BIGINT) AS fp,
        |    CAST(COALESCE(sum(CASE WHEN percentile >= th.threshold THEN spam END), 0) AS BIGINT) AS fn
        |  FROM range(0, 101) th(threshold) CROSS JOIN hist GROUP BY th.threshold)
        |SELECT threshold, tp, tn, fp, fn,
        |  $confusionSql
        |FROM cm""".stripMargin)),

    // RC1b — spam intrinsic evaluation over the Fusion log-odds bins
    // (`spam/OddsBinning.java` + `RocTool.classifyOdds:223-254`): bins are
    // the fixed 0.5-wide intervals (floor(2·odds + 21)), and the spam label
    // direction flips — bin ABOVE threshold ⇒ spam.
    Spec("rc1b_spam_roc_odds",
      (s, d) => rocSelect(graft.eval.Spam.rocOdds(rocLabeled(s, d), 0 to 52)),
      Some(s"""WITH $rocLabeledSqlCte,
        |binned AS (SELECT *, CAST(floor(2.0 * odds + 21.0) AS INT) AS bin FROM lab),
        |hist AS (SELECT bin,
        |    CAST(sum(CASE WHEN grade = -2 THEN 1 ELSE 0 END) AS BIGINT) AS spam,
        |    CAST(sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS BIGINT) AS relevant
        |  FROM binned GROUP BY bin),
        |cm AS (SELECT CAST(th.threshold AS INT) AS threshold,
        |    CAST(COALESCE(sum(CASE WHEN bin > th.threshold THEN spam END), 0) AS BIGINT) AS tp,
        |    CAST(COALESCE(sum(CASE WHEN bin <= th.threshold THEN relevant END), 0) AS BIGINT) AS tn,
        |    CAST(COALESCE(sum(CASE WHEN bin > th.threshold THEN relevant END), 0) AS BIGINT) AS fp,
        |    CAST(COALESCE(sum(CASE WHEN bin <= th.threshold THEN spam END), 0) AS BIGINT) AS fn
        |  FROM range(0, 53) th(threshold) CROSS JOIN hist GROUP BY th.threshold)
        |SELECT threshold, tp, tn, fp, fn,
        |  $confusionSql
        |FROM cm""".stripMargin)),

    // SW1 — stop-word distribution analysis (`cmdline/StopWordTool.java:
    // 49-86`): the A4 LengthNormalized histogram restricted to the standard
    // English stop set (the reference falls back to Lucene's
    // ENGLISH_STOP_WORDS_SET) — A7 as an explicit first-class gate.
    Spec("sw1_stopword_histogram",
      (s, d) => graft.stats.Histograms.lengthNormalized(termDocs(s, d), englishStopWords, 10),
      Some(s"""WITH $CTES,
        |j AS (SELECT tf.term AS term, CAST(floor(tf.tf * 1.0 / dl.dl * 10) AS INT) AS v
        |      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |      WHERE tf.term IN ${sqlTermList(englishStopWords)})
        |SELECT term, CASE WHEN v = 10 THEN v ELSE v + 1 END AS bin, count(*) AS cnt
        |FROM j GROUP BY 1, 2""".stripMargin)),

    // JH1 — judgement-coverage histogram per model over the sweep's top-10
    // (`cmdline/JudgeTool.java:120-152` radix counts): unjudged / spam /
    // grade-0..4 counts of retrieved docs — the run-pool coverage analytic.
    // Judged over a WIDER fixture than qrelsDf (grades −2..4, universe
    // (doc+3·qid)%4==0), so every radix cell — spam and g3/g4 included —
    // carries non-zero mass the gate actually checks. The oracle mirrors
    // judgeHistogram's qrels dedup (max judge per (qid, doc) — the
    // reference's map-lookup semantics under duplicate qrels lines).
    Spec("jh1_judge_histogram",
      (s, d) => {
        import s.implicits._
        val qids = topics.map(_.qid).toDF("qid")
        val jhQrels = Transcripts.table(s, d, "documents")
          .select(col("doc_id"))
          .crossJoin(broadcast(qids))
          .filter((col("doc_id") + col("qid") * 3) % 4 === 0)
          .select(col("qid"),
            concat(lit("doc-"), col("doc_id").cast("string"), lit("#0")).as("docId"),
            ((col("doc_id") + col("qid")) % 7 - 2).cast("int").as("judge"))
        graft.eval.Metrics.judgeHistogram(sweepRuns(s, d), jhQrels, k = 10)
      },
      Some(s"""WITH $CTES,
        |$sweepPqSql,
        |jhq AS (SELECT q.qid AS qid,
        |    'doc-' || CAST(d.doc_id AS VARCHAR) || '#0' AS docid,
        |    CAST((d.doc_id + q.qid) % 7 - 2 AS INT) AS judge
        |  FROM documents d CROSS JOIN (VALUES $qidValues) AS q(qid)
        |  WHERE (d.doc_id + q.qid * 3) % 4 = 0),
        |jhu AS (SELECT qid, docid, max(judge) AS judge FROM jhq GROUP BY qid, docid)
        |SELECT r.model AS model,
        |  CAST(sum(CASE WHEN qr.judge IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unjudged,
        |  CAST(sum(CASE WHEN qr.judge = -2 THEN 1 ELSE 0 END) AS BIGINT) AS spam,
        |  CAST(sum(CASE WHEN qr.judge = 0 THEN 1 ELSE 0 END) AS BIGINT) AS g0,
        |  CAST(sum(CASE WHEN qr.judge = 1 THEN 1 ELSE 0 END) AS BIGINT) AS g1,
        |  CAST(sum(CASE WHEN qr.judge = 2 THEN 1 ELSE 0 END) AS BIGINT) AS g2,
        |  CAST(sum(CASE WHEN qr.judge = 3 THEN 1 ELSE 0 END) AS BIGINT) AS g3,
        |  CAST(sum(CASE WHEN qr.judge = 4 THEN 1 ELSE 0 END) AS BIGINT) AS g4
        |FROM run r LEFT JOIN jhu qr ON r.qid = qr.qid AND r.docid = qr.docid
        |WHERE r.rank <= 10
        |GROUP BY r.model""".stripMargin)),

    // Z2 — all-model-pairs significance matrix (the Evaluator.java pairwise
    // facet) over the p1 sweep's per-(model, qid) AP: paired-t + Wilcoxon
    // signed-rank z per unordered pair, as one grouped DataFrame op with
    // windowed average-tie ranks — no driver loop over pairs.
    Spec("z2_sig_matrix",
      (s, d) => {
        graft.stats.Risk.sigMatrixDf(sweepPq(s, d), "model", "qid", "ap")
          .select(col("model_a"), col("model_b"), col("n"),
            round(col("t"), 6).as("t"), round(col("wz"), 6).as("wz"))
      },
      Some(s"""WITH $CTES,
        |$sweepPqSql,
        |prs AS (SELECT a.model AS model_a, b.model AS model_b,
        |    b.ap - a.ap AS dd, abs(b.ap - a.ap) AS absd
        |  FROM pq a JOIN pq b ON a.qid = b.qid AND a.model < b.model),
        |rk AS (SELECT *,
        |    rank() OVER (PARTITION BY model_a, model_b ORDER BY absd) AS minrank,
        |    count(*) OVER (PARTITION BY model_a, model_b, absd) AS ties
        |  FROM prs),
        |ag AS (SELECT model_a, model_b, CAST(count(*) AS BIGINT) AS n,
        |    avg(dd) AS meand, var_samp(dd) AS vard,
        |    sum(CASE WHEN dd > 0 THEN minrank + (ties - 1) / 2.0 ELSE 0.0 END) AS wplus
        |  FROM rk GROUP BY model_a, model_b)
        |SELECT model_a, model_b, n,
        |  round(meand / sqrt(vard / n), 6) AS t,
        |  round((wplus - n * (n + 1) / 4.0 - 0.5)
        |    / sqrt((n * (n + 1) / 4.0) * (2.0 * n + 1) / 6.0), 6) AS wz
        |FROM ag""".stripMargin))
  )

  // ---- batch 11 (round 5): early-terminating fielded retrieval ----

  /** (input, expected NoStemTurkish analysis, expected F5 analysis) —
   * hand-written from the Lucene apostrophe / turkishlowercase / truncate
   * filter semantics. */
  private val turkishGolden: Seq[(String, String, String)] = Seq(
    ("Türkiye'nin başkenti", "türkiye başkenti", "türki başke"),
    ("İstanbul IRMAK", "istanbul ırmak", "istan ırmak"),
    ("DIŞİŞLERİ", "dışişleri", "dışiş"),
    ("Ankara’dan geldi", "ankara geldi", "ankar geldi"),
    ("izmir", "izmir", "izmir"),
    ("O'nun evi", "o evi", "o evi"),
    ("ILIK su", "ılık su", "ılık su"))

  val specs11: Seq[Spec] = Seq(
    // R3c — the SAME fielded DisMax result as r3, produced by the
    // early-terminating block-max WAND over per-(field, term) posting
    // blocks (round-4 VERDICT next-round #1) instead of the flat
    // join+window plan; hash-matches the identical oracle.
    Spec("r3c_fielded_bmw",
      (s, d) => docidNamed(graft.query.FieldedBlockMax.search(fieldedBlockIndex(s, d, "split"),
          topics, Scoring.BM25c(0.9, 0.4), K, rounded = Some(4))),
      Some(r3OracleSql)),

    // G3 — rule-based Turkish analyzer tags (round-4 VERDICT #8,
    // Analyzers.java:169-181): apostrophe + turkishlowercase (+ truncate-5
    // for F5), against hand-written expected analyses. Inputs exercise the
    // İ→i / I→ı casing, apostrophe suffixes (both ' and ’), and the 5-char
    // truncation boundary.
    Spec("g3_turkish_tags",
      (s, d) => {
        import s.implicits._
        turkishGolden.map(_._1).toDF("word")
          .as[String]
          .map(w => (w,
            Analyzer.analyze(w, Analyzer.Tag.NoStemTurkish).mkString(" "),
            Analyzer.analyze(w, Analyzer.Tag.F5).mkString(" ")))
          .toDF("word", "nostemturkish", "f5")
      },
      Some {
        def q(s: String) = s.replace("'", "''") // SQL-literal apostrophe escape
        val rows = turkishGolden
          .map { case (w, ns, f5) => s"('${q(w)}', '${q(ns)}', '${q(f5)}')" }.mkString(", ")
        s"SELECT word, nostemturkish, f5 FROM (VALUES $rows) AS v(word, nostemturkish, f5)"
      }),

    // M2 — REAL multimodal decode (round-4 VERDICT #3): PNG/GIF/JPEG
    // header bytes built per-document (format cycling by id, dims derived
    // arithmetically), parsed back by HeaderCodec from the magic bytes.
    // The oracle recomputes the dims from the id — a wrong parse of any
    // container cannot hash-match.
    Spec("m2_image_headers",
      (s, d) => graft.pipeline.Multimodal.imageHeaderFeatures(
        Transcripts.table(s, d, "documents"), "doc_id"),
      Some("""SELECT CAST(doc_id AS BIGINT) AS id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS kind,
        |  CAST(1 + doc_id % 1920 AS INT) AS width,
        |  CAST(1 + doc_id % 1080 AS INT) AS height,
        |  CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 13 ELSE 50 END AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin))
  )

  private def allSpecs: Seq[Spec] =
    specs ++ specs2 ++ specs3 ++ specs4 ++ specs5 ++ specs6 ++ specs7 ++ specs8 ++ specs9 ++ specs10 ++ specs11

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allSpecs.map(s => s.name -> s.fn).toMap

  def oracleSql: Map[String, String] =
    allSpecs.flatMap(s => s.oracle.map(s.name -> _)).toMap
}

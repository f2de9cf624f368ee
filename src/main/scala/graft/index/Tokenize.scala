package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.data.Transcripts
import graft.model.{CorpusStats, Turn}

/**
 * Tokenization stage (SURVEY.md §2.3 T1/T2): turns → per-(doc, term) tf and
 * per-doc length.
 *
 * Scale design: term frequencies are computed *within the row* — all tokens
 * of a document live in one `text` value, so tf needs **no shuffle at all**
 * (the reference's analog is Lucene's in-memory per-document inversion at
 * `Indexer.java:110,128`). The document length is the sum of the tf map's
 * values, computed in the same pass; it is **denormalized** onto every
 * posting row (SURVEY.md §4.1: saves the postings⋈docs join that the
 * reference pays per posting via norms lookups, `ModelBase.java:281-290`).
 */
object Tokenize {

  /** text → term→tf map, one analyzer pass. */
  def tfMapUdf(tag: Analyzer.Tag): UserDefinedFunction = udf { (text: String) =>
    val m = new java.util.HashMap[String, Long]()
    Analyzer.analyze(text, tag).foreach { t =>
      m.merge(t, 1L, (a, b) => a + b)
    }
    import scala.jdk.CollectionConverters._
    m.asScala.toMap
  }

  /**
   * (docId, docLen, term, tf) — the denormalized posting source.
   * No shuffle: map + generate only.
   */
  def termDocs(turns: Dataset[Turn], tag: Analyzer.Tag = Analyzer.Tag.NoStem): DataFrame = {
    val tfm = tfMapUdf(tag)
    turns
      .withColumn("docId", Transcripts.docIdCol)
      .withColumn("tfMap", tfm(col("text")))
      .withColumn("docLen", aggregate(map_values(col("tfMap")), lit(0L), (acc, x) => acc + x))
      .select(col("docId"), col("docLen"), explode(col("tfMap")).as(Seq("term", "tf")))
  }

  /** docs(docId, docLen) — includes empty documents (docLen 0), which never
   * appear in termDocs. One map pass over turns; the length is the index
   * build's own [[Analyzer.docLength]] (zero-alloc for NoStem). */
  def docs(turns: Dataset[Turn], tag: Analyzer.Tag = Analyzer.Tag.NoStem): DataFrame = {
    val docLen = udf((text: String) => Analyzer.docLength(text, tag))
    turns.select(Transcripts.docIdCol.as("docId"), docLen(col("text")).as("docLen"))
  }

  /** Corpus statistics N (docCount incl. empty docs) and C (sumTotalTermFreq)
   * — `stats/CorpusStatistics.java:53-54`; one aggregate, map-side partial. */
  def corpusStats(docs: DataFrame): CorpusStats = {
    val row = docs.agg(count(lit(1)).as("n"), coalesce(sum("docLen"), lit(0L)).as("c")).head()
    CorpusStats(row.getLong(0), row.getLong(1))
  }
}

package graft.data

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Turn

/**
 * Corpus inputs (SURVEY.md §1, FIXTURES.md §1).
 *
 * The engine's native input is the transcripts table from BASELINE.json's
 * input hint: `(conv_id string, turn_idx int, role string, text string,
 * tool string, ts timestamp)`. Two providers:
 *
 *  1. [[Transcripts.generate]] — deterministic seeded synthetic corpus with
 *     Zipfian hot terms + planted rare "needle" terms (the skew shape the
 *     reference handles for stopwords, `TermFreqDistribution.java:223-244`).
 *     Used by unit tests and the two-parallelism scaling bench.
 *  2. [[Transcripts.fromDocuments]] — adapter that presents the driver's
 *     `documents.parquet` table (doc_id, text, …) as single-turn
 *     conversations, so the driver's DuckDB oracle can reproduce docIds as
 *     `'doc-' || doc_id || '#0'`.
 */
object Transcripts {

  val ROLES: Array[String] = Array("user", "assistant", "tool")
  val TOOLS: Array[String] = Array("bash", "search", "browser", "editor",
    "python", "sql", "calculator", "planner")

  /** Zipfian common vocabulary + needle terms; sized so expected df/cf are
   * hand-computable on small corpora. */
  val VOCAB_SIZE = 2000
  val NEEDLES: IndexedSeq[String] = (0 until 50).map(i => s"needle$i")
  private val BASE_TS = 1700000000000L // fixed epoch base — no wall clock

  /** Deterministic text of one turn. Pure function of (convIdx, turnIdx, seed)
   * so the per-turn text-equality invariant is testable: re-reading the table
   * under stable (conv_id, turn_idx) order must reproduce these strings. */
  def turnText(convIdx: Long, turnIdx: Int, seed: Long): String = {
    val rng = new scala.util.Random(seed * 1000003L + convIdx * 8191L + turnIdx)
    val len = 5 + rng.nextInt(196) // 5..200 tokens
    val sb = new java.lang.StringBuilder(len * 7)
    var k = 0
    while (k < len) {
      if (k > 0) sb.append(' ')
      // Zipf-ish: rank ~ floor(exp(u * ln V)) gives P(rank r) ∝ 1/r
      val u = rng.nextDouble()
      val rank = math.min(VOCAB_SIZE - 1, math.exp(u * math.log(VOCAB_SIZE.toDouble)).toLong - 1)
      sb.append("w").append(rank)
      k += 1
    }
    // plant needles deterministically: one needle per ~40th turn
    val h = convIdx * 31 + turnIdx
    if (h % 40 == 0) { sb.append(' ').append(NEEDLES((h / 40 % NEEDLES.size).toInt)) }
    sb.toString
  }

  def turnOf(convIdx: Long, turnIdx: Int, seed: Long): Turn = {
    val role = ROLES((turnIdx % 3))
    Turn(
      conv_id = f"conv-$convIdx%08d",
      turn_idx = turnIdx,
      role = role,
      text = turnText(convIdx, turnIdx, seed),
      tool = if (role == "tool") TOOLS(((convIdx + turnIdx) % TOOLS.length).toInt) else null,
      ts = new Timestamp(BASE_TS + convIdx * 60000L + turnIdx * 1000L))
  }

  /**
   * Distributed deterministic generator: `numConvs` conversations ×
   * `turnsPerConv` turns, built executor-side from a range — scales to the
   * bench tier (≥2M turns) without shipping data from the driver.
   */
  def generate(spark: SparkSession, numConvs: Long, turnsPerConv: Int,
               seed: Long = 42L, partitions: Int = 0): Dataset[Turn] = {
    import spark.implicits._
    val parts = if (partitions > 0) partitions
                else spark.sparkContext.defaultParallelism
    spark.range(0, numConvs, 1, parts)
      .as[Long]
      .flatMap(c => (0 until turnsPerConv).iterator.map(t => turnOf(c, t, seed)))
  }

  /** docId = conv_id + "#" + turn_idx (SURVEY.md §1.1). */
  def docIdCol: org.apache.spark.sql.Column =
    concat(col("conv_id"), lit("#"), col("turn_idx").cast("string"))

  /** Adapter: driver test table `documents.parquet` → transcripts shape. */
  def fromDocuments(spark: SparkSession, sfDir: String): Dataset[Turn] = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      .select(
        concat(lit("doc-"), col("doc_id").cast("string")).as("conv_id"),
        lit(0).as("turn_idx"),
        lit("user").as("role"),
        col("text"),
        lit(null).cast("string").as("tool"),
        to_timestamp(lit("2026-01-01 00:00:00")).as("ts"))
      .as[Turn]
  }

  /** The declared schema of each driver table, as parquet infers it from
   * the files: every column nullable, naive timestamps as TIMESTAMP_NTZ. */
  val Schemas: Map[String, StructType] = Map(
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "customer" -> "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, " +
      "props STRING"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "region" -> "r_regionkey INT, r_name STRING",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  /** Raw driver tables, for the relational/pipeline operators; read through
   * their declared [[Schemas]], so opening one runs no schema-inference job
   * (a file without some column reads it as nulls). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(Schemas(name)).parquet(s"$sfDir/$name.parquet")
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.scalatest.funsuite.AnyFunSuite

import graft.driver.DriverQueries

/** The driver contract end to end: every `SparkEntry.queries` gate over the
 * bundled sf0.001 tables against the reference rows/hash recorded from a
 * commit that matched DuckDB on all gates, cold and again after
 * `releaseCaches`; and every `oracleSql` string against its pinned SHA-256. */
class DriverGatesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "perfbench/data/sf0.001"

  /** `gate<TAB>rows<TAB>hash` lines; `#` starts a comment line. */
  private def tsv(lines: Seq[String]): Seq[Array[String]] =
    lines.filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))

  private lazy val reference: Map[String, (Long, String)] =
    tsv(Files.readAllLines(Paths.get("perfbench/data/gates_ref.tsv")).asScala.toSeq)
      .map(a => a(0) -> (a(1).toLong, a(2))).toMap

  /** Order-insensitive 64-bit hash of collected rows: each row's rendering
   * is hashed on its own and the row hashes are summed (the definition the
   * reference file was recorded with). */
  private def rowsHash(rows: Seq[Row]): String = {
    var h = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(v => if (v == null) "\u0000" else render(v)).mkString("\u0001")
      val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5EED)
      val b = scala.util.hashing.MurmurHash3.stringHash(s, 0xC0FFEE)
      h += (a.toLong << 32) ^ (b.toLong & 0xFFFFFFFFL)
    }
    f"$h%016x"
  }

  private def render(v: Any): String = v match {
    case r: Row => r.toSeq.map(x => if (x == null) "null" else render(x)).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(x => if (x == null) "null" else render(x)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${if (x == null) "null" else render(x)}" }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** Runs every gate and returns the ones that differ from the reference. */
  private def mismatches(): Seq[String] = {
    val key = "spark.sql.shuffle.partitions"
    val conf = spark.conf.get(key)
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val got =
        try { val rows = fn(spark, sfDir).collect().toSeq; Right((rows.size.toLong, rowsHash(rows))) }
        catch { case e: Exception => Left(e.toString) }
      if (got.toOption == reference.get(name)) None
      else Some(s"$name: got $got, reference ${reference.get(name)}")
    }
    assert(spark.conf.get(key) == conf, s"a gate left $key changed")
    bad
  }

  test("the gate set is exactly the reference's") {
    assert(SparkEntry.queries.keySet == reference.keySet)
  }

  test("every gate matches the reference rows and hash") {
    val bad = mismatches()
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("every gate matches the reference again after releaseCaches") {
    DriverQueries.releaseCaches(spark)
    val bad = try mismatches() finally DriverQueries.releaseCaches(spark)
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("a warm block-max gate runs its kernel job and nothing else (r1c_bmw_topk, r3c_fielded_bmw)") {
    for ((gate, label) <- Seq("r1c_bmw_topk" -> "bmw", "r3c_fielded_bmw" -> "fielded bmw")) {
      val fn = SparkEntry.queries(gate)
      fn(spark, sfDir).collect() // the derivations and the resident shards
      assert(SparkTestSession.jobs(fn(spark, sfDir).collect()) ==
        Seq((s"$label kernel: ${DriverQueries.topics.size} topics", 1)), gate)
      // the renamed result is the block-max result's own scan, one leaf
      val plan = fn(spark, sfDir).queryExecution.logical
      assert(plan.isInstanceOf[DataSourceV2Relation] && plan.children.isEmpty, s"$gate: $plan")
      assert(plan.output.map(_.name) == Seq("qid", "docid", "rank", "score"), gate)
    }
  }

  test("every oracleSql string matches its pinned SHA-256") {
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    val stream = getClass.getResourceAsStream("/oracle_sql.sha256")
    val pinned =
      try tsv(scala.io.Source.fromInputStream(stream, "UTF-8").getLines().toSeq)
        .map(a => a(0) -> a(1)).toMap
      finally stream.close()
    val now = SparkEntry.oracleSql.map { case (n, sql) => n -> sha256(sql) }
    val diff = (now.keySet ++ pinned.keySet).toSeq.sorted
      .filter(n => now.get(n) != pinned.get(n))
      .map(n => s"$n\t${now.getOrElse(n, "<absent>")}\t(pinned ${pinned.getOrElse(n, "<absent>")})")
    assert(diff.isEmpty, diff.mkString("\n", "\n", ""))
  }
}

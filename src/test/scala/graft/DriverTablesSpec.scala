package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Transcripts

/** The driver's input tables: each is read through its declared schema,
 * which must equal the one parquet infers, so opening one runs no job. */
class DriverTablesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** The bundled benchmark tables, and every scale-factor dir TESTDATA.md
   * lists that exists here. */
  private lazy val sfDirs: Seq[String] = {
    val listed = Files.readAllLines(Paths.get("TESTDATA.md")).asScala.toSeq
      .flatMap(l => "`([^`]*/sf[0-9.]+)/?`".r.findAllMatchIn(l).map(_.group(1)))
    ("perfbench/data/sf0.001" +: listed).filter(d => Files.isDirectory(Paths.get(d)))
  }

  test("every driver table's declared schema equals the inferred one (name, type, nullability)") {
    def fields(s: StructType) = s.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
    assert(Transcripts.Schemas.size == 10)
    sfDirs.foreach { dir =>
      Transcripts.Schemas.foreach { case (name, declared) =>
        assert(fields(spark.read.parquet(s"$dir/$name.parquet").schema) == fields(declared), s"$dir $name")
      }
    }
    info(s"checked ${sfDirs.mkString(", ")}")
  }

  test("opening a driver table runs no Spark job") {
    val dir = "perfbench/data/sf0.001"
    val jobs = SparkTestSession.jobDescriptions {
      Transcripts.Schemas.keys.foreach(Transcripts.table(spark, dir, _))
      Transcripts.fromDocuments(spark, dir)
    }
    assert(jobs.isEmpty, s"opening the tables ran jobs: $jobs")
  }
}

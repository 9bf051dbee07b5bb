package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The `Tables` readers resolve their schema from one parquet footer on
  * the driver: no Spark job, the schema `spark.read.parquet` infers, and
  * the errors it raises.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.01"
  val names: Seq[String] =
    Seq("customer", "documents", "embeddings", "events", "lineitem", "nation", "orders", "part", "region", "supplier")

  /** `reader`'s schema, after checking that resolving it ran no job. */
  def resolved(what: String)(reader: => DataFrame) = {
    val (schema, jobs) = SparkJobs.in(spark)(reader.schema)
    assert(jobs === 0, s"$what ran $jobs jobs")
    schema
  }

  test("every table resolves with no Spark job to the schema spark.read.parquet infers") {
    names.foreach { n =>
      assert(resolved(n)(Tables.table(spark, sf, n)) === spark.read.parquet(s"$sf/$n.parquet").schema, n)
    }
  }

  test("every reader over the fixture resolves with no Spark job") {
    val readers = Seq[(String, (SparkSession, String) => DataFrame)](
      "events" -> Tables.events, "lineitem" -> Tables.lineitem, "orders" -> Tables.orders,
      "customer" -> Tables.customer, "part" -> Tables.part, "region" -> Tables.region,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings,
      "historicalData" -> Tables.historicalData, "forecastingData" -> Tables.forecastingData,
      "historicalDataAll" -> Tables.historicalDataAll, "forecastingDataAll" -> Tables.forecastingDataAll,
      "eventsInYears" -> ((s: SparkSession, d: String) => Tables.eventsInYears(s, d, Tables.YearLo, Tables.YearHi)))
    readers.foreach { case (what, reader) => resolved(what)(reader(spark, sf)) }
  }

  test("a directory Spark wrote, with summary files and appended parts, reads the file Spark's inference reads") {
    val dir = Files.createTempDirectory("tables").toString
    val path = s"$dir/t.parquet"
    Seq((1, "a")).toDF("id", "s").write.option("parquet.summary.metadata.level", "ALL").parquet(path)
    Seq((2L, "b", 0.5)).toDF("id", "s", "x").write.mode("append").parquet(path)
    assert(new java.io.File(path, "_common_metadata").exists, "the summary files were not written")
    assert(resolved(path)(Tables.table(spark, dir, "t")) === spark.read.parquet(path).schema)
  }

  test("a missing or empty path fails as spark.read.parquet fails") {
    val dir = Files.createTempDirectory("tables").toString
    Files.createDirectory(java.nio.file.Paths.get(dir, "empty.parquet"))
    Seq("missing", "empty").foreach { n =>
      val want = intercept[AnalysisException](spark.read.parquet(s"$dir/$n.parquet"))
      val got = intercept[AnalysisException](Tables.table(spark, dir, n))
      assert(got.getCondition === want.getCondition, n)
      assert(got.getMessage === want.getMessage, n)
    }
  }
}

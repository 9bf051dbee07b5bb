package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LocalRelation}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.forecast.SeasonalModel
import graft.operators.Forecast
import graft.sources.Tables

/** [[LocalFold]]: each shape over local relations folds to one local
  * relation, collects with no Spark job, and returns the rows, in order,
  * that the same query returns over the same data read from parquet; a
  * nondeterministic generator, a join condition it cannot evaluate and a
  * result over the size bound stay unfolded.
  */
class LocalFoldSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** `df`'s rows written as one parquet file and read back, in order. */
  def fromParquet(df: DataFrame): DataFrame = {
    val path = Files.createTempDirectory("local-fold").resolve("t").toString
    df.coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  def optimized(df: DataFrame) = df.queryExecution.optimizedPlan

  /** `query`'s rows over `local`, after checking that it folds and
    * collects with no job, and that it returns the rows, in order, it
    * returns over `parquet`.
    */
  def assertFolds(local: Seq[DataFrame], parquet: Seq[DataFrame])(query: Seq[DataFrame] => DataFrame): Seq[Row] = {
    val df = query(local)
    assert(optimized(df).isInstanceOf[LocalRelation], optimized(df))
    val (got, jobs) = SparkJobs.in(spark)(df.collect().toSeq)
    assert(jobs === 0, "collecting a folded query ran a job")
    val want = query(parquet).collect().toSeq
    assert(got === want)
    assert(got.nonEmpty, "an empty result shows nothing about order")
    got
  }

  def assertFolds(inputs: DataFrame*)(query: Seq[DataFrame] => DataFrame): Seq[Row] =
    assertFolds(inputs, inputs.map(fromParquet))(query)

  test("explode of a constant date window over local rows") {
    assertFolds(Seq("B3", "B1", "B2").toDF("branch")) { case Seq(b) =>
      Forecast.explodeWindow(b, lit(java.sql.Date.valueOf("2024-01-30")), lit(java.sql.Date.valueOf("2024-02-02")))
    }
  }

  test("explode and explode_outer over empty arrays, null arrays and null elements") {
    val arrays = Seq[(Int, Option[Seq[Option[Int]]])](
      (1, Some(Seq(Some(1), None, Some(3)))), (2, Some(Nil)), (3, None), (4, Some(Seq(Some(5)))), (5, Some(Seq(None))))
      .toDF("id", "xs")
    assertFolds(arrays) { case Seq(d) => d.select(col("id"), explode(col("xs")).as("x")) }
    val outer = assertFolds(arrays) { case Seq(d) => d.select(col("id"), explode_outer(col("xs")).as("x")) }
    assert(outer.count(_.isNullAt(1)) === 4, "a null element, a null row each for the empty and the null array")
  }

  val left: DataFrame =
    Seq[(Option[Int], String)]((Some(2), "a"), (Some(1), "b"), (Some(2), "c"), (None, "d"), (Some(3), "e"), (Some(5), "f"))
      .toDF("k", "a")
  val unique: DataFrame =
    Seq[(Option[Int], String)]((Some(3), "x"), (Some(1), "y"), (None, "z"), (Some(2), "w"), (Some(4), "v")).toDF("k", "b")

  // the same plan over parquet: `broadcast` keeps the right side the build
  // side there, so its join streams the left
  def equiJoin(l: DataFrame, r: DataFrame): DataFrame = l.join(broadcast(r), l("k") === r("k"))

  test("inner equi-join: duplicate and null keys on the left, unique keys on the right, and a residual condition") {
    val rows = assertFolds(left, unique) { case Seq(l, r) => equiJoin(l, r) }
    assert(rows.map(_.getString(1)) === Seq("a", "b", "c", "e"))
    assertFolds(left, unique) { case Seq(l, r) => l.join(broadcast(r), l("k") === r("k") && l("a") =!= lit("c")) }
    assertFolds(left, unique) { case Seq(l, r) => l.join(r).filter(l("k") < r("k")).select(l("a"), r("b")) }
  }

  test("inner equi-join with duplicate keys on both sides: each left row's matches, left-row-major") {
    val dups = Seq[(Option[Int], String)](
      (Some(3), "x"), (Some(1), "y"), (None, "z"), (Some(2), "w"), (Some(4), "v"), (Some(2), "u"), (Some(1), "t"), (Some(2), "s"))
      .toDF("k", "b")
    val query = (l: DataFrame, r: DataFrame) => equiJoin(l, r).select(l("a"), r("b"))
    val got = query(left, dups)
    assert(optimized(got).isInstanceOf[LocalRelation])
    val (rows, jobs) = SparkJobs.in(spark)(got.collect().toSeq)
    assert(jobs === 0)
    assert(rows.map(r => (r.getString(0), r.getString(1))) === Seq(
      "a" -> "w", "a" -> "u", "a" -> "s", "b" -> "y", "b" -> "t", "c" -> "w", "c" -> "u", "c" -> "s", "e" -> "x"))
    // a hash join emits one key's build rows in its hash table's order, so
    // over parquet only the left side's order and the rows are pinned
    val want = query(fromParquet(left), fromParquet(dups)).collect().toSeq
    assert(rows.map(_.getString(0)) === want.map(_.getString(0)))
    assert(rows.map(_.toString).sorted === want.map(_.toString).sorted)
  }

  test("the predict chain over a local model table folds for every fixture branch") {
    val sf01 = "/root/testdata/sf0.01"
    val spec = ServingQueries.FixtureModelSpec
    val fitted = SeasonalModel.fit(
      Tables.forecastingDataAll(spark, sf01).withColumnRenamed("cnt", "y"), spec,
      LocalDate.parse(SparkEntry.FixtureTrainCutoff)).collect().toSeq
    val models = spark.createDataFrame(java.util.Arrays.asList(fitted: _*), fitted.head.schema)
    val branches = fitted.map(_.getAs[String]("branch")).sorted.toDF("branch")
    val (start, end) = Forecast.windowClamp(LocalDate.parse("2024-01-29"), ServingQueries.Today)
    val (localIn, parquetIn) = (Seq(models, branches), Seq(models, branches).map(fromParquet))
    assert(fitted.size > 100)
    fitted.map(_.getAs[String]("branch")).foreach { b =>
      assertFolds(localIn, parquetIn) { case Seq(m, bs) =>
        val days = Forecast.explodeWindow(
          bs.filter(col("branch") === b), lit(java.sql.Date.valueOf(start)), lit(java.sql.Date.valueOf(end)))
        SeasonalModel.predict(m, days, spec).select("branch", "ds", "yhat_upper").limit(6)
      }
    }
  }

  // Spark rejects a nondeterministic join condition at analysis
  test("a nondeterministic generator and an unevaluable join condition stay unfolded") {
    val gen = left.withColumn("e", explode(array(rand(7), rand(8))))
    assert(optimized(gen).collectFirst { case g: Generate => g }.nonEmpty, optimized(gen))
    unique.createOrReplaceTempView("local_fold_unique")
    val bySubquery = left.join(
      broadcast(unique), left("k") === unique("k") && left("k") + unique("k") < expr("(SELECT max(k) FROM local_fold_unique)"))
    assert(optimized(bySubquery).collectFirst { case j: Join => j }.nonEmpty, optimized(bySubquery))
  }

  test("a Generate or Join whose result could pass autoBroadcastJoinThreshold stays unfolded") {
    // no null keys: filters inferred from the condition drop no row
    def join = equiJoin((1 to 6).map(k => (k, s"a$k")).toDF("k", "a"), (1 to 5).map(k => (k, s"b$k")).toDF("k", "b"))
    def window = Forecast.explodeWindow(
      Seq("B1", "B2").toDF("branch"), lit(java.sql.Date.valueOf("2024-01-30")), lit(java.sql.Date.valueOf("2024-02-02")))
    // the bound as Spark sizes a local relation: bytes per row times rows
    val pairs = EstimationUtils.getSizePerRow(join.queryExecution.analyzed.output) * 6 * 5
    val days = EstimationUtils.getSizePerRow(window.queryExecution.analyzed.output) * 2 * 4
    val (joined, exploded) = (join.collect().toSeq, window.collect().toSeq)
    def at[T](bytes: BigInt)(body: => T): T = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
      try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    at(pairs)(assert(optimized(join).isInstanceOf[LocalRelation]))
    at(days)(assert(optimized(window).isInstanceOf[LocalRelation]))
    at(pairs - 1) {
      val df = join
      assert(optimized(df).collectFirst { case j: Join => j }.nonEmpty, optimized(df))
      assert(df.collect().toSeq === joined)
    }
    at(days - 1) {
      val df = window
      assert(optimized(df).collectFirst { case g: Generate => g }.nonEmpty, optimized(df))
      assert(df.collect().toSeq === exploded)
    }
  }
}

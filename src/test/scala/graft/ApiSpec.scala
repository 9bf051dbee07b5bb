package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.{Callable, Executors}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Api, DailyForecast, ForecastInput, ForecastSummary, SliceIndex}
import graft.forecast.SeasonalModel
import graft.operators.{CrossRound, Forecast, Percentages}
import graft.sources.{Tables, VersionedTable}

/** Typed API boundary tests: request validation semantics (ValueError
  * analogs), silent move-type degrade, typed results; the Spark jobs one
  * request runs and snapshot isolation as `/forecast/` is served; and the
  * single-branch answer against the set-oriented composition.
  */
class ApiSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  def pct = Percentages.percentages(spark, sf)
  def model = Forecast.baselineUpper(Tables.forecastingData(spark, sf))

  /** Bounded model state served as a local relation (the model-store posture). */
  def local(df: DataFrame): DataFrame = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  test("forecast returns typed daily and summary rows for the requested branch") {
    val (daily, summary) = Api.forecast(
      spark, ForecastInput("2024-01-31", "B7", Some("click")),
      model, pct, ServingQueries.Today)
    val days = daily.collect()
    assert(days.nonEmpty && days.forall(_.branch == "B7"))
    assert(days.forall(d => d.predicted_moves >= 0 && d.comment.nonEmpty))
    val s = summary.collect()
    assert(s.length === 1 && s.head.total_predicted_moves >= 0)
  }

  test("bad date format raises the ValueError analog") {
    val e = intercept[IllegalArgumentException] {
      Api.forecast(spark, ForecastInput("31-01-2024", "B7", None), model, pct, ServingQueries.Today)
    }
    assert(e.getMessage.contains("YYYY-MM-DD"))
  }

  test("one-digit month and day parse as the zero-padded date, as pd.to_datetime does") {
    def days(date: String) =
      Api.forecast(spark, ForecastInput(date, "B7", Some("click")), model, pct, ServingQueries.Today)
        ._1.collect().toSeq.sortBy(_.ds.toString)
    val padded = days("2024-01-05")
    assert(padded.nonEmpty)
    Seq("2024-1-5", "2024-01-5", "2024-1-05").foreach(d => assert(days(d) === padded, d))
  }

  test("malformed and impossible dates raise the ValueError analog") {
    Seq(
      "2025/06/01", "20250601", "025-06-01", "2025-006-01", "2025-13-01", "2025-06-31",
      "2025-02-29", " 2025-06-01", "2025-06-01 ", "2025-06-01T00:00").foreach { d =>
      val e = intercept[IllegalArgumentException] {
        Api.forecast(spark, ForecastInput(d, "B7", None), model, pct, ServingQueries.Today)
      }
      assert(e.getMessage === "Invalid date format. Use YYYY-MM-DD (e.g., '2025-06-30')", d)
    }
  }

  test("date beyond the horizon cap raises") {
    val e = intercept[IllegalArgumentException] {
      Api.forecast(spark, ForecastInput("2025-08-01", "B7", None), model, pct, ServingQueries.Today)
    }
    assert(e.getMessage.contains("2025-07-31"))
  }

  test("invalid move type silently degrades to the 100% no-type path") {
    val (daily, _) = Api.forecast(
      spark, ForecastInput("2024-01-31", "B7", Some("NotAType")),
      model, pct, ServingQueries.Today)
    val days = daily.collect()
    assert(days.forall(_.comment_class == "no_move_type"))
    assert(days.forall(d => d.predicted_moves == d.branch_forecast))
  }

  // -------------------- serving: jobs per request, snapshot isolation -----
  // The percentages read from a month-partitioned snapshot, the model as a
  // local relation, as `/forecast/` is served.

  val request = ForecastInput("2024-01-29", "B7", Some("click")) // window 2024-01-26 .. 2024-02-01

  lazy val localModel: DataFrame = local(Forecast.baselineUpper(Tables.forecastingData(spark, sf)))

  def newTable(): VersionedTable = {
    val table = VersionedTable(Files.createTempDirectory("api-serving").resolve("pct").toString)
    Percentages.upsertPercentagesSnapshot(spark, Percentages.percentages(spark, sf), table)
    table
  }

  def pctAt(table: VersionedTable, v: Long): DataFrame =
    table.readVersion(spark, v).withColumn("month", col("month").cast("long"))

  def answer(table: VersionedTable, v: Long, input: ForecastInput = request): (Seq[String], Seq[String]) =
    answerFrom(pctAt(table, v), input)

  def answerFrom(pct: DataFrame, input: ForecastInput = request): (Seq[String], Seq[String]) = {
    val (daily, summary) = Api.forecast(spark, input, localModel, pct, ServingQueries.Today)
    (daily.collect().map(_.toString).sorted.toSeq, summary.collect().map(_.toString).toSeq)
  }

  /** The Spark jobs `body` submits from this thread. */
  def jobsIn[T](body: => T): (T, Int) = SparkJobs.in(spark)(body)

  test("a warm known-type request runs no Spark job; an unknown type runs only the probe") {
    val table = newTable()
    val pct = pctAt(table, 0L)
    val unknown = "NoSuchType"
    Seq(request, request.copy(move_type = Some(unknown))).foreach { input =>
      answer(table, 0L, input) // warm
      val ((daily, summary), callJobs) = jobsIn(Api.forecast(spark, input, localModel, pct, ServingQueries.Today))
      val (_, collectJobs) = jobsIn((daily.collect(), summary.collect()))
      assert(daily.collect().nonEmpty && summary.collect().length === 1, input)
      assert(collectJobs === 0, s"$input: collecting the results ran $collectJobs jobs")
      // the slice comes from the snapshot's file index: only the
      // unknown-type probe (main.py:204-209) still queries `pct`
      val (_, probeJobs) = jobsIn(pct.filter(col("move_type") === unknown).limit(1).collect())
      val want = if (input.move_type.contains(unknown)) probeJobs else 0
      assert(callJobs === want, s"$input ran $callJobs jobs")
    }
  }

  test("a reader pinned to a snapshot sees it whole while an upsert publishes the next one") {
    // the quiet answers come from the query path, the racing ones from the
    // file index: a v1 answer equal to the v1 query's never came from a v0
    // file's entry
    val table = newTable()
    def byQuery(v: Long) = answerFrom(pctAt(table, v).filter(lit(true)))
    val quiet0 = byQuery(0L)
    val updates = Percentages.percentages(spark, sf)
      .withColumn("avg_percentage", lit(100.0) - col("avg_percentage"))
    val seen = Seq.newBuilder[(Long, (Seq[String], Seq[String]))]
    seen += 0L -> answer(table, 0L)
    val writer = Future(Percentages.upsertPercentagesSnapshot(spark, updates, table))
    while (!writer.isCompleted) {
      val v = table.latestVersion().get
      seen += v -> answer(table, v)
    }
    val published = Await.result(writer, 5.minutes)
    assert(published === 1L)
    val quiet1 = byQuery(1L)
    assert(quiet1 !== quiet0, "the upsert must change the answer, or this spec proves nothing")
    seen += 1L -> answer(table, 1L)
    seen.result().foreach { case (v, got) =>
      assert(got === (if (v == 0L) quiet0 else quiet1), s"read at version $v")
    }
    // a reader pinned to v keeps answering from v after v + 1 is published
    assert(answer(table, 0L) === quiet0)
  }

  // -------------------- differential: Api vs the set-oriented composition --
  // `Api.forecast` answers one request from its branch's bounded slice on
  // the driver. These tests check it, typed row for typed row, against the
  // composition that serves every branch at once (`dailyForecast` +
  // `summarize` + `CrossRound.ra`, then the branch's rows) over the sf0.01
  // fixture, with a flat and a per-day model.

  /** The sf0.01 fixture, beside `sf`. */
  val sf01: String = Paths.get(sf).resolveSibling("sf0.01").toString
  val today: LocalDate = ServingQueries.Today // 2024-01-25; the fixture's events end 2024-01-30
  val crossMonth: LocalDate = ServingQueries.InputDate // window 2024-01-28 .. 2024-02-03
  /** At, inside and past the 3-day edges of today and of the horizon cap. */
  val edgeDates: Seq[LocalDate] = Seq(
    "2024-01-20", "2024-01-25", "2024-01-28", "2024-01-29", "2024-02-10",
    "2025-07-27", "2025-07-28", "2025-07-31").map(LocalDate.parse)
  val unknownBranch = "B999"

  lazy val pct01: DataFrame = Percentages.percentagesCheckpointed(spark, sf01)
  lazy val moveTypes: Seq[String] = pct01.select("move_type").distinct().as[String].collect().sorted.toSeq
  lazy val branches: Seq[String] = pct01.select("branch").distinct().as[String].collect().sorted.toSeq

  lazy val flat: DataFrame = local(Forecast.baselineUpper(Tables.forecastingData(spark, sf01)))
  lazy val fitted: DataFrame = local(SeasonalModel.fit(
    Tables.forecastingDataAll(spark, sf01).withColumnRenamed("cnt", "y"),
    ServingQueries.FixtureModelSpec, LocalDate.parse(SparkEntry.FixtureTrainCutoff)))
  def perDay(date: LocalDate): DataFrame = {
    val (s, e) = Forecast.windowClamp(date, today)
    val days = Forecast.explodeWindow(
      fitted.select("branch"), lit(java.sql.Date.valueOf(s)), lit(java.sql.Date.valueOf(e)))
    local(SeasonalModel.predict(fitted, days, ServingQueries.FixtureModelSpec).select("branch", "ds", "yhat_upper"))
  }

  case class Case(branch: String, date: LocalDate, moveType: Option[String])

  /** Every branch (and an unknown one) on the cross-month window and on one
    * edge date, the edge dates taken in turn so each is met by over a dozen
    * branches; a sample of branches under every other move type, no move
    * type and an unknown one.
    */
  lazy val cases: Seq[Case] = {
    val mt = Some(ServingQueries.MoveType)
    val byBranch = (branches :+ unknownBranch).zipWithIndex.flatMap { case (b, i) =>
      Seq(Case(b, crossMonth, mt), Case(b, edgeDates(i % edgeDates.size), mt))
    }
    val types = moveTypes.map(Option(_)).filterNot(_ == mt) ++ Seq(None, Some("NoSuchType"))
    byBranch ++ types.flatMap(t => (branches.take(3) :+ unknownBranch).map(Case(_, crossMonth, t)))
  }

  /** The set-oriented composition, grouped by branch. Filtering to one
    * branch before `summarize` equals taking its group after: the summary
    * groups by branch.
    */
  def reference(model: DataFrame, date: LocalDate, moveType: Option[String])
      : (Map[String, Seq[DailyForecast]], Map[String, Seq[ForecastSummary]]) = {
    val effMoveType = moveType.filter(moveTypes.contains)
    val daily = Forecast.dailyForecast(model, pct01, effMoveType, date, today)
    val summary = Forecast.summarize(daily, effMoveType)
      .withColumn("current_pct", CrossRound.ra(col("current_pct"), 6))
      .withColumn("period_avg", CrossRound.ra(col("period_avg"), 6))
    (
      daily.select("branch", "ds", "branch_forecast", "predicted_moves", "comment_class", "comment")
        .as[DailyForecast].collect().toSeq.groupBy(_.branch),
      summary.select(
          "branch", "total_predicted_moves", "total_branch_forecast",
          "average_daily_moves", "current_pct", "period_avg", "summary_class")
        .as[ForecastSummary].collect().toSeq.groupBy(_.branch))
  }

  def mismatches(model: LocalDate => DataFrame): Seq[String] =
    cases.groupBy(c => (c.date, c.moveType)).toSeq.flatMap { case ((date, mt), cs) =>
      val m = model(date)
      val (refDaily, refSummary) = reference(m, date, mt)
      cs.flatMap { c =>
        val (daily, summary) = Api.forecast(spark, ForecastInput(date.toString, c.branch, mt), m, pct01, today)
        val got = (daily.collect().toSeq.sortBy(_.ds.getTime), summary.collect().toSeq)
        val want = (refDaily.getOrElse(c.branch, Nil).sortBy(_.ds.getTime), refSummary.getOrElse(c.branch, Nil))
        if (got == want) None else Some(s"$c:\n  api       $got\n  reference $want")
      }
    }

  test("flat baselineUpper model: Api.forecast equals the set-oriented composition") {
    val bad = mismatches(_ => flat)
    assert(bad.isEmpty, s"${bad.size} mismatching cases, first:\n${bad.take(3).mkString("\n")}")
  }

  test("per-day SeasonalModel.predict model: Api.forecast equals the set-oriented composition") {
    val bad = mismatches(perDay)
    assert(bad.isEmpty, s"${bad.size} mismatching cases, first:\n${bad.take(3).mkString("\n")}")
  }

  // -------------------- differential: file index vs query --------------
  // The cases above against committed snapshots of the sf0.01 percentages,
  // answered from the snapshots' file index and from the query over them:
  // `filter(lit(true))` is no shape the index serves, so that frame takes
  // the query.

  lazy val snapshots: Seq[(String, DataFrame)] = {
    val root = Files.createTempDirectory("api-index")
    val chain = VersionedTable(root.resolve("chain").toString)
    Percentages.upsertPercentagesSnapshot(spark, pct01, chain)
    // v1 rewrites January and February and drops every fourth day's
    // percentage there, so the null filter and the month fallback meet it
    Percentages.upsertPercentagesSnapshot(spark, pct01.filter(col("month") <= 2).withColumn("avg_percentage",
      when(col("day") % 4 === 0, lit(null).cast("double")).otherwise(lit(100.0) - col("avg_percentage"))), chain)
    val unpartitioned = VersionedTable(root.resolve("unpartitioned").toString)
    unpartitioned.upsert(spark, pct01, Seq("branch", "move_type", "month", "day"))
    Seq(
      "partitioned v0, month widened" -> chain.readVersion(spark, 0L).withColumn("month", col("month").cast("long")),
      "partitioned v1" -> chain.readVersion(spark, 1L),
      "unpartitioned" -> unpartitioned.readVersion(spark, 0L))
  }

  test("the snapshot file index answers every case as the query over the snapshot does") {
    for ((name, indexed) <- snapshots) {
      val queried = indexed.filter(lit(true))
      assert(SliceIndex.slice(spark, indexed, branches.head, moveTypes.head, Seq(1L)).isDefined, name)
      assert(SliceIndex.slice(spark, queried, branches.head, moveTypes.head, Seq(1L)).isEmpty, name)
      val bad = cases.flatMap { c =>
        def respond(pct: DataFrame) = {
          val (daily, summary) = Api.forecast(spark, ForecastInput(c.date.toString, c.branch, c.moveType), flat, pct, today)
          (daily.collect().toSeq.sortBy(_.ds.getTime), summary.collect().toSeq)
        }
        val (got, want) = (respond(indexed), respond(queried))
        if (got == want) None else Some(s"$c:\n  index $got\n  query $want")
      }
      assert(bad.isEmpty, s"$name: ${bad.size} mismatching cases, first:\n${bad.take(3).mkString("\n")}")
    }
  }

  test("the cases hit every fallback level: day, month and default") {
    val keys = pct01.select(col("branch"), col("move_type"), col("month").cast("int"), col("day").cast("int"))
      .as[(String, String, Int, Int)].collect()
    val dayKeys = keys.toSet
    val monthKeys = keys.map(k => (k._1, k._2, k._3)).toSet
    val levels = for {
      c <- cases if branches.contains(c.branch)
      mt <- c.moveType.filter(moveTypes.contains).toSeq
      (s, e) = Forecast.windowClamp(c.date, today)
      d <- c.date +: Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e)).toSeq
    } yield
      if (dayKeys((c.branch, mt, d.getMonthValue, d.getDayOfMonth))) "day"
      else if (monthKeys((c.branch, mt, d.getMonthValue))) "month"
      else "default"
    assert(levels.toSet === Set("day", "month", "default"))
  }

  test("a warm request: head version, snapshot read, forecast and collect run no Spark job") {
    // the benchmark's request shape: the per-day model predicted over the
    // requested branch's window, the percentages read from the head snapshot;
    // the model is local, so its collect folds on the driver (LocalFold), and
    // the percentage slice comes from the snapshot's file index
    val table = newTable()
    def call(): (Array[DailyForecast], Array[ForecastSummary]) = {
      val date = LocalDate.parse(request.date)
      val (s, e) = Forecast.windowClamp(date, today)
      val days = Forecast.explodeWindow(
        Seq(request.branch).toDF("branch"), lit(java.sql.Date.valueOf(s)), lit(java.sql.Date.valueOf(e)))
      val model = SeasonalModel.predict(fitted, days, ServingQueries.FixtureModelSpec)
        .select("branch", "ds", "yhat_upper")
      val pct = pctAt(table, table.latestVersion().get)
      val (daily, summary) = Api.forecast(spark, request, model, pct, today)
      (daily.collect(), summary.collect())
    }
    call() // warm
    val ((daily, summary), jobs) = jobsIn(call())
    assert(daily.nonEmpty && daily.forall(_.comment_class != "no_move_type") && summary.length === 1)
    assert(jobs === 0, s"a warm request ran $jobs jobs")
  }

  test("concurrent requests answer as they do one at a time, on the same four prepared formulas") {
    val inputs = for {
      b <- branches.take(3) :+ unknownBranch
      d <- Seq(crossMonth, edgeDates(5))
      mt <- moveTypes.map(Option(_)) ++ Seq(None, Some("NoSuchType"))
    } yield ForecastInput(d.toString, b, mt)
    def respond(in: ForecastInput): (Seq[DailyForecast], Seq[ForecastSummary]) = {
      val (daily, summary) = Api.forecast(spark, in, flat, pct01, today)
      (daily.collect().toSeq.sortBy(_.ds.getTime), summary.collect().toSeq)
    }
    val sequential = inputs.map(respond)
    val formulas = Api.formulasFor(spark)
    assert(formulas.size === 4)
    val pool = Executors.newFixedThreadPool(4)
    try {
      // each caller walks every request from its own starting point, so the
      // callers interleave different branches, dates and move types
      val callers = (0 until 4).map { c =>
        pool.submit(new Callable[Seq[(Int, (Seq[DailyForecast], Seq[ForecastSummary]))]] {
          def call() = inputs.indices.map(i => (i + c * inputs.size / 4) % inputs.size)
            .map(i => i -> respond(inputs(i)))
        })
      }
      callers.flatMap(_.get(5, java.util.concurrent.TimeUnit.MINUTES)).foreach { case (i, got) =>
        assert(got === sequential(i), inputs(i))
      }
    } finally pool.shutdown()
    assert(Api.formulasFor(spark) eq formulas, "a request prepared its formulas again")
    assert(formulas.size === 4)
  }

  test("an unknown branch returns two empty Datasets") {
    Seq(Some(ServingQueries.MoveType), None, Some("NoSuchType")).foreach { mt =>
      val (daily, summary) = Api.forecast(
        spark, ForecastInput(crossMonth.toString, unknownBranch, mt), flat, pct01, today)
      assert(daily.collect().isEmpty && summary.collect().isEmpty, s"move type $mt")
    }
  }
}

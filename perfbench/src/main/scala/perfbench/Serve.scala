package perfbench

import java.nio.file.Path
import java.security.MessageDigest
import java.time.LocalDate

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Api, ForecastInput}
import graft.forecast.SeasonalModel
import graft.operators.{Forecast, Percentages, Trends}
import graft.sources.{Tables, VersionedTable}

import Inputs._

/** One served response: which snapshot it read, a digest of what it
  * returned, and whether the response passed its quirk rule.
  */
final case class Response(req: Request, version: Long, digest: String, ok: Boolean, note: String, rows: Int = 0)

/** The serving state the reference keeps: one model per branch, fitted at
  * set-up, and the percentages table as a versioned snapshot that the
  * precompute cycle upserts. Every call goes through the program's public
  * functions.
  */
final class Serving(spark: SparkSession, historyDir: String, work: Path, seed: Long) {
  import spark.implicits._

  /** Smaller than the reference's Prophet configuration (`Spec()`, 47
    * features, whose fit alone takes ~15 s on 4 cores): set-up runs three
    * times per benchmark run, so the fit must take seconds.
    */
  val spec: SeasonalModel.Spec = SeasonalModel.Spec(yearlyOrder = 3, weeklyOrder = 1, nChangepoints = 5)
  private val incrementsDir = work.resolve("increments").toString
  val table: VersionedTable = VersionedTable(work.resolve("percentages").toString)
  private var models: DataFrame = _
  private var cycles = 0

  /** Model fit, first snapshot (recompute all percentages, commit them as
    * version 0) and state load.
    */
  def setUp(): Unit = {
    val fitted = Trace.span("forecast.fit") {
      val daily = Tables.forecastingDataAll(spark, historyDir).withColumnRenamed("cnt", "y")
      SeasonalModel.fit(daily, spec).collect()
    }
    val pct = Trace.span("pct.recompute")(Percentages.percentagesSingleScan(Tables.historicalData(spark, historyDir)))
    Trace.span("snapshot.commit")(Percentages.upsertPercentagesSnapshot(spark, pct, table))
    // the model table is bounded (one row per branch): serve it as a local
    // relation, so the per-request broadcast join runs no job
    models = spark.createDataFrame(java.util.Arrays.asList(fitted: _*), fitted.head.schema)
  }

  private def pct(version: Long): DataFrame =
    table.readVersion(spark, version).withColumn("month", col("month").cast("long"))

  /** `/forecast/`: read the latest snapshot (or `pinned`), predict the
    * clamped window, call the API and collect both Datasets.
    */
  def forecast(r: Request, pinned: Option[Long] = None): Response = {
    val (v, p) = Trace.span("snapshot.read") {
      val v = pinned.getOrElse(table.latestVersion().get)
      (v, pct(v))
    }
    val model = Trace.span("forecast.predict_build") {
      // a bad date never reaches the model: Api.forecast rejects it first
      val (start, end) = Forecast.windowClamp(Try(LocalDate.parse(r.date)).getOrElse(Today), Today)
      val days = Forecast.explodeWindow(
        Seq(r.branch).toDF("branch"), lit(java.sql.Date.valueOf(start)), lit(java.sql.Date.valueOf(end)))
      SeasonalModel.predict(models, days, spec).select("branch", "ds", "yhat_upper")
    }
    val result = Try {
      val (daily, summary) = Trace.span("api.call") {
        Api.forecast(spark, ForecastInput(r.date, r.branch, r.moveType), model, p, Today)
      }
      Trace.span("serving.collect")((daily.collect(), summary.collect()))
    }
    result match {
      case scala.util.Success((daily, summary)) =>
        val rows = daily.map(_.toString).sorted.toSeq ++ Seq("|") ++ summary.map(_.toString).sorted
        val noType = daily.nonEmpty && daily.forall(_.comment_class == "no_move_type") &&
          summary.forall(_.summary_class == "no_move_type")
        val ok = r.kind match {
          case UnknownMt | ForecastAll => noType
          case ForecastMt => daily.nonEmpty && !noType
          case _ => false
        }
        Response(r, v, Serving.digest(rows), ok, if (ok) "" else s"unexpected rows for ${r.kind}")
      case scala.util.Failure(e: IllegalArgumentException) =>
        val expected = r.kind match {
          case BadDate => Some("Invalid date format. Use YYYY-MM-DD (e.g., '2025-06-30')")
          case PastMax => Some(s"Date must be on or before ${Forecast.MaxDate}")
          case _ => None
        }
        val ok = expected.contains(e.getMessage)
        Response(r, v, Serving.digest(Seq("error", e.getMessage)), ok, if (ok) "" else e.toString)
      case scala.util.Failure(e) =>
        Response(r, v, "", ok = false, e.toString)
    }
  }

  /** `/historical_trends/` over the generated history. */
  def trends(r: Request): Response = {
    val (start, end) = Forecast.windowClamp(LocalDate.parse(r.date), Today)
    val df = Trace.span("trends.build") {
      Trends.trends(Tables.historicalData(spark, historyDir), r.branch, r.moveType, start, end)
    }
    val rows = Trace.span("trends.collect")(df.collect())
    Response(r, -1L, Serving.digest(rows.map(_.toString).toSeq), ok = true, "", rows.length)
  }

  def serve(r: Request, pinned: Option[Long] = None): Response =
    if (r.isForecast) forecast(r, pinned) else trends(r)

  /** One precompute cycle: fold a generated new day into the history,
    * recompute the percentages and merge them into the next snapshot.
    * Returns the cycle's recompute-plus-commit wall time in ns.
    */
  def refresh(): Long = {
    Trace.span("refresh.fold") {
      Inputs.newDay(spark, seed, cycles).write.mode("append").parquet(s"$incrementsDir/events.parquet")
    }
    cycles += 1
    val t0 = System.nanoTime()
    val updates = Trace.span("pct.recompute") {
      Percentages.percentagesSingleScan(
        Tables.historicalData(spark, historyDir).unionByName(Tables.historicalData(spark, incrementsDir)))
    }
    Trace.span("snapshot.commit")(Percentages.upsertPercentagesSnapshot(spark, updates, table))
    System.nanoTime() - t0
  }
}

object Serving {
  def digest(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}

package graft.api

import java.time.LocalDate
import java.time.chrono.IsoChronology
import java.time.format.{DateTimeFormatterBuilder, DateTimeParseException, ResolverStyle, SignStyle}
import java.time.temporal.ChronoField

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CrossRound, Forecast}

/** Typed API boundary (SURVEY §1.3): the relational pipeline stays
  * DataFrame-based; requests and results cross the boundary as case-class
  * Datasets, mirroring the reference's pydantic models
  * (ForecastInput main.py:124-127, result shape main.py:321-332).
  */
case class ForecastInput(date: String, branch: String, move_type: Option[String])

case class DailyForecast(
    branch: String,
    ds: java.sql.Date,
    branch_forecast: Long,
    predicted_moves: Long,
    comment_class: String,
    comment: String)

case class ForecastSummary(
    branch: String,
    total_predicted_moves: Long,
    total_branch_forecast: Long,
    average_daily_moves: Long,
    current_pct: Double,
    period_avg: Double,
    summary_class: String)

object Api {

  /** `%Y-%m-%d` as the reference's `pd.to_datetime(s, format='%Y-%m-%d')`
    * reads it (main.py:190-193): a four-digit year, a one- or two-digit
    * month and day, and a real calendar date; nothing before or after.
    */
  private val RequestDate = new DateTimeFormatterBuilder()
    .appendValue(ChronoField.YEAR, 4)
    .appendLiteral('-')
    .appendValue(ChronoField.MONTH_OF_YEAR, 1, 2, SignStyle.NOT_NEGATIVE)
    .appendLiteral('-')
    .appendValue(ChronoField.DAY_OF_MONTH, 1, 2, SignStyle.NOT_NEGATIVE)
    .toFormatter()
    .withChronology(IsoChronology.INSTANCE)
    .withResolverStyle(ResolverStyle.STRICT)

  /** The `/forecast/` request surface, typed end to end: validates the
    * input date (strict parse + horizon cap — ValueError analogs as
    * IllegalArgumentException), applies the invalid-move-type silent
    * degrade, and answers from the requested branch's bounded state only:
    *   - one collect of the branch's model rows for the clamped window;
    *   - with a move type, one collect of the branch's percentage rows for
    *     that type in the (at most three) months the input date and the
    *     window touch — `pct` partitioned by `month` prunes to those files;
    *   - only when that slice is empty, a `limit(1)` probe for the move
    *     type anywhere in `pct` (main.py:204-209: unknown => None).
    * The fallback chain and the summary's aggregates run on the driver
    * over those rows; the per-row columns are [[Forecast.dailyColumns]] and
    * [[Forecast.summaryColumns]], the same definitions the set-oriented
    * oracle queries use, evaluated over local relations. Both results are
    * local-relation Datasets: collecting them runs no Spark job. An unknown
    * branch returns two empty Datasets.
    */
  def forecast(
      spark: SparkSession,
      input: ForecastInput,
      model: DataFrame,
      pct: DataFrame,
      today: LocalDate): (Dataset[DailyForecast], Dataset[ForecastSummary]) = {
    import spark.implicits._
    val inputDate =
      try LocalDate.parse(input.date, RequestDate)
      catch {
        case _: DateTimeParseException =>
          // main.py:190-193
          throw new IllegalArgumentException(
            "Invalid date format. Use YYYY-MM-DD (e.g., '2025-06-30')")
      }
    if (inputDate.isAfter(Forecast.MaxDate))
      // main.py:195-197
      throw new IllegalArgumentException(s"Date must be on or before ${Forecast.MaxDate}")

    val days = Forecast.windowRows(model.filter(col("branch") === input.branch), inputDate, today)
      .select(col("ds"), col("yhat_upper").cast("double"))
      .collect()
    if (days.isEmpty)
      return (spark.emptyDataset[DailyForecast], spark.emptyDataset[ForecastSummary])

    // (move type, percentage at a date) when the move type is valid
    val lookup: Option[(String, LocalDate => Double)] = input.move_type.flatMap { mt =>
      val (start, end) = Forecast.windowClamp(inputDate, today)
      val months = Seq(inputDate, start, end).map(_.getMonthValue.toLong).distinct
      val slice = pct
        .filter(col("branch") === input.branch && col("move_type") === mt &&
          col("month").isin(months: _*) && col("avg_percentage").isNotNull)
        .select(col("month").cast("int"), col("day").cast("int"), col("avg_percentage"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      if (slice.isEmpty && pct.filter(col("move_type") === mt).limit(1).collect().isEmpty) None
      else Some(mt -> Forecast.fallbackPctLocal(slice.toSeq))
    }
    val moveType = lookup.map(_._1)
    val inputPct = lookup.fold(Forecast.NoMoveTypePct)(_._2(inputDate))
    val looked = days.toSeq.map { r =>
      val ds = r.getDate(0)
      (input.branch, ds, r.getAs[java.lang.Double](1), inputPct, lookup.map(_._2(ds.toLocalDate)))
    }
    val daily = Forecast
      .dailyColumns(looked.toDF("branch", "ds", "yhat_upper", "input_pct", "hist_avg"), moveType)
      .select("branch", "ds", "branch_forecast", "predicted_moves", "comment_class", "comment")
      .as[DailyForecast]
      .collect()

    val hist = looked.flatMap(_._5)
    val agg = (
      input.branch,
      daily.map(_.predicted_moves).sum,
      daily.map(_.branch_forecast).sum,
      daily.length.toLong,
      if (hist.isEmpty) None else Some(hist.sum / hist.length),
      inputPct)
    val summary = Forecast
      .summaryColumns(
        Seq(agg).toDF(
          "branch", "total_predicted_moves", "total_branch_forecast", "n_days", "hist_period_avg", "input_pct"),
        moveType)
      // CrossRound so the API reports the same digits as the oracle-gated
      // query surface (o36) — and order-stably (period_avg is an AVG over
      // doubles)
      .withColumn("current_pct", CrossRound.ra(col("current_pct"), 6))
      .withColumn("period_avg", CrossRound.ra(col("period_avg"), 6))
      .select(
        "branch", "total_predicted_moves", "total_branch_forecast",
        "average_daily_moves", "current_pct", "period_avg", "summary_class")
      .as[ForecastSummary]
      .collect()
    (spark.createDataset(daily.toSeq), spark.createDataset(summary.toSeq))
  }
}

package graft.api

import java.time.LocalDate
import java.time.chrono.IsoChronology
import java.time.format.{DateTimeFormatterBuilder, DateTimeParseException, ResolverStyle, SignStyle}
import java.time.temporal.ChronoField

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.InterpretedMutableProjection
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
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
    *   - one collect of the branch's model rows for the clamped window,
    *     which runs no Spark job when the model is local: a model table
    *     built from driver rows, predicted over the window (the per-day
    *     `SeasonalModel.predict` join included), folds into one local
    *     relation at optimization ([[graft.LocalFold]]);
    *   - with a move type, the branch's percentage rows for that type in
    *     the (at most three) months the input date and the window touch.
    *     When `pct` is a snapshot read (`VersionedTable.readVersion`, under
    *     renames and integral widening casts), they come from
    *     [[SliceIndex]], the driver index of the snapshot's data files,
    *     with no Spark job; the month predicate prunes the files as it
    *     prunes a scan. Any other `pct` (a checkpointed or computed frame)
    *     is queried for them, one job;
    *   - only when that slice is empty, a `limit(1)` probe for the move
    *     type anywhere in `pct` (main.py:204-209: unknown => None).
    * The fallback chain and the summary's aggregates run on the driver
    * over those rows. The per-row columns are [[Forecast.dailyColumns]] and
    * [[Forecast.summaryColumns]], the same definitions the set-oriented
    * oracle queries use, resolved once per session ([[Formulas]]) and
    * evaluated on the driver for this request's rows: the request plans
    * no query beyond its reads. Both results are local-relation
    * Datasets: collecting them runs no Spark job. An unknown branch
    * returns two empty Datasets.
    */
  def forecast(
      spark: SparkSession,
      input: ForecastInput,
      model: DataFrame,
      pct: DataFrame,
      today: LocalDate): (Dataset[DailyForecast], Dataset[ForecastSummary]) = {
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
      return (spark.emptyDataset(DailyEncoder), spark.emptyDataset(SummaryEncoder))

    // (move type, percentage at a date) when the move type is valid
    val lookup: Option[(String, LocalDate => Double)] = input.move_type.flatMap { mt =>
      val (start, end) = Forecast.windowClamp(inputDate, today)
      val months = Seq(inputDate, start, end).map(_.getMonthValue.toLong).distinct
      val slice = SliceIndex.slice(spark, pct, input.branch, mt, months).getOrElse(pct
        .filter(col("branch") === input.branch && col("move_type") === mt &&
          col("month").isin(months: _*) && col("avg_percentage").isNotNull)
        .select(col("month").cast("int"), col("day").cast("int"), col("avg_percentage"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))))
        // one order whichever path read it: the month averages sum in it
        .sorted(Ordering.Tuple3(Ordering.Int, Ordering.Int, Ordering.Double.TotalOrdering))
      if (slice.isEmpty && pct.filter(col("move_type") === mt).limit(1).collect().isEmpty) None
      else Some(mt -> Forecast.fallbackPctLocal(slice))
    }
    val inputPct = lookup.fold(Forecast.NoMoveTypePct)(_._2(inputDate))
    val looked = days.toSeq.map { r =>
      val ds = r.getDate(0)
      DailyIn(input.branch, ds, r.getAs[java.lang.Double](1), inputPct,
        lookup.map(_._2(ds.toLocalDate)), lookup.map(_._1).orNull)
    }
    val formulas = formulasFor(spark)
    val withMoveType = lookup.isDefined
    val daily = formulas.daily(withMoveType)(looked)
    val hist = looked.flatMap(_.hist_avg)
    val summary = formulas.summary(withMoveType)(Seq(SummaryIn(
      input.branch,
      daily.map(_.predicted_moves).sum,
      daily.map(_.branch_forecast).sum,
      daily.length.toLong,
      if (hist.isEmpty) None else Some(hist.sum / hist.length),
      inputPct)))
    (spark.createDataset(daily)(DailyEncoder), spark.createDataset(summary)(SummaryEncoder))
  }

  private val DailyEncoder = ExpressionEncoder[DailyForecast]()
  private val SummaryEncoder = ExpressionEncoder[ForecastSummary]()

  /** The response formulas of one session, prepared once: the daily and
    * the summary projection, each with and without a move type — four,
    * whatever the requests. They hold code, not data, so they cannot
    * serve stale state. They belong to the session that resolved them
    * (its time zone and ANSI mode are resolved into the expressions), so
    * a request on another session prepares that session's own.
    */
  private[graft] final class Formulas(val session: SparkSession) {
    val daily: Map[Boolean, Prepared[DailyIn, DailyForecast]] =
      Seq(true, false).map { withMoveType =>
        withMoveType -> new Prepared(session, ExpressionEncoder[DailyIn](), DailyEncoder)(
          Forecast.dailyColumns(_, if (withMoveType) Some(col("move_type")) else None)
            .select("branch", "ds", "branch_forecast", "predicted_moves", "comment_class", "comment"))
      }.toMap
    val summary: Map[Boolean, Prepared[SummaryIn, ForecastSummary]] =
      Seq(true, false).map { withMoveType =>
        withMoveType -> new Prepared(session, ExpressionEncoder[SummaryIn](), SummaryEncoder)(
          Forecast.summaryColumns(_, withMoveType)
            // CrossRound so the API reports the same digits as the
            // oracle-gated query surface (o36) — and order-stably
            // (period_avg is an AVG over doubles)
            .withColumn("current_pct", CrossRound.ra(col("current_pct"), 6))
            .withColumn("period_avg", CrossRound.ra(col("period_avg"), 6))
            .select(
              "branch", "total_predicted_moves", "total_branch_forecast",
              "average_daily_moves", "current_pct", "period_avg", "summary_class"))
      }.toMap
    def size: Int = daily.size + summary.size
  }

  private var formulas: Option[Formulas] = None

  /** The prepared formulas of `spark`, built on its first request. */
  private[graft] def formulasFor(spark: SparkSession): Formulas = synchronized {
    formulas.filter(_.session eq spark).getOrElse {
      val f = new Formulas(spark)
      formulas = Some(f)
      f
    }
  }
}

/** Input rows of the daily and summary formulas: every request value is a
  * column, so one resolved projection serves every request.
  */
private[api] case class DailyIn(
    branch: String,
    ds: java.sql.Date,
    yhat_upper: java.lang.Double,
    input_pct: Double,
    hist_avg: Option[Double],
    move_type: String)

private[api] case class SummaryIn(
    branch: String,
    total_predicted_moves: Long,
    total_branch_forecast: Long,
    n_days: Long,
    hist_period_avg: Option[Double],
    input_pct: Double)

/** A per-row DataFrame transformation `f`, planned once and evaluated on
  * the driver: `f` is applied to an empty relation of `in`'s schema and
  * analyzed, and each of the resulting plan's projections is bound to
  * Spark's interpreted projection — the evaluation `ConvertToLocalRelation`
  * applies when it folds a projection over local rows, one projection at a
  * time, so the rows are those a query over a local relation returns.
  * `apply` encodes the rows with `in`, runs the projections and decodes
  * with `out`; it is serialized, because the projections and codecs reuse
  * their row buffers.
  */
private[graft] final class Prepared[I, O](
    spark: SparkSession, in: ExpressionEncoder[I], out: ExpressionEncoder[O])(
    f: DataFrame => DataFrame) {
  private val plan = ReplaceExpressions(
    f(spark.createDataFrame(java.util.Collections.emptyList[Row](), in.schema)).queryExecution.analyzed)
  private val projections: Seq[InterpretedMutableProjection] = {
    def layers(p: LogicalPlan): List[InterpretedMutableProjection] = p match {
      case _: LocalRelation => Nil
      case Project(list, child) =>
        val projection = new InterpretedMutableProjection(list, child.output)
        projection.initialize(0)
        layers(child) :+ projection
      case other => throw new IllegalArgumentException(
        s"a prepared formula is per-row projections only, found ${other.nodeName}")
    }
    layers(plan)
  }
  private val toRow = in.createSerializer()
  private val fromRow = out.resolveAndBind(plan.output).createDeserializer()

  def apply(rows: Seq[I]): Seq[O] = synchronized {
    rows.map(r => fromRow(projections.foldLeft(toRow(r): InternalRow)((row, p) => p(row))))
  }
}

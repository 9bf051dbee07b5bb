package graft

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.forecast.SeasonalModel
import graft.operators.{Forecast, Percentages, Trends}
import graft.sources.Tables

/** Serving-side query surface (SURVEY.md §3.1/§3.2) — the `/forecast/` and
  * `/historical_trends/` lifecycles as oracle-verified, set-oriented queries.
  *
  * Fixture parameters: the reference binds `today` to the wall clock
  * (main.py:215) — here every date is a fixed literal (FIXTURES.md §4). The
  * window [2024-01-28, 2024-02-03] deliberately straddles the testdata's
  * edge (events end 2024-01-30) so all three fallback levels are exercised:
  * Jan 28-30 hit day-level rows, Jan 31 falls back to the monthly average,
  * Feb 1-3 fall through to the 1.0 default.
  */
object ServingQueries {

  val Today: LocalDate = LocalDate.parse("2024-01-25")
  val InputDate: LocalDate = LocalDate.parse("2024-01-31")
  val MoveType = "click"
  val (winStart, winEnd) = Forecast.windowClamp(InputDate, Today)

  /** Model spec sized for the fixture's one-month span (engine default
    * Spec() mirrors the reference's Prophet config; see SeasonalModel).
    */
  val FixtureModelSpec: SeasonalModel.Spec =
    SeasonalModel.Spec(yearlyOrder = 2, weeklyOrder = 2, nChangepoints = 3, ridgeLambda = 1.0)

  /** One fitted seasonal model row — the bounded MODEL STATE f01/f02 run
    * with (one row per branch), captured so (a) the fit runs ONCE per sf
    * dir per JVM — the model-store serving posture, where inference reads
    * a stored coefficient table instead of re-fitting per request — and
    * (b) `oracleSql` can interpolate the exact coefficients into a DuckDB
    * restatement of the PREDICTION arithmetic (the ExtensionQueries
    * quality-model pattern; the fit itself — distributed normal
    * equations + an approx residual quantile — is not SQL-restatable,
    * but its output is).
    */
  case class SeasModel(
      branch: String, coef: Seq[Double], n: Long, residQ: Double,
      tStart: java.sql.Date, tDays: Double)

  /** Fit-once-per-dir, then serve the model table as a LocalRelation —
    * downstream broadcast joins become job-free driver copies (the
    * centroidsDF argument), and the doubles round-trip exactly through
    * collect, so results are bit-identical to joining the fitted frame.
    *
    * The fit persists through [[graft.sources.ModelStore]] (codec
    * `SeasModels`) like every other driver-side model: a FRESH JVM loads
    * the committed coefficient snapshot instead of refitting — the
    * reference's own posture (it pickles the fitted Prophet models,
    * main.py:165-185). Fixture keeps the fit as a same-session fast path
    * and as the coefficient source `oracleSql` interpolates from.
    */
  private def seasonalModelsFor(s: SparkSession, dir: String): DataFrame = {
    val rows = Fixture.fitted(s, "seasonal_fix", dir, graft.sources.ModelStore.SeasModels) {
      val daily = Tables.forecastingDataAll(s, dir).withColumnRenamed("cnt", "y")
      SeasonalModel
        .fit(daily, FixtureModelSpec, LocalDate.parse(SparkEntry.FixtureTrainCutoff))
        .collect().toSeq
        .map(r => SeasModel(
          r.getAs[String]("branch"), r.getSeq[Double](r.fieldIndex("coef")).toSeq,
          r.getAs[Long]("n"), r.getAs[Double]("resid_q"),
          r.getAs[java.sql.Date]("t_start"), r.getAs[Double]("t_days")))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("coef", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("resid_q", DoubleType, nullable = false),
      StructField("t_start", DateType, nullable = false),
      StructField("t_days", DoubleType, nullable = false)))
    val jrows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    rows.foreach(m =>
      jrows.add(org.apache.spark.sql.Row(m.branch, m.coef, m.n, m.residQ, m.tStart, m.tDays)))
    s.createDataFrame(jrows, schema)
  }

  val TrendsToday: LocalDate = LocalDate.parse("2024-01-10")
  val TrendsInput: LocalDate = LocalDate.parse("2024-01-15")
  val TrendsBranch = "B7"
  val (trStart, trEnd) = Forecast.windowClamp(TrendsInput, TrendsToday)

  // window-clamp probes: past input, today, both <=3-day boundaries, two
  // mid-range dates, and the max-date edge cases (main.py:215-228 branches)
  val ClampProbes = Seq(
    "2024-01-20", "2024-01-25", "2024-01-28", "2024-01-29",
    "2024-06-15", "2025-07-27", "2025-07-28", "2025-07-31")

  val DateParseProbes = Seq(
    "2024-01-31", "2025-07-31", "2025-08-01", "2024-02-30",
    "2023-13-01", "not-a-date")

  val BranchProbes = Seq("B0", "B42", "B109", "B110", "Bangalore")
  val MoveTypeProbes = Seq("click", "error", "purchase", "Local", "view")

  private def r4(c: Column): Column = graft.operators.CrossRound.r(c, 4)

  /** r4 for columns that can round to NEGATIVE zero (differences of
    * doubles): Spark's round normalizes -0.0 to +0.0 (BigDecimal path)
    * while DuckDB's keeps the sign bit, so a true value of ~-1e-17 hashes
    * differently across engines. Adding +0.0 is the IEEE-754 idiom that
    * canonicalizes -0.0 to +0.0 and is a bit-exact no-op for every other
    * value; the oracle SQL applies the same `+ 0.0` on its side.
    */
  private def r4z(c: Column): Column = graft.operators.CrossRound.r(c, 4) + lit(0.0)

  /** r4 for AGGREGATE-fed doubles (monthly-AVG fallbacks, period
    * averages): pre-rounds 4 extra decimals so partition-order summation
    * drift cannot land on a 4 dp tie (CrossRound.ra convention; oracle
    * mirror `round(round(x, 8), 4)`).
    */
  private def r4a(c: Column): Column = graft.operators.CrossRound.ra(c, 4)
  private def r4az(c: Column): Column = graft.operators.CrossRound.ra(c, 4) + lit(0.0)
  private def fmtDate(c: Column): Column = date_format(c, "yyyy-MM-dd")
  private def d(ld: LocalDate): Column = lit(java.sql.Date.valueOf(ld))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O17: strict '%Y-%m-%d' parse; null = the reference's ValueError
    // (main.py:190-193), plus the horizon-cap check (main.py:196).
    "o17_date_parse" -> ((s, dir) => {
      import s.implicits._
      val parsed = Forecast.parseDateStrict(col("raw"))
      DateParseProbes.toDF("raw")
        .select(
          col("raw"),
          fmtDate(parsed).as("parsed"),
          parsed.isNotNull.as("is_valid"),
          coalesce(parsed > d(Forecast.MaxDate), lit(false)).as("beyond_horizon"))
        .orderBy("raw")
    }),

    // O19/O39: the 7-day window clamp over probe dates covering all three
    // branches of main.py:215-228.
    "o39_window_clamp" -> ((s, dir) => {
      import s.implicits._
      val input = to_date(col("input_date"))
      val (st, en) = Forecast.windowClampCols(input, d(Today), d(Forecast.MaxDate))
      ClampProbes.toDF("input_date")
        .select(col("input_date"), fmtDate(st).as("start_date"), fmtDate(en).as("end_date"))
        .orderBy("input_date")
    }),

    // O20: date_range explode of each clamped window (main.py:230).
    "o20_date_sequence" -> ((s, dir) => {
      import s.implicits._
      val input = to_date(col("input_date"))
      val (st, en) = Forecast.windowClampCols(input, d(Today), d(Forecast.MaxDate))
      Forecast.explodeWindow(ClampProbes.toDF("input_date"), st, en)
        .select(col("input_date"), fmtDate(col("ds")).as("ds"))
        .orderBy("input_date", "ds")
    }),

    // O25: branch validity = membership in the branch dimension
    // (main.py:200-201; model existence in the reference).
    "o25_branch_validation" -> ((s, dir) => {
      import s.implicits._
      Forecast.validateBranches(
        BranchProbes.toDF("branch"),
        Tables.historicalData(s, dir).select("branch").distinct())
        .orderBy("branch")
    }),

    // O26/O33: move-type validation with the silent-degradation quirk —
    // invalid move type => null => "all move types" (main.py:204-209).
    "o26_move_type_validation" -> ((s, dir) => {
      import s.implicits._
      Forecast.effectiveMoveType(
        MoveTypeProbes.toDF("move_type"),
        Percentages.percentages(s, dir))
        .orderBy("move_type")
    }),

    // O23/O24/O8/O9: the 3-level fallback chain over every branch and every
    // day of the fixture window (main.py:85-121).
    "o24_fallback_chain" -> ((s, dir) => {
      val pct = Percentages.percentagesCheckpointed(s, dir)
      val req = Forecast
        .explodeWindow(pct.select("branch").distinct(), d(winStart), d(winEnd))
        .withColumn("move_type", lit(MoveType))
        .withColumn("month", month(col("ds")).cast("long"))
        .withColumn("day", dayofmonth(col("ds")).cast("long"))
      Forecast.fallbackPct(req, pct)
        .select(
          col("branch"), fmtDate(col("ds")).as("ds"),
          r4(col("day_pct")).as("day_pct"),
          r4a(col("month_pct")).as("month_pct"),
          r4a(col("effective_pct")).as("effective_pct"),
          col("fallback_level"))
        .orderBy("branch", "ds")
    }),

    // O12-O14/O40-O44: the full per-day forecast assembly (main.py:230-288)
    // with the SQL-expressible stand-in model (mean + z80*stddev upper).
    "o42_forecast_daily" -> ((s, dir) => {
      val pct = Percentages.percentagesCheckpointed(s, dir)
      val model = Forecast.baselineUpper(Tables.forecastingData(s, dir))
      Forecast.dailyForecast(model, pct, Some(MoveType), InputDate, Today)
        .select(
          col("branch"), fmtDate(col("ds")).as("ds"),
          col("branch_forecast"),
          r4a(col("input_pct")).as("input_pct"),
          col("predicted_moves"),
          r4a(col("hist_avg")).as("hist_avg"),
          r4(col("implied_pct")).as("implied_pct"),
          r4az(col("pct_diff")).as("pct_diff"),
          col("comment_class"),
          col("phrase_id"))
        .orderBy("branch", "ds")
    }),

    // O12-O14 via the no-move-type path: percentage pinned at 100%, the
    // fixed comment class, predicted == branch forecast (main.py:239,
    // :243, :283).
    "o12_forecast_no_move_type" -> ((s, dir) => {
      val pct = Percentages.percentagesCheckpointed(s, dir)
      val model = Forecast.baselineUpper(Tables.forecastingData(s, dir))
      Forecast.dailyForecast(model, pct, None, InputDate, Today)
        .select(
          col("branch"), fmtDate(col("ds")).as("ds"),
          col("branch_forecast"),
          r4(col("input_pct")).as("input_pct"),
          col("predicted_moves"),
          col("comment_class"))
        .orderBy("branch", "ds")
    }),

    // O43/O44: the comment TEXT itself — phrase-bank selection by
    // (comment_class, phrase_id) plus the %.1f interpolation of both
    // percentages (main.py:269-288). Closes the last serving column that
    // was verified only by unit tests.
    "o43_comments" -> ((s, dir) => {
      val pct = Percentages.percentagesCheckpointed(s, dir)
      val model = Forecast.baselineUpper(Tables.forecastingData(s, dir))
      Forecast.dailyForecast(model, pct, Some(MoveType), InputDate, Today)
        .select(col("branch"), fmtDate(col("ds")).as("ds"), col("comment"))
        .orderBy("branch", "ds")
    }),

    // O36/O37/O41/O42: per-branch summary (main.py:290-319).
    "o36_forecast_summary" -> ((s, dir) => {
      val pct = Percentages.percentagesCheckpointed(s, dir)
      val model = Forecast.baselineUpper(Tables.forecastingData(s, dir))
      val daily = Forecast.dailyForecast(model, pct, Some(MoveType), InputDate, Today)
      Forecast.summarize(daily, Some(MoveType))
        .select(
          col("branch"),
          col("total_predicted_moves"),
          col("total_branch_forecast"),
          col("n_days"),
          col("average_daily_moves"),
          r4a(col("current_pct")).as("current_pct"),
          r4a(col("period_avg")).as("period_avg"),
          r4az(col("period_diff")).as("period_diff"),
          col("summary_class"))
        .orderBy("branch")
    }),

    // O15: null/emptiness validation stats (precompute_percentages.py:110-117).
    "o15_null_validation" -> ((s, dir) => {
      val h = Tables.historicalData(s, dir)
        .agg(
          count(lit(1)).as("hist_rows"),
          sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("hist_null_cnt"),
          sum(when(col("ds").isNull, 1L).otherwise(0L)).as("hist_null_ds"))
      val f = Tables.forecastingData(s, dir)
        .agg(
          count(lit(1)).as("fc_rows"),
          sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("fc_null_cnt"))
      h.crossJoin(f)
    }),

    // O35: COUNT(*) freshness check of the percentages table
    // (precompute_percentages.py:45-47).
    "o35_count" -> ((s, dir) =>
      Percentages.percentages(s, dir).agg(count(lit(1)).as("n_rows"))),

    // §2.9 (f-queries): the FIT (distributed normal equations + approx
    // residual quantile) is not ANSI-SQL-expressible — SeasonalModelSpec
    // property-tests it — but the fitted coefficient table is bounded
    // deterministic state, so PREDICTION oracles hash-green with the
    // coefficients interpolated as literals (seasonalModelsFor captures
    // them; fit runs once per dir — the model-store serving posture).
    // Fixture spec is sized to the one-month data span: small Fourier order,
    // few changepoints; the engine default Spec() mirrors Prophet's config.
    "f01_forecast" -> ((s, dir) => {
      val spec = FixtureModelSpec
      val models = seasonalModelsFor(s, dir)
      val days = Forecast.explodeWindow(
        models.select("branch"), d(winStart), d(winEnd))
      SeasonalModel.predict(models, days, spec)
        .select(
          col("branch"), fmtDate(col("ds")).as("ds"),
          r4a(col("yhat")).as("yhat"), r4a(col("yhat_upper")).as("yhat_upper"))
        .orderBy("branch", "ds")
    }),

    // O27 + full serving with the REAL model: the assembly functions are
    // model-agnostic — swap baselineUpper for SeasonalModel.predict and the
    // same pipeline serves (model dispatch = the coefficient-table join).
    "f02_forecast_serving" -> ((s, dir) => {
      val spec = FixtureModelSpec
      val models = seasonalModelsFor(s, dir)
      val days = Forecast.explodeWindow(models.select("branch"), d(winStart), d(winEnd))
      val perDay = SeasonalModel.predict(models, days, spec).select("branch", "ds", "yhat_upper")
      val pct = Percentages.percentagesCheckpointed(s, dir)
      Forecast.dailyForecast(perDay, pct, Some(MoveType), InputDate, Today)
        .select(
          col("branch"), fmtDate(col("ds")).as("ds"),
          col("branch_forecast"), col("predicted_moves"),
          r4a(col("hist_avg")).as("hist_avg"),
          col("comment_class"), col("comment"))
        .orderBy("branch", "ds")
    }),

    // O32: /historical_trends/ — six per-year queries as one (main.py:363-393).
    "o32_trends" -> ((s, dir) =>
      Trends.trends(Tables.historicalData(s, dir), TrendsBranch, None, trStart, trEnd)
        .select(col("year"), col("date"), r4(col("total_moves")).as("total_moves"))),
    "o32_trends_mt" -> ((s, dir) =>
      Trends.trends(Tables.historicalData(s, dir), TrendsBranch, Some(MoveType), trStart, trEnd)
        .select(col("year"), col("date"), r4(col("total_moves")).as("total_moves"))),
  )

  // =====================================================================
  // Oracle SQL
  // =====================================================================

  private def dl(ld: LocalDate): String = s"DATE '$ld'"
  private val todayL = dl(Today)
  private val maxL = dl(Forecast.MaxDate)

  /** The clamp as SQL CASE expressions (shared by o39/o20 oracles). */
  private val clampCte: String =
    s"""probes(input_date) AS (VALUES ${ClampProbes.map(p => s"(DATE '$p')").mkString(", ")}),
       |clamped AS (
       |  SELECT input_date,
       |    CASE WHEN (input_date - $todayL) <= 3 THEN $todayL
       |         WHEN ($maxL - input_date) <= 3 THEN greatest($maxL - 6, $todayL)
       |         ELSE greatest(input_date - 3, $todayL) END AS start_date,
       |    CASE WHEN (input_date - $todayL) <= 3 THEN least($todayL + 6, $maxL)
       |         WHEN ($maxL - input_date) <= 3 THEN $maxL
       |         ELSE least(input_date + 3, $maxL) END AS end_date
       |  FROM probes)""".stripMargin

  /** Monthly-average CTE over the dense pct table (appended after
    * SparkEntry.DensePctCtes).
    */
  private val monthlyCte: String =
    """monthly AS (
      |  SELECT branch, move_type, month, AVG(avg_percentage) AS month_pct
      |  FROM pct GROUP BY 1, 2, 3)""".stripMargin

  /** Window-days CTE for the fixture forecast window. */
  private val windowDaysCte: String =
    s"""wdays AS (
       |  SELECT CAST(u AS DATE) AS ds FROM (
       |    SELECT unnest(generate_series(${dl(winStart)}, ${dl(winEnd)}, INTERVAL 1 DAY)) AS u))""".stripMargin

  /** Assembly CTEs shared by the baseline (o42/o36/o43) and seasonal (f02)
    * serving oracles — input-pct scaling + per-day hist lookup, mirroring
    * Forecast.dailyForecast step for step. The caller supplies the
    * per-day `base` CTE (branch, ds, branch_forecast) and the relation
    * enumerating branches, which is the ONLY place the two model shapes
    * differ.
    */
  private def assemblyCtes(baseCte: String, branchSrc: String): String =
    s"""$baseCte,
       |inputpct AS (
       |  SELECT b.branch, COALESCE(p.avg_percentage, m.month_pct, 1.0) AS input_pct
       |  FROM (SELECT DISTINCT branch FROM $branchSrc) b
       |  LEFT JOIN pct p ON p.branch = b.branch AND p.move_type = '$MoveType'
       |                 AND p.month = ${InputDate.getMonthValue} AND p.day = ${InputDate.getDayOfMonth}
       |  LEFT JOIN monthly m ON m.branch = b.branch AND m.move_type = '$MoveType'
       |                     AND m.month = ${InputDate.getMonthValue}),
       |scaled AS (
       |  SELECT base.branch, base.ds, base.branch_forecast, i.input_pct,
       |         CAST(round_even(round(i.input_pct / 100.0 * base.branch_forecast, 6), 0) AS BIGINT) AS predicted_moves
       |  FROM base JOIN inputpct i ON i.branch = base.branch),
       |daily AS (
       |  SELECT scaled.*,
       |         COALESCE(p.avg_percentage, m.month_pct, 1.0) AS hist_avg,
       |         CASE WHEN branch_forecast > 0
       |              THEN predicted_moves / branch_forecast * 100.0 ELSE 0.0 END AS implied_pct
       |  FROM scaled
       |  LEFT JOIN pct p ON p.branch = scaled.branch AND p.move_type = '$MoveType'
       |                 AND p.month = EXTRACT(MONTH FROM scaled.ds) AND p.day = EXTRACT(DAY FROM scaled.ds)
       |  LEFT JOIN monthly m ON m.branch = scaled.branch AND m.move_type = '$MoveType'
       |                     AND m.month = EXTRACT(MONTH FROM scaled.ds))""".stripMargin

  private val baselineBaseCte: String =
    s"""base AS (
       |  SELECT model.branch, wdays.ds,
       |         CAST(round_even(round(greatest(yhat_upper, 0), 6), 0) AS BIGINT) AS branch_forecast
       |  FROM model CROSS JOIN wdays)""".stripMargin

  private val dailyCtes: String =
    s"""$monthlyCte,
       |$windowDaysCte,
       |model AS (
       |  SELECT branch,
       |         AVG(cnt) + ${Forecast.Z80} * COALESCE(stddev_samp(cnt), 0) AS yhat_upper
       |  FROM forecasting_data GROUP BY 1),
       |${assemblyCtes(baselineBaseCte, "model")}""".stripMargin

  // -------------------------------------------------------------------
  // Seasonal-model oracles (f01/f02): the fitted coefficient table as a
  // VALUES literal, prediction restated feature-for-feature. The Fourier
  // constants and changepoints are computed HERE with the same Scala
  // arithmetic featureCol uses, so both engines multiply absDays by the
  // same double; sin/cos/exp are each engine's libm — their ulp drift is
  // absorbed by the r4a / 6-dp pre-rounds every consumer applies (the
  // sigmoidSql/exp argument, FIXTURES.md §4). expm1(x) mirrors as
  // exp(x) - 1: the absolute gap is < 1e-16, far inside the pre-rounds.
  // -------------------------------------------------------------------

  private def dlit(x: Double): String = OracleSqlUtil.dlit(x)

  private def seasModelValues(ms: Seq[SeasModel]): String =
    ms.map { m =>
      val coef = m.coef.map(dlit).mkString("[", ", ", "]")
      s"('${m.branch}', $coef, ${dlit(m.residQ)}, DATE '${m.tStart}', ${dlit(m.tDays)})"
    }.mkString("(VALUES ", ", ", ")")

  /** dot(features(ds), coef) with the feature list inlined in featureCol's
    * exact order — the dotSql sequential-sum mirror (aliases: smodel s,
    * wdays w).
    */
  private def predLogSql(spec: SeasonalModel.Spec): String = {
    val t = "(CAST(w.ds - s.t_start AS DOUBLE) / s.t_days)"
    val absDays = "CAST(w.ds - DATE '1970-01-01' AS DOUBLE)"
    val twoPi = 2.0 * math.Pi
    val yearly = (1 to spec.yearlyOrder).flatMap { k =>
      val c = twoPi * k / 365.25
      Seq(s"sin($absDays * ${dlit(c)})", s"cos($absDays * ${dlit(c)})")
    }
    val weekly = (1 to spec.weeklyOrder).flatMap { k =>
      val c = twoPi * k / 7.0
      Seq(s"sin($absDays * ${dlit(c)})", s"cos($absDays * ${dlit(c)})")
    }
    val hinges = spec.changepoints.map(c => s"greatest($t - ${dlit(c)}, 0.0)")
    val feats = (Seq("1.0", t) ++ yearly ++ weekly ++ hinges).mkString("[", ", ", "]")
    s"list_sum(list_transform(generate_series(1, ${spec.k}), i -> ($feats)[i] * s.coef[i]))"
  }

  private def f01Sql(ms: Seq[SeasModel]): String =
    s"""WITH $windowDaysCte,
       |smodel(branch, coef, resid_q, t_start, t_days) AS ${seasModelValues(ms)},
       |pred AS (
       |  SELECT s.branch, w.ds, ${predLogSql(FixtureModelSpec)} AS pred_log, s.resid_q
       |  FROM smodel s CROSS JOIN wdays w)
       |SELECT branch, strftime(ds, '%Y-%m-%d') AS ds,
       |       round(round(greatest(exp(pred_log) - 1.0, 0.0), 8), 4) AS yhat,
       |       round(round(greatest(exp(pred_log + resid_q) - 1.0, 0.0), 8), 4) AS yhat_upper
       |FROM pred ORDER BY 1, 2""".stripMargin

  private def f02Sql(ms: Seq[SeasModel]): String = {
    val seasonalBase =
      s"""smodel(branch, coef, resid_q, t_start, t_days) AS ${seasModelValues(ms)},
         |pmodel AS (
         |  SELECT s.branch, w.ds,
         |         greatest(exp(${predLogSql(FixtureModelSpec)} + s.resid_q) - 1.0, 0.0) AS yhat_upper
         |  FROM smodel s CROSS JOIN wdays w),
         |base AS (
         |  SELECT branch, ds,
         |         CAST(round_even(round(greatest(yhat_upper, 0), 6), 0) AS BIGINT) AS branch_forecast
         |  FROM pmodel)""".stripMargin
    s"""${Tables.FactCtes},
       |${SparkEntry.DensePctCtes},
       |$monthlyCte,
       |$windowDaysCte,
       |${assemblyCtes(seasonalBase, "smodel")},
       |lab AS (
       |  SELECT daily.*,
       |         CASE WHEN abs(round(implied_pct - hist_avg, 6)) <= 5 THEN 'consistent'
       |              WHEN round(implied_pct - hist_avg, 6) > 5 THEN 'stronger'
       |              ELSE 'weaker' END AS comment_class,
       |         (EXTRACT(MONTH FROM ds) + EXTRACT(DAY FROM ds) + length(branch)) % 3 AS phrase_id
       |  FROM daily)
       |SELECT branch, strftime(ds, '%Y-%m-%d') AS ds, branch_forecast, predicted_moves,
       |       round(round(hist_avg, 8), 4) AS hist_avg, comment_class,
       |       CASE $commentCases
       |            END AS comment
       |FROM lab ORDER BY 1, 2""".stripMargin
  }

  /** The phrase-bank CASE arms shared by o43 and f02 (%.1f parity rules —
    * see the o43 comment below).
    */
  private lazy val commentCases: String = (for {
    (cls, phrases) <- Forecast.DailyPhrases.toSeq
    (p, i) <- phrases.zipWithIndex
  } yield s"WHEN comment_class = '$cls' AND phrase_id = $i " +
    s"THEN printf('$p', '$MoveType', round_even(round(hist_avg, 6) * 10, 0) / 10, round_even(round(implied_pct, 6) * 10, 0) / 10)")
    .mkString("\n         |            ".stripMargin)

  private def trendsOracle(moveTypeFilter: String): String = {
    val ranges = (Tables.YearLo to Tables.YearHi)
      .map(y => s"(ds BETWEEN ${dl(trStart.withYear(y))} AND ${dl(trEnd.withYear(y))})")
      .mkString(" OR ")
    s"""${Tables.FactCtes}
       |SELECT EXTRACT(YEAR FROM ds) AS year,
       |       strftime(ds, '%m-%d') AS date,
       |       round(SUM(cnt), 4) AS total_moves
       |FROM historical_data
       |WHERE branch = '$TrendsBranch'$moveTypeFilter AND ($ranges)
       |GROUP BY EXTRACT(YEAR FROM ds), ds
       |ORDER BY 1, 2""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "o17_date_parse" ->
      s"""WITH probes(raw) AS (VALUES ${DateParseProbes.map(p => s"('$p')").mkString(", ")}),
         |parsed AS (SELECT raw, CAST(try_strptime(raw, '%Y-%m-%d') AS DATE) AS p FROM probes)
         |SELECT raw, strftime(p, '%Y-%m-%d') AS parsed,
         |       p IS NOT NULL AS is_valid,
         |       COALESCE(p > $maxL, false) AS beyond_horizon
         |FROM parsed ORDER BY raw""".stripMargin,
    "o39_window_clamp" ->
      s"""WITH $clampCte
         |SELECT strftime(input_date, '%Y-%m-%d') AS input_date,
         |       strftime(start_date, '%Y-%m-%d') AS start_date,
         |       strftime(end_date, '%Y-%m-%d') AS end_date
         |FROM clamped ORDER BY 1""".stripMargin,
    "o20_date_sequence" ->
      s"""WITH $clampCte,
         |seq AS (
         |  SELECT input_date, unnest(generate_series(start_date, end_date, INTERVAL 1 DAY)) AS u
         |  FROM clamped)
         |SELECT strftime(input_date, '%Y-%m-%d') AS input_date,
         |       strftime(CAST(u AS DATE), '%Y-%m-%d') AS ds
         |FROM seq ORDER BY 1, 2""".stripMargin,
    "o25_branch_validation" ->
      s"""${Tables.FactCtes},
         |probes(branch) AS (VALUES ${BranchProbes.map(p => s"('$p')").mkString(", ")}),
         |valid AS (SELECT DISTINCT branch FROM historical_data)
         |SELECT probes.branch, valid.branch IS NOT NULL AS is_valid
         |FROM probes LEFT JOIN valid ON valid.branch = probes.branch
         |ORDER BY 1""".stripMargin,
    "o26_move_type_validation" ->
      s"""${Tables.FactCtes},
         |${SparkEntry.DensePctCtes},
         |probes(move_type) AS (VALUES ${MoveTypeProbes.map(p => s"('$p')").mkString(", ")}),
         |valid AS (SELECT DISTINCT move_type FROM pct)
         |SELECT probes.move_type,
         |       CASE WHEN valid.move_type IS NOT NULL THEN probes.move_type END AS effective_move_type
         |FROM probes LEFT JOIN valid ON valid.move_type = probes.move_type
         |ORDER BY 1""".stripMargin,
    "o24_fallback_chain" ->
      s"""${Tables.FactCtes},
         |${SparkEntry.DensePctCtes},
         |$monthlyCte,
         |$windowDaysCte,
         |req AS (
         |  SELECT b.branch, '$MoveType' AS move_type,
         |         EXTRACT(MONTH FROM ds) AS month, EXTRACT(DAY FROM ds) AS day, ds
         |  FROM (SELECT DISTINCT branch FROM pct) b CROSS JOIN wdays)
         |SELECT req.branch, strftime(req.ds, '%Y-%m-%d') AS ds,
         |       round(p.avg_percentage, 4) AS day_pct,
         |       round(round(m.month_pct, 8), 4) AS month_pct,
         |       round(round(COALESCE(p.avg_percentage, m.month_pct, 1.0), 8), 4) AS effective_pct,
         |       CASE WHEN p.avg_percentage IS NOT NULL THEN 'day'
         |            WHEN m.month_pct IS NOT NULL THEN 'month'
         |            ELSE 'default' END AS fallback_level
         |FROM req
         |LEFT JOIN pct p ON p.branch = req.branch AND p.move_type = req.move_type
         |               AND p.month = req.month AND p.day = req.day
         |LEFT JOIN monthly m ON m.branch = req.branch AND m.move_type = req.move_type
         |                   AND m.month = req.month
         |ORDER BY 1, 2""".stripMargin,
    "o42_forecast_daily" ->
      s"""${Tables.FactCtes},
         |${SparkEntry.DensePctCtes},
         |$dailyCtes
         |SELECT branch, strftime(ds, '%Y-%m-%d') AS ds, branch_forecast,
         |       round(round(input_pct, 8), 4) AS input_pct, predicted_moves,
         |       round(round(hist_avg, 8), 4) AS hist_avg,
         |       round(implied_pct, 4) AS implied_pct,
         |       round(round(implied_pct - hist_avg, 8), 4) + 0.0 AS pct_diff,
         |       CASE WHEN abs(round(implied_pct - hist_avg, 6)) <= 5 THEN 'consistent'
         |            WHEN round(implied_pct - hist_avg, 6) > 5 THEN 'stronger'
         |            ELSE 'weaker' END AS comment_class,
         |       (EXTRACT(MONTH FROM ds) + EXTRACT(DAY FROM ds) + length(branch)) % 3 AS phrase_id
         |FROM daily ORDER BY 1, 2""".stripMargin,
    // BOTH engines pre-round to 1 decimal via the MULTIPLY form
    // (x * 10, half-even at scale 0, / 10) before formatting, so %.1f is a
    // pass-through on both sides. Scale 0 deliberately: its tie points are
    // half-integers, all exactly representable, so Spark's repr-based
    // bround and DuckDB's binary-based round_even cannot split there —
    // scale-1 rounding COULD (3.35 = 3350000/1e6 reprs as '3.35' but sits
    // below the binary tie). Formatting the RAW value would NOT be safe:
    // printf rounds the exact binary value (12.35 -> "12.3") while Java's
    // Formatter rounds the shortest repr half-up (12.35 -> "12.4") — see
    // Forecast.dailyForecast.
    "o43_comments" ->
      s"""${Tables.FactCtes},
         |${SparkEntry.DensePctCtes},
         |$dailyCtes,
         |lab AS (
         |  SELECT branch, ds, hist_avg, implied_pct,
         |         CASE WHEN abs(round(implied_pct - hist_avg, 6)) <= 5 THEN 'consistent'
         |              WHEN round(implied_pct - hist_avg, 6) > 5 THEN 'stronger'
         |              ELSE 'weaker' END AS comment_class,
         |         (EXTRACT(MONTH FROM ds) + EXTRACT(DAY FROM ds) + length(branch)) % 3 AS phrase_id
         |  FROM daily)
         |SELECT branch, strftime(ds, '%Y-%m-%d') AS ds,
         |       CASE $commentCases
         |            END AS comment
         |FROM lab ORDER BY 1, 2""".stripMargin,
    "o12_forecast_no_move_type" ->
      s"""${Tables.FactCtes},
         |$windowDaysCte,
         |model AS (
         |  SELECT branch,
         |         AVG(cnt) + ${Forecast.Z80} * COALESCE(stddev_samp(cnt), 0) AS yhat_upper
         |  FROM forecasting_data GROUP BY 1)
         |SELECT model.branch, strftime(wdays.ds, '%Y-%m-%d') AS ds,
         |       CAST(round_even(round(greatest(yhat_upper, 0), 6), 0) AS BIGINT) AS branch_forecast,
         |       round(100.0, 4) AS input_pct,
         |       CAST(round_even(round(100.0 / 100.0 * CAST(round_even(round(greatest(yhat_upper, 0), 6), 0) AS BIGINT), 6), 0) AS BIGINT)
         |         AS predicted_moves,
         |       'no_move_type' AS comment_class
         |FROM model CROSS JOIN wdays
         |ORDER BY 1, 2""".stripMargin,
    "o36_forecast_summary" ->
      s"""${Tables.FactCtes},
         |${SparkEntry.DensePctCtes},
         |$dailyCtes,
         |summary AS (
         |  SELECT branch,
         |         CAST(SUM(predicted_moves) AS BIGINT) AS total_predicted_moves,
         |         CAST(SUM(branch_forecast) AS BIGINT) AS total_branch_forecast,
         |         CAST(COUNT(*) AS BIGINT) AS n_days,
         |         AVG(hist_avg) AS hist_period_avg,
         |         MAX(input_pct) AS input_pct
         |  FROM daily GROUP BY 1)
         |SELECT branch, total_predicted_moves, total_branch_forecast, n_days,
         |       CAST(round_even(total_predicted_moves / n_days, 0) AS BIGINT) AS average_daily_moves,
         |       round(round(CASE WHEN total_branch_forecast > 0
         |                        THEN total_predicted_moves / total_branch_forecast * 100.0
         |                        ELSE 0.0 END, 8), 4) AS current_pct,
         |       round(round(COALESCE(hist_period_avg, input_pct), 8), 4) AS period_avg,
         |       round(round(CASE WHEN total_branch_forecast > 0
         |                        THEN total_predicted_moves / total_branch_forecast * 100.0
         |                        ELSE 0.0 END - COALESCE(hist_period_avg, input_pct), 8), 4) + 0.0 AS period_diff,
         |       CASE WHEN abs(round(CASE WHEN total_branch_forecast > 0
         |                                THEN total_predicted_moves / total_branch_forecast * 100.0
         |                                ELSE 0.0 END - COALESCE(hist_period_avg, input_pct), 6)) <= 5
         |            THEN 'consistent'
         |            WHEN round(CASE WHEN total_branch_forecast > 0
         |                            THEN total_predicted_moves / total_branch_forecast * 100.0
         |                            ELSE 0.0 END - COALESCE(hist_period_avg, input_pct), 6) > 5
         |            THEN 'stronger'
         |            ELSE 'weaker' END AS summary_class
         |FROM summary ORDER BY 1""".stripMargin,
    "o15_null_validation" ->
      s"""${Tables.FactCtes},
         |h AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS hist_rows,
         |         CAST(SUM(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS hist_null_cnt,
         |         CAST(SUM(CASE WHEN ds IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS hist_null_ds
         |  FROM historical_data),
         |f AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS fc_rows,
         |         CAST(SUM(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fc_null_cnt
         |  FROM forecasting_data)
         |SELECT * FROM h CROSS JOIN f""".stripMargin,
    "o35_count" ->
      s"""${Tables.FactCtes},
         |${SparkEntry.DensePctCtes}
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM pct""".stripMargin,
    "o32_trends" -> trendsOracle(""),
    "o32_trends_mt" -> trendsOracle(s" AND move_type = '$MoveType'"),
  ) ++ Fixture.only[Seq[SeasModel]]("seasonal_fix").map(ms => Map(
    // rendered only when the fit ran this JVM (Verify runs queries before
    // dumping oracles); otherwise f01/f02 fall back to rows-only
    "f01_forecast" -> f01Sql(ms),
    "f02_forecast_serving" -> f02Sql(ms),
  )).getOrElse(Map.empty)
}

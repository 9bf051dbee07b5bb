package graft.operators

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The serving-side forecast pipeline: Spark restatement of the reference's
  * `/forecast/` flagship entry point (main.py:187-338).
  *
  * The reference serves ONE branch per HTTP request with ~16 Postgres
  * round-trips (SURVEY.md §3.1). [[dailyForecast]] and [[summarize]] compute
  * the identical result for EVERY branch in one DataFrame DAG (the batch and
  * oracle form); at 100 TB the percentage table stays bounded
  * (|branches| x |move types| x 366) so every lookup join broadcasts. A
  * single request ([[graft.api.Api.forecast]]) reads only its branch's
  * bounded slice, runs the fallback chain on the driver
  * ([[fallbackPctLocal]]) and shares the per-row column math
  * ([[dailyColumns]], [[summaryColumns]]) with the set-oriented form.
  *
  * Determinism deviations (FIXTURES.md §4, intentional and documented):
  *   - `today` is an explicit parameter, not `datetime.now()` (main.py:215);
  *   - phrase selection is `(month + day + length(branch)) % 3`, not
  *     `random.choice` (main.py:270) — same phrase banks, deterministic pick;
  *   - Python `int(round(x))` is half-even rounding, matched exactly with
  *     Spark `bround` (and DuckDB `round_even` on the oracle side);
  *   - the ±5 classification compares `round(diff, 6)` so that last-ulp
  *     float-aggregation-order noise can never flip a label across engines.
  */
object Forecast {

  /** Forecast horizon hard cap (main.py:196, :216, :347). */
  val MaxDate: LocalDate = LocalDate.parse("2025-07-31")

  /** 3-level fallback floor (main.py:111-115). */
  val DefaultPct = 1.0

  /** No-move-type sentinel percentage (main.py:239). */
  val NoMoveTypePct = 100.0

  /** z for an ~80% one-sided normal upper bound — the stand-in model's
    * analog of Prophet's default 80% `yhat_upper` interval (main.py:235).
    */
  val Z80 = 1.2816

  // -------------------------------------------------------------------
  // O17: strict date parse ('%Y-%m-%d', ValueError on bad input —
  // main.py:190-193). try_to_date nulls instead of throwing; callers
  // treat null as the validation failure.
  // -------------------------------------------------------------------
  def parseDateStrict(c: Column): Column = try_to_date(c, "yyyy-MM-dd")

  // -------------------------------------------------------------------
  // O19/O39: the 7-day window clamp (main.py:215-228; duplicated verbatim
  // at main.py:346-359). Scalar (request-edge) and columnar (set-oriented)
  // forms share the same three-branch structure:
  //   input within 3 days of today  -> [today, min(today+6, max)]
  //   input within 3 days of max    -> [max(max-6, today), max]
  //   else                          -> [max(input-3, today), min(input+3, max)]
  // -------------------------------------------------------------------
  def windowClamp(
      input: LocalDate,
      today: LocalDate,
      maxDate: LocalDate = MaxDate): (LocalDate, LocalDate) = {
    def maxD(a: LocalDate, b: LocalDate) = if (a.isAfter(b)) a else b
    def minD(a: LocalDate, b: LocalDate) = if (a.isBefore(b)) a else b
    val daysFromToday = ChronoUnit.DAYS.between(today, input)
    val daysToMax = ChronoUnit.DAYS.between(input, maxDate)
    if (daysFromToday <= 3) (today, minD(today.plusDays(6), maxDate))
    else if (daysToMax <= 3) (maxD(maxDate.minusDays(6), today), maxDate)
    else (maxD(input.minusDays(3), today), minD(input.plusDays(3), maxDate))
  }

  /** Columnar clamp: (start, end) expressions from an input-date column. */
  def windowClampCols(input: Column, today: Column, maxDate: Column): (Column, Column) = {
    val daysFromToday = datediff(input, today)
    val daysToMax = datediff(maxDate, input)
    val start = when(daysFromToday <= 3, today)
      .when(daysToMax <= 3, greatest(date_sub(maxDate, 6), today))
      .otherwise(greatest(date_sub(input, 3), today))
    val end = when(daysFromToday <= 3, least(date_add(today, 6), maxDate))
      .when(daysToMax <= 3, maxDate)
      .otherwise(least(date_add(input, 3), maxDate))
    (start, end)
  }

  // -------------------------------------------------------------------
  // O20: date sequence (pd.date_range, main.py:230) — one row per day of
  // the window, per input row.
  // -------------------------------------------------------------------
  def explodeWindow(df: DataFrame, start: Column, end: Column): DataFrame =
    df.withColumn("ds", explode(sequence(start, end, expr("interval 1 day"))))

  // -------------------------------------------------------------------
  // Stand-in per-branch model for the ORACLE-verified serving queries:
  // flat upper forecast = mean + Z80 * sample stddev of the branch's daily
  // totals. Same capability as Prophet's yhat_upper point-forecast choice
  // (main.py:235) — an optimistic capacity bound — and fully
  // SQL-expressible so DuckDB can verify the whole assembly downstream.
  // The real forecaster (graft.forecast.SeasonalModel) plugs into the same
  // assembly functions; they are model-agnostic over (branch, yhat_upper).
  // -------------------------------------------------------------------
  def baselineUpper(forecasting: DataFrame): DataFrame =
    forecasting
      .groupBy(col("branch"))
      .agg((avg(col("cnt")) + lit(Z80) * coalesce(stddev_samp(col("cnt")), lit(0.0)))
        .as("yhat_upper"))

  // -------------------------------------------------------------------
  // O23/O24: percentage lookup with the 3-level fallback chain
  // (main.py:85-121): day-specific -> monthly AVG -> 1.0.
  // `requests` must carry (branch, move_type, month, day); adds
  // day_pct, month_pct, effective_pct, fallback_level.
  // The percentage table is bounded (~40k x |move types| rows at ANY input
  // scale) so both lookup joins broadcast — the reference's per-request N+1
  // SQL becomes two broadcast hash joins.
  // -------------------------------------------------------------------
  def fallbackPct(requests: DataFrame, pct: DataFrame): DataFrame = {
    val dayLevel = pct.select(
      col("branch"), col("move_type"), col("month"), col("day"),
      col("avg_percentage").as("day_pct"))
    val monthLevel = Percentages
      .monthlyAvg(pct)
      .withColumnRenamed("month_avg", "month_pct")
    requests
      .join(broadcast(dayLevel), Seq("branch", "move_type", "month", "day"), "left")
      .join(broadcast(monthLevel), Seq("branch", "move_type", "month"), "left")
      .withColumn("effective_pct", coalesce(col("day_pct"), col("month_pct"), lit(DefaultPct)))
      .withColumn(
        "fallback_level",
        when(col("day_pct").isNotNull, "day")
          .when(col("month_pct").isNotNull, "month")
          .otherwise("default"))
  }

  /** Driver-side twin of [[fallbackPct]] for ONE (branch, move type):
    * `slice` holds that pair's non-null (month, day, avg_percentage) rows
    * for WHOLE months — the monthly level averages every row of a month
    * it holds, exactly as [[Percentages.monthlyAvg]] does over the table.
    * A date whose month the slice does not hold falls through to
    * [[DefaultPct]].
    */
  def fallbackPctLocal(slice: Seq[(Int, Int, Double)]): LocalDate => Double = {
    val dayLevel = slice.map { case (m, d, p) => (m, d) -> p }.toMap
    val monthLevel = slice.groupMapReduce(_._1)(r => (r._3, 1))((a, b) => (a._1 + b._1, a._2 + b._2))
      .map { case (m, (sum, n)) => m -> sum / n }
    date => dayLevel.get((date.getMonthValue, date.getDayOfMonth))
      .orElse(monthLevel.get(date.getMonthValue))
      .getOrElse(DefaultPct)
  }

  // -------------------------------------------------------------------
  // O25/O26: validation. Branch validity = membership in the model store
  // (main.py:200-201); move-type validity = membership in the percentages
  // table's DISTINCT move types, with the reference's silent-degradation
  // quirk: an INVALID move type is treated as None => 100% (main.py:204-209),
  // not an error.
  // -------------------------------------------------------------------
  def validateBranches(probes: DataFrame, validBranches: DataFrame): DataFrame =
    probes.join(
      broadcast(validBranches.select(col("branch"), lit(true).as("is_valid"))),
      Seq("branch"), "left")
      .withColumn("is_valid", coalesce(col("is_valid"), lit(false)))

  /** Returns the effective move type: unchanged if valid, null (= "all move
    * types", 100%) if not — the main.py:204-209 quirk, preserved.
    */
  def effectiveMoveType(probes: DataFrame, pct: DataFrame): DataFrame = {
    val valid = pct.select(col("move_type")).distinct()
      .withColumn("mt_valid", lit(true))
    probes
      .join(broadcast(valid), Seq("move_type"), "left")
      .withColumn(
        "effective_move_type",
        when(col("mt_valid").isNotNull, col("move_type")).otherwise(lit(null: String)))
      .drop("mt_valid")
  }

  // -------------------------------------------------------------------
  // Python-semantics helpers.
  // -------------------------------------------------------------------

  /** Python `int(round(x))` = round-half-even, exactly (`bround`). */
  def pyRound(c: Column): Column = bround(c).cast("long")

  /** [[pyRound]] for AGGREGATE-fed doubles (model outputs, percentage
    * fallbacks): pre-round at 6 dp so partition-order drift of +/-1 ulp
    * around an exact .5 tie cannot flip the integer across runs or
    * engines (the CrossRound.ra convention at output scale 0). Oracle
    * mirror: `round_even(round(x, 6), 0)`. Fidelity deviation vs Python:
    * only inputs within 5e-7 of a .5 boundary can round differently —
    * the same accepted class as classifyDiff's 6 dp guard.
    */
  def pyRoundAgg(c: Column): Column = bround(CrossRound.r(c, 6)).cast("long")

  /** O14: clip(lower=0).round().astype(int) (main.py:236). Drift-guarded:
    * yhat_upper descends from stddev_samp/least-squares aggregates, whose
    * accumulation order is partition-dependent.
    */
  def clipRoundCount(c: Column): Column = pyRoundAgg(greatest(c, lit(0.0)))

  /** O41: `x / y * 100 if y > 0 else 0` (main.py:266, :295). */
  def safeSharePct(x: Column, y: Column): Column =
    when(y > 0, x / y * 100.0).otherwise(lit(0.0))

  /** O42: ±5-point classification (main.py:269-280, :306-317) over a
    * determinism-guarded diff (round to 6 dp so engine-order float noise
    * can't flip a boundary case).
    */
  def classifyDiff(diff: Column): Column = {
    val d = CrossRound.r(diff, 6)
    when(abs(d) <= 5.0, "consistent").when(d > 5.0, "stronger").otherwise("weaker")
  }

  /** O44: deterministic phrase pick — the reference uses random.choice over
    * 3-phrase banks (main.py:270); the engine derives the index from the row
    * key so results are reproducible and oracle-checkable.
    */
  def phraseId(branch: Column, ds: Column): Column =
    pmod(month(ds) + dayofmonth(ds) + length(branch), lit(3)).cast("long")

  // -------------------------------------------------------------------
  // O43: phrase banks (capability-equivalent restatement of the reference's
  // banks at main.py:129-163 — 3 phrases per class, same placeholders).
  // -------------------------------------------------------------------
  val DailyPhrases: Map[String, Seq[String]] = Map(
    "consistent" -> Seq(
      "Demand for %s moves tracks the historical pattern (historical avg %.1f%%, current %.1f%%).",
      "%s move demand matches past trends (historical avg %.1f%%, current %.1f%%).",
      "Forecast %s moves are in line with history (historical avg %.1f%%, current %.1f%%)."),
    "stronger" -> Seq(
      "Demand for %s moves runs above the historical trend (historical avg %.1f%%, current %.1f%%).",
      "%s move demand is ahead of past patterns (historical avg %.1f%%, current %.1f%%).",
      "Forecast %s moves show demand above historical norms (historical avg %.1f%%, current %.1f%%)."),
    "weaker" -> Seq(
      "Demand for %s moves runs below the historical trend (historical avg %.1f%%, current %.1f%%).",
      "%s move demand lags past trends (historical avg %.1f%%, current %.1f%%).",
      "Forecast %s moves show demand below historical data (historical avg %.1f%%, current %.1f%%)."))

  val NoMoveTypePhrase =
    "Forecast covers total moves for the branch; no move type was specified."

  // -------------------------------------------------------------------
  // The assembled daily forecast (steps 5-7 of SURVEY §3.1), set-oriented
  // over all branches. `model` supplies (branch, yhat_upper) per day or as
  // a flat per-branch bound; `pct` is the dense percentages table.
  // -------------------------------------------------------------------

  /** Per-day forecast rows for every branch.
    *
    * @param model     (branch, yhat_upper) — flat per-branch upper forecast,
    *                  OR (branch, ds, yhat_upper) for a real per-day model
    * @param pct       dense percentages (Percentages.percentages*)
    * @param moveType  requested move type (None => 100%, main.py:239)
    * @param inputDate request date (drives the scaling percentage lookup)
    * @param today     explicit wall-clock parameter
    */
  def dailyForecast(
      model: DataFrame,
      pct: DataFrame,
      moveType: Option[String],
      inputDate: LocalDate,
      today: LocalDate): DataFrame = {
    val current = windowRows(model, inputDate, today)
    val looked = moveType match {
      case None =>
        current
          .withColumn("input_pct", lit(NoMoveTypePct))
          .withColumn("hist_avg", lit(null).cast("double"))
      case Some(mt) =>
        // the INPUT-date percentage scales ALL days (main.py:239-243, :254);
        // the PER-DAY percentage only feeds the comment (main.py:264) —
        // the reference's subtlest serving quirk, preserved.
        val inputReq = current
          .withColumn("move_type", lit(mt))
          .withColumn("month", lit(inputDate.getMonthValue.toLong))
          .withColumn("day", lit(inputDate.getDayOfMonth.toLong))
        val withInputPct = fallbackPct(inputReq, pct)
          .withColumnRenamed("effective_pct", "input_pct")
          .drop("day_pct", "month_pct", "fallback_level", "month", "day")
        val dayReq = withInputPct
          .withColumn("month", month(col("ds")).cast("long"))
          .withColumn("day", dayofmonth(col("ds")).cast("long"))
        fallbackPct(dayReq, pct)
          .withColumnRenamed("effective_pct", "hist_avg")
          .drop("day_pct", "month_pct", "fallback_level", "month", "day")
    }
    dailyColumns(looked, moveType.map(lit))
  }

  /** The model rows of the clamped window around `inputDate`: a per-day
    * model is filtered to the window, a flat one is exploded over it.
    */
  def windowRows(model: DataFrame, inputDate: LocalDate, today: LocalDate): DataFrame = {
    val (start, end) = windowClamp(inputDate, today)
    val perDay =
      if (model.columns.contains("ds"))
        model.filter(col("ds").between(
          lit(java.sql.Date.valueOf(start)), lit(java.sql.Date.valueOf(end))))
      else
        explodeWindow(
          model,
          lit(java.sql.Date.valueOf(start)),
          lit(java.sql.Date.valueOf(end)))
    // O12 (main.py:234): drop days before today — vacuous by clamp
    // construction (start >= today always) but kept for fidelity.
    perDay.filter(col("ds") >= lit(java.sql.Date.valueOf(today)))
  }

  /** The per-row daily columns (O13/O14, O40-O44), shared by the
    * set-oriented [[dailyForecast]] and the single-branch driver path of
    * [[graft.api.Api.forecast]]. `looked` carries (branch, ds, yhat_upper)
    * plus the looked-up `input_pct` (the input date's percentage; 100 with
    * no move type) and `hist_avg` (the day's percentage; null with no move
    * type). `moveType` is the requested move type's column (None: no move
    * type) — a literal in the set-oriented form, an input column in the
    * API's. Adds branch_forecast, predicted_moves, implied_pct, pct_diff,
    * comment_class, phrase_id and comment. Every column is a per-row
    * expression of its input columns, with no request value baked in, so
    * the API resolves them once per session and evaluates them on the
    * driver for each request's rows.
    */
  def dailyColumns(looked: DataFrame, moveType: Option[Column]): DataFrame = {
    // O13/O14 (main.py:235-236)
    val scaled = looked
      .withColumn("branch_forecast", clipRoundCount(col("yhat_upper")))
      .withColumn("predicted_moves", pyRoundAgg(col("input_pct") / 100.0 * col("branch_forecast")))
      .withColumn("implied_pct", safeSharePct(col("predicted_moves"), col("branch_forecast")))
    moveType match {
      case None =>
        scaled
          .withColumn("pct_diff", lit(null).cast("double"))
          .withColumn("comment_class", lit("no_move_type"))
          .withColumn("phrase_id", lit(0L))
          .withColumn("comment", lit(NoMoveTypePhrase))
      case Some(mt) =>
        scaled
          .withColumn("pct_diff", col("implied_pct") - col("hist_avg"))
          .withColumn("comment_class", classifyDiff(col("pct_diff")))
          .withColumn("phrase_id", phraseId(col("branch"), col("ds")))
          .withColumn("comment", {
            // format each bank's phrases, then select by (class, phrase_id).
            // %.1f parity: the three formatters disagree on ties — Java's
            // Formatter rounds the SHORTEST decimal repr half-up (12.35 ->
            // "12.4"), CPython f"{x:.1f}" rounds the exact binary value
            // half-even (-> "12.3"), and Spark bround rounds the shortest
            // repr half-even (-> 12.4). Pre-rounding to 1 dp makes Java's
            // formatter a pass-through and gives text DuckDB reproduces
            // exactly — deterministic and cross-engine stable. Documented
            // fidelity deviation: on an exact .x5 tie the digit is
            // half-even on the value both engines compute (binary, via the
            // multiply form below), where CPython (main.py:270-279) is
            // half-even on the unrounded binary value; every non-tie value
            // formats identically.
            //
            // The CrossRound.r(x, 6) INSIDE the rounding is the partition-
            // order guard (round-3 red row): hist_avg can fall back to a
            // monthly AVG whose true value sits exactly ON a scale-1 tie
            // (21.25 for (B94, 2024-01-31)); summed in a different order —
            // 4 vs 32 partitions — it arrives 1 ulp high and the half-even
            // flips "21.2" to "21.3". Collapsing at 6 dp first lands every
            // ordering on the same double.
            //
            // The half-even step itself uses the MULTIPLY form, not
            // bround(x, 1): Spark's scale-1 bround half-evens the shortest
            // decimal repr while DuckDB's round_even(x, 1) half-evens the
            // binary value, and a pre-rounded 3.35 (= 3350000/1e6, not
            // binary-representable) splits them. At scale 0 the tie points
            // are half-INTEGERS — every one exactly representable — so
            // repr-rounding and binary-rounding agree on ALL inputs; both
            // engines multiply the same double by 10, half-even at the
            // integer, and divide back. Oracle mirror:
            // round_even(round(x, 6) * 10, 0) / 10.
            def fmt1(c: Column): Column = bround(CrossRound.r(c, 6) * 10) / 10
            def bank(k: String): Column = element_at(
              array(DailyPhrases(k).map(p =>
                format_string(p, mt, fmt1(col("hist_avg")), fmt1(col("implied_pct")))): _*),
              (col("phrase_id") + 1).cast("int"))
            when(col("comment_class") === "consistent", bank("consistent"))
              .when(col("comment_class") === "stronger", bank("stronger"))
              .otherwise(bank("weaker"))
          })
    }
  }

  /** O36/O37 + summary classification (main.py:290-319): per-branch totals,
    * average daily moves, period share vs historical period average.
    */
  def summarize(daily: DataFrame, moveType: Option[String]): DataFrame =
    summaryColumns(
      daily
        .groupBy(col("branch"))
        .agg(
          sum(col("predicted_moves")).as("total_predicted_moves"),
          sum(col("branch_forecast")).as("total_branch_forecast"),
          count(lit(1)).as("n_days"),
          avg(col("hist_avg")).as("hist_period_avg"),
          first(col("input_pct")).as("input_pct")),
      moveType.isDefined)

  /** The summary's derived columns over its per-branch aggregate
    * (total_predicted_moves, total_branch_forecast, n_days,
    * hist_period_avg, input_pct), shared by [[summarize]] and the driver
    * path of [[graft.api.Api.forecast]]: average_daily_moves, current_pct,
    * period_avg, period_diff and summary_class; `withMoveType` says
    * whether the request named a (valid) move type.
    */
  def summaryColumns(agg: DataFrame, withMoveType: Boolean): DataFrame = {
    val withAvgs = agg
      .withColumn("average_daily_moves",
        pyRound(col("total_predicted_moves") / col("n_days")))
      .withColumn("current_pct",
        safeSharePct(col("total_predicted_moves"), col("total_branch_forecast")))
      // main.py:303: empty-history default falls back to the input pct
      .withColumn("period_avg", coalesce(col("hist_period_avg"), col("input_pct")))
    if (withMoveType)
      withAvgs
        .withColumn("period_diff", col("current_pct") - col("period_avg"))
        .withColumn("summary_class", classifyDiff(col("period_diff")))
    else
      withAvgs
        .withColumn("period_diff", lit(null).cast("double"))
        .withColumn("summary_class", lit("no_move_type"))
  }

  /** O46: one nested-JSON document per branch, shaped like the reference's
    * HTTP response (main.py:321-332). Not oracle-checked (JSON text
    * formatting is engine-specific); covered by ForecastSpec.
    */
  def toJsonResults(
      daily: DataFrame,
      summary: DataFrame,
      moveType: Option[String],
      start: LocalDate,
      end: LocalDate): DataFrame = {
    val days = daily
      .groupBy(col("branch"))
      .agg(sort_array(collect_list(struct(
        date_format(col("ds"), "yyyy-MM-dd").as("date"),
        col("predicted_moves"),
        col("comment")))).as("predicted_summary"))
    days
      .join(summary, Seq("branch"))
      .select(
        col("branch"),
        to_json(struct(
          col("branch"),
          lit(moveType.orNull).as("move_type"),
          struct(
            lit(start.toString).as("start_date"),
            lit(end.toString).as("end_date")).as("forecast_window"),
          col("predicted_summary"),
          col("total_predicted_moves"),
          col("average_daily_moves"),
          col("summary_class"))).as("result_json"))
  }
}

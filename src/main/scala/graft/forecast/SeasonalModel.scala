package graft.forecast

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The forecaster: capability-equivalent restatement of the reference's
  * per-branch Prophet models (pretrain_models.py:18-33; inference at
  * main.py:230-236).
  *
  * Reference configuration (pretrain_models.py:22-29): linear growth,
  * yearly + daily seasonality, weekly off, multiplicative mode,
  * changepoint_prior_scale=0.01, seasonality_prior_scale=15.0; serving uses
  * `yhat_upper` (the ~80% upper uncertainty bound) as the point forecast
  * (main.py:235).
  *
  * Public-knowledge math (Taylor & Letham, "Forecasting at Scale", 2018):
  * y(t) = g(t) * (1 + s(t)) with piecewise-linear g and Fourier-series s.
  * Restated for Spark as per-branch ridge regression of log1p(y) on
  * engineered columns [1, t, hinge(t - c_i)..., sin/cos Fourier terms] —
  * the log link approximates multiplicative seasonality, the ridge penalty
  * plays the role of the MAP priors, and the upper bound comes from a
  * per-branch residual quantile (cf. Prophet's 80% interval).
  *
  * Note: daily seasonality over daily-aggregated observations is degenerate
  * (every observation sits at the same time of day — Prophet fits it as
  * ~constant), so the engine models yearly/weekly only; `daily` would only
  * matter for sub-daily grains and can be added as another Fourier block.
  *
  * Scale posture: fitting is ONE shuffle — a typed Aggregator accumulates
  * the k x k normal equations per branch (k ~ tens => a few KB per group)
  * and solves them in the merge-side finish; no per-branch driver loop, no
  * MLlib fit-per-group, no iterative passes. The residual quantile is a
  * second bounded aggregation. Inference is a broadcast join of the
  * coefficient table (|branches| rows) followed by pure column math.
  */
object SeasonalModel {

  /** Reference train cutoff (pretrain_models.py:20). */
  val DefaultTrainCutoff: LocalDate = LocalDate.parse("2023-12-31")

  /** Minimum rows per branch, as in the reference (pretrain_models.py:21). */
  val MinRows = 2

  /** @param yearlyOrder  Fourier pairs for the yearly cycle (Prophet: 10)
    * @param weeklyOrder  Fourier pairs for the weekly cycle (Prophet default 3;
    *                     reference disables weekly — keep 0 for parity)
    * @param nChangepoints  trend hinge count (Prophet: 25)
    * @param changepointRange  changepoints live in the first fraction of the
    *                          training span (Prophet: 0.8)
    * @param ridgeLambda  L2 penalty (the MAP-prior analog)
    * @param upperQuantile  residual quantile for yhat_upper (~Prophet 80%
    *                       interval's upper edge = 0.9 one-sided)
    */
  case class Spec(
      yearlyOrder: Int = 10,
      weeklyOrder: Int = 0,
      nChangepoints: Int = 25,
      changepointRange: Double = 0.8,
      ridgeLambda: Double = 0.5,
      upperQuantile: Double = 0.9) {
    def k: Int = 2 + 2 * yearlyOrder + 2 * weeklyOrder + nChangepoints
    def changepoints: Seq[Double] =
      (1 to nChangepoints).map(i => changepointRange * i / (nChangepoints + 1.0))
  }

  /** Time bounds of the training span, used to scale t into [0, 1] (the
    * same normalization Prophet applies). Two scalars — computing them is
    * one tiny aggregate even at 100 TB.
    */
  case class TimeScale(start: LocalDate, days: Double)

  def timeScale(training: DataFrame): TimeScale = {
    val row = training.agg(min(col("ds")).as("lo"), max(col("ds")).as("hi")).head()
    val lo = row.getDate(0).toLocalDate
    val hi = row.getDate(1).toLocalDate
    TimeScale(lo, math.max(1.0, java.time.temporal.ChronoUnit.DAYS.between(lo, hi).toDouble))
  }

  /** The feature vector as ONE array column — pure column math, evaluated
    * by codegen, no UDF. Order: [1, t, yearly sin/cos.., weekly sin/cos..,
    * hinges..].
    */
  def featureCol(ds: Column, spec: Spec, ts: TimeScale): Column = {
    val t = datediff(ds, lit(java.sql.Date.valueOf(ts.start))).cast("double") / ts.days
    // absolute day count drives the seasonal phase (epoch-anchored like
    // Prophet's timestamp-based Fourier features)
    val absDays = datediff(ds, lit(java.sql.Date.valueOf(LocalDate.EPOCH))).cast("double")
    val twoPi = 2.0 * math.Pi
    val yearly = (1 to spec.yearlyOrder).flatMap { k =>
      val arg = absDays * (twoPi * k / 365.25)
      Seq(sin(arg), cos(arg))
    }
    val weekly = (1 to spec.weeklyOrder).flatMap { k =>
      val arg = absDays * (twoPi * k / 7.0)
      Seq(sin(arg), cos(arg))
    }
    val hinges = spec.changepoints.map(c => greatest(t - lit(c), lit(0.0)))
    array(Seq(lit(1.0), t) ++ yearly ++ weekly ++ hinges: _*)
  }

  // -------------------------------------------------------------------
  // Per-group ridge OLS via normal equations: one pass, one shuffle.
  // -------------------------------------------------------------------

  case class FitRow(branch: String, x: Seq[Double], y: Double)
  case class OlsBuf(n: Long, xtx: Array[Double], xty: Array[Double])
  case class FitResult(coef: Seq[Double], n: Long)

  /** Accumulates X^T X (upper triangle, packed) and X^T y per group, then
    * solves (X^T X + lambda*I) c = X^T y in finish. k is tens, so the
    * buffer is a few KB and the solve is microseconds per group.
    */
  class RidgeOls(k: Int, lambda: Double)
      extends Aggregator[FitRow, OlsBuf, FitResult] {

    private val packed = k * (k + 1) / 2

    def zero: OlsBuf = OlsBuf(0L, new Array[Double](packed), new Array[Double](k))

    def reduce(b: OlsBuf, r: FitRow): OlsBuf = {
      val x = r.x
      var idx = 0
      var i = 0
      while (i < k) {
        val xi = x(i)
        var j = i
        while (j < k) {
          b.xtx(idx) += xi * x(j)
          idx += 1
          j += 1
        }
        b.xty(i) += xi * r.y
        i += 1
      }
      OlsBuf(b.n + 1, b.xtx, b.xty)
    }

    def merge(a: OlsBuf, b: OlsBuf): OlsBuf = {
      var i = 0
      while (i < packed) { a.xtx(i) += b.xtx(i); i += 1 }
      i = 0
      while (i < k) { a.xty(i) += b.xty(i); i += 1 }
      OlsBuf(a.n + b.n, a.xtx, a.xty)
    }

    /** Empty coef = "no model" sentinel (Option[Product] has no built-in
      * encoder); callers filter on size(coef) > 0.
      */
    def finish(b: OlsBuf): FitResult = {
      if (b.n < MinRows) return FitResult(Seq.empty, b.n) // pretrain_models.py:21
      // unpack to full symmetric matrix + ridge diagonal (intercept
      // unpenalized, matching the no-prior-on-offset convention)
      val m = Array.ofDim[Double](k, k)
      var idx = 0
      var i = 0
      while (i < k) {
        var j = i
        while (j < k) {
          m(i)(j) = b.xtx(idx); m(j)(i) = b.xtx(idx); idx += 1; j += 1
        }
        if (i > 0) m(i)(i) += lambda
        i += 1
      }
      val rhs = b.xty.clone()
      solveInPlace(m, rhs) match {
        case Some(c) => FitResult(c.toSeq, b.n)
        case None    => FitResult(Seq.empty, b.n)
      }
    }

    /** Gaussian elimination with partial pivoting; None if singular beyond
      * repair (can't happen with lambda > 0 except for degenerate all-zero
      * columns, which ridge also guards).
      */
    private def solveInPlace(m: Array[Array[Double]], rhs: Array[Double]): Option[Array[Double]] = {
      val n = rhs.length
      var col = 0
      while (col < n) {
        var piv = col
        var i = col + 1
        while (i < n) { if (math.abs(m(i)(col)) > math.abs(m(piv)(col))) piv = i; i += 1 }
        if (math.abs(m(piv)(col)) < 1e-12) return None
        if (piv != col) {
          val tmp = m(piv); m(piv) = m(col); m(col) = tmp
          val t2 = rhs(piv); rhs(piv) = rhs(col); rhs(col) = t2
        }
        i = col + 1
        while (i < n) {
          val f = m(i)(col) / m(col)(col)
          if (f != 0.0) {
            var j = col
            while (j < n) { m(i)(j) -= f * m(col)(j); j += 1 }
            rhs(i) -= f * rhs(col)
          }
          i += 1
        }
        col += 1
      }
      val out = new Array[Double](n)
      var i2 = n - 1
      while (i2 >= 0) {
        var s = rhs(i2)
        var j = i2 + 1
        while (j < n) { s -= m(i2)(j) * out(j); j += 1 }
        out(i2) = s / m(i2)(i2)
        i2 -= 1
      }
      Some(out)
    }

    def bufferEncoder: Encoder[OlsBuf] = Encoders.product[OlsBuf]
    def outputEncoder: Encoder[FitResult] = Encoders.product[FitResult]
  }

  /** Array dot product — fused native expression (see
    * graft.functions.DotProductExpr); identical fold order to the
    * zip_with/aggregate formulation.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dotProduct(a, b)

  /** Fit one model per branch.
    *
    * @param daily  (branch, ds, y) daily totals (O30 shape)
    * @param cutoff training cutoff (reference: 2023-12-31)
    * @return (branch, coef array<double>, n long, resid_q double) — the
    *         "model store" as a TABLE, not 110 pickles (SURVEY O4): branch
    *         is a column, the store is join-able and broadcast-able. It
    *         persists as a snapshot through `graft.sources.ModelStore`
    *         (`SeasModels`).
    */
  def fit(
      daily: DataFrame,
      spec: Spec = Spec(),
      cutoff: LocalDate = DefaultTrainCutoff): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._

    // materialize the (bounded: one row per branch-day) training frame —
    // it is consumed three times (time scale, normal equations, residual
    // pass) and would otherwise re-derive from the fact scan each time
    val training = daily
      .filter(col("ds") <= lit(java.sql.Date.valueOf(cutoff)))
      .localCheckpoint()
    val ts = timeScale(training)
    val rows: Dataset[FitRow] = training
      .select(
        col("branch"),
        featureCol(col("ds"), spec, ts).as("x"),
        log1p(col("y")).as("y"))
      .as[FitRow]

    val fitted = rows
      .groupByKey(_.branch)
      .agg(new RidgeOls(spec.k, spec.ridgeLambda).toColumn.name("fit"))
      .toDF("branch", "fit")
      .filter(size(col("fit.coef")) > 0) // < MinRows branches are skipped
      .select(col("branch"), col("fit.coef").as("coef"), col("fit.n").as("n"))
      // bounded (one row per branch); consumed by the residual pass AND the
      // final join — materialize so the normal-equations shuffle runs once
      .localCheckpoint()

    // second bounded pass: per-branch residual quantile on the log scale
    val resid = training
      .join(broadcast(fitted), Seq("branch"))
      .withColumn("pred_log", dot(featureCol(col("ds"), spec, ts), col("coef")))
      .withColumn("resid", log1p(col("y")) - col("pred_log"))
      .groupBy(col("branch"))
      .agg(percentile_approx(col("resid"), lit(spec.upperQuantile), lit(10000)).as("resid_q"))

    fitted
      .join(resid, Seq("branch"))
      .withColumn("t_start", lit(java.sql.Date.valueOf(ts.start)))
      .withColumn("t_days", lit(ts.days))
  }

  /** Inference: pure column math over a broadcast of the model table.
    *
    * @param models output of [[fit]]
    * @param days   (branch, ds) rows to predict
    * @return (branch, ds, yhat, yhat_upper) — yhat_upper is the serving
    *         point forecast, after the reference (main.py:235)
    */
  def predict(models: DataFrame, days: DataFrame, spec: Spec = Spec()): DataFrame = {
    val joined = days.join(broadcast(models), Seq("branch"))
    // rebuild the time scale from the model table columns (constant per fit)
    val withFeat = joined.withColumn(
      "x", {
        // featureCol with columnar t_start/t_days: inline the same structure
        val t = datediff(col("ds"), col("t_start")).cast("double") / col("t_days")
        val absDays =
          datediff(col("ds"), lit(java.sql.Date.valueOf(LocalDate.EPOCH))).cast("double")
        val twoPi = 2.0 * math.Pi
        val yearly = (1 to spec.yearlyOrder).flatMap { k =>
          val arg = absDays * (twoPi * k / 365.25)
          Seq(sin(arg), cos(arg))
        }
        val weekly = (1 to spec.weeklyOrder).flatMap { k =>
          val arg = absDays * (twoPi * k / 7.0)
          Seq(sin(arg), cos(arg))
        }
        val hinges = spec.changepoints.map(c => greatest(t - lit(c), lit(0.0)))
        array(Seq(lit(1.0), t) ++ yearly ++ weekly ++ hinges: _*)
      })
    withFeat
      .withColumn("pred_log", dot(col("x"), col("coef")))
      .select(
        col("branch"),
        col("ds"),
        greatest(expm1(col("pred_log")), lit(0.0)).as("yhat"),
        greatest(expm1(col("pred_log") + col("resid_q")), lit(0.0)).as("yhat_upper"))
  }
}

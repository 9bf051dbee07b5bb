package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.forecast.SeasonalModel
import graft.forecast.SeasonalModel.Spec

/** Property tests for the forecaster (SURVEY.md §5.4: shape properties on
  * synthetic series, not Prophet bit-equality).
  */
class SeasonalModelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Two years of synthetic daily data for two branches: linear trend x
    * multiplicative weekly seasonality (the shape the model class targets).
    */
  def synthetic(): DataFrame = {
    val start = LocalDate.parse("2022-01-01")
    spark.range(0, 730)
      .select(
        date_add(lit(java.sql.Date.valueOf(start)), col("id").cast("int")).as("ds"),
        col("id").cast("double").as("t"))
      .crossJoin(Seq("A", "B").toDF("branch"))
      .withColumn("dow", dayofweek(col("ds")).cast("double"))
      .withColumn(
        "y",
        (lit(50.0) + col("t") * 0.05 + when(col("branch") === "B", 30.0).otherwise(0.0)) *
          (lit(1.0) + lit(0.35) * sin(col("dow") / 7.0 * 2.0 * math.Pi)))
      .select("branch", "ds", "y")
  }

  val spec = Spec(yearlyOrder = 2, weeklyOrder = 3, nChangepoints = 5, ridgeLambda = 0.1)
  val cutoff = LocalDate.parse("2023-10-31")

  test("fit recovers the weekly seasonal shape (in-sample relative error small)") {
    val data = synthetic()
    val models = SeasonalModel.fit(data, spec, cutoff)
    val train = data.filter(col("ds") <= lit(java.sql.Date.valueOf(cutoff)))
    val pred = SeasonalModel.predict(models, train.select("branch", "ds"), spec)
    val err = pred.join(train, Seq("branch", "ds"))
      .select(avg(abs(col("yhat") - col("y")) / col("y")).as("mape"))
      .head().getDouble(0)
    assert(err < 0.08, s"in-sample MAPE $err too high — seasonality not recovered")
  }

  test("out-of-sample forecast tracks the held-out future") {
    val data = synthetic()
    val models = SeasonalModel.fit(data, spec, cutoff)
    val future = data.filter(col("ds") > lit(java.sql.Date.valueOf(cutoff)))
    val pred = SeasonalModel.predict(models, future.select("branch", "ds"), spec)
    val err = pred.join(future, Seq("branch", "ds"))
      .select(avg(abs(col("yhat") - col("y")) / col("y")).as("mape"))
      .head().getDouble(0)
    assert(err < 0.15, s"held-out MAPE $err too high")
  }

  test("forecasts are non-negative and upper bound dominates point forecast") {
    val models = SeasonalModel.fit(synthetic(), spec, cutoff)
    val days = Seq(("A", "2023-11-05"), ("A", "2023-12-31"), ("B", "2023-11-05"))
      .toDF("branch", "ds").withColumn("ds", to_date(col("ds")))
    val pred = SeasonalModel.predict(models, days, spec).cache()
    assert(pred.filter(col("yhat") < 0 || col("yhat_upper") < 0).count() === 0)
    assert(pred.filter(col("yhat_upper") < col("yhat")).count() === 0)
    pred.unpersist()
  }

  test("training cutoff is respected: post-cutoff rows cannot change the fit") {
    val data = synthetic()
    val poisoned = data.unionAll(
      Seq(("A", "2023-11-15", 1e9), ("B", "2023-12-01", 1e9))
        .toDF("branch", "ds", "y").withColumn("ds", to_date(col("ds"))))
    val a = SeasonalModel.fit(data, spec, cutoff).select("branch", "coef", "n")
    val b = SeasonalModel.fit(poisoned, spec, cutoff).select("branch", "coef", "n")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("branches with < 2 training rows are skipped (pretrain_models.py:21)") {
    val tiny = Seq(
      ("solo", "2023-01-01", 5.0),
      ("pair", "2023-01-01", 5.0), ("pair", "2023-01-02", 6.0),
      ("many", "2023-01-01", 5.0), ("many", "2023-01-02", 6.0), ("many", "2023-01-03", 7.0))
      .toDF("branch", "ds", "y").withColumn("ds", to_date(col("ds")))
    val models = SeasonalModel.fit(tiny, Spec(1, 0, 1, ridgeLambda = 1.0), LocalDate.parse("2023-12-31"))
    val branches = models.select("branch").as[String].collect().toSet
    assert(!branches.contains("solo"))
    assert(branches === Set("pair", "many"))
  }

  test("RidgeOls agrees with MLlib LinearRegression on the same design matrix") {
    // independent-implementation check: the one-shuffle normal-equations
    // aggregator must solve the SAME ridge problem as MLlib's battle-tested
    // WeightedLeastSquares ("normal" solver). Objectives align when
    // MLlib's per-row-averaged L2 weight is lambda/n (ours: (X'X + lambda I)
    // c = X'y; MLlib: (X'X + n*regParam*I) c = X'y at standardization=false,
    // fitIntercept=false — the bias lives in the feature vector both
    // places). The engine still deliberately avoids MLlib for the PIPELINE:
    // one fit() call per branch is a driver-side loop over 110 groups,
    // where the aggregator fits every branch in one shuffle.
    import org.apache.spark.ml.regression.LinearRegression
    import org.apache.spark.ml.linalg.Vectors
    // changepoint-free spec: trend-hinge columns make the design
    // ill-conditioned enough that MLlib's Cholesky declares it singular
    // and falls back to quasi-Newton (observed: intercept pinned at 0) —
    // coefficient comparison is only meaningful where the ridge optimum
    // is unique and both solvers actually solve the normal equations
    val cmpSpec = spec.copy(nChangepoints = 0)
    val data = synthetic()
    val model = SeasonalModel.fit(data, cmpSpec, cutoff)
      .filter(col("branch") === "A").head()
    val ours = model.getAs[scala.collection.Seq[Double]]("coef").toIndexedSeq
    val ts = SeasonalModel.TimeScale(
      model.getAs[java.sql.Date]("t_start").toLocalDate,
      model.getAs[Double]("t_days"))
    val rows = data
      .filter(col("ds") <= lit(java.sql.Date.valueOf(cutoff)) && col("branch") === "A")
      .select(
        SeasonalModel.featureCol(col("ds"), cmpSpec, ts).as("x"),
        log1p(col("y")).as("label"))
      .collect().map(r => (r.getDouble(1), r.getSeq[Double](0).toArray))
    // MLlib fits its OWN intercept: a constant feature column has zero
    // variance, which WLS treats as degenerate (Cholesky "singular",
    // coefficient forced to 0) — so hand it the features minus our bias
    // column and compare PREDICTIONS, which are unique and well-defined
    // for both parameterizations. The one remaining objective difference
    // is that our ridge penalizes the intercept and MLlib's does not —
    // O(lambda/n) ~ 1.5e-4 on the log scale, inside the tolerance.
    val mlModel = new LinearRegression()
      .setFitIntercept(true)
      .setStandardization(false)
      .setElasticNetParam(0.0)
      .setRegParam(cmpSpec.ridgeLambda / rows.length)
      .setSolver("normal")
      .fit(rows.toSeq.map { case (y, x) => (y, Vectors.dense(x.drop(1))) }
        .toDF("label", "features"))
    val mlW = mlModel.coefficients.toArray
    assert(mlW.length === ours.length - 1)
    val diffs = rows.map { case (_, x) =>
      val po = x.indices.map(i => x(i) * ours(i)).sum
      val pm = mlModel.intercept + mlW.indices.map(i => x(i + 1) * mlW(i)).sum
      math.abs(po - pm)
    }
    assert(diffs.max < 5e-3, s"max in-sample prediction gap ${diffs.max}")
    assert(diffs.sum / diffs.length < 1e-3, s"mean gap ${diffs.sum / diffs.length}")
  }

  test("fit is deterministic across runs") {
    val data = synthetic()
    val a = SeasonalModel.fit(data, spec, cutoff)
    val b = SeasonalModel.fit(data, spec, cutoff)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  /** Round-10 parity pin: the seasonal fit persisted through ModelStore
    * round-trips BIT-exactly (coefficients, residual quantile, epoch
    * start, n), and loadOrFit's second call serves the committed snapshot
    * WITHOUT refitting — so a fresh session answers f01/f02 from the
    * snapshot with byte-identical results (the serving queries are
    * deterministic functions of exactly this model state).
    */
  test("ModelStore persists the seasonal fit bit-exactly; a fresh load never refits") {
    import graft.sources.ModelStore
    def toSeas(df: DataFrame): Seq[ServingQueries.SeasModel] =
      df.collect().toSeq.map(r => ServingQueries.SeasModel(
        r.getAs[String]("branch"), r.getSeq[Double](r.fieldIndex("coef")).toSeq,
        r.getAs[Long]("n"), r.getAs[Double]("resid_q"),
        r.getAs[java.sql.Date]("t_start"), r.getAs[Double]("t_days")))
    def bits(ms: Seq[ServingQueries.SeasModel]) =
      ms.sortBy(_.branch).map(m => (
        m.branch, m.coef.map(java.lang.Double.doubleToRawLongBits),
        m.n, java.lang.Double.doubleToRawLongBits(m.residQ),
        m.tStart.toString, java.lang.Double.doubleToRawLongBits(m.tDays)))
    val models = SeasonalModel.fit(synthetic(), spec, cutoff)
    val fitted = toSeas(models)
    assert(fitted.nonEmpty)
    val root = java.nio.file.Files.createTempDirectory("graft_seas_ms_").toString
    var fits = 0
    // dir = the (empty, parquet-free) temp root: sourceKey is stable
    // across the two calls by construction
    val first = ModelStore.loadOrFit(
      spark, "seas_pin", root, ModelStore.SeasModels, root) { fits += 1; fitted }
    val second = ModelStore.loadOrFit(
      spark, "seas_pin", root, ModelStore.SeasModels, root) {
      fits += 1; sys.error("refit — snapshot load failed")
    }
    assert(fits === 1, "second loadOrFit must serve the committed snapshot")
    assert(bits(first) === bits(fitted))
    assert(bits(second) === bits(fitted))
    // predictions from the reloaded model are identical (O4: branch is a
    // column, not a filename)
    val reloaded = second.map(m => (m.branch, m.coef, m.n, m.residQ, m.tStart, m.tDays))
      .toDF("branch", "coef", "n", "resid_q", "t_start", "t_days")
    val days = synthetic().select("branch", "ds").orderBy("branch", "ds").limit(50)
    val a = SeasonalModel.predict(models, days, spec)
    val b = SeasonalModel.predict(reloaded, days, spec)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Percentages
import graft.sources.VersionedTable

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.getOrCreate("local[4]")
}

class PercentagesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("percentages: per (branch,month,day) the move_type shares sum to 100") {
    val pct = Percentages.percentages(spark, sf)
    val sums = pct
      .groupBy("branch", "month", "day")
      .agg(sum("avg_percentage").as("s"))
      .filter(abs(col("s") - 100.0) > 1e-9)
    assert(sums.count() === 0)
  }

  test("percentages: values within [0, 100] and total_cnt > 0") {
    val pct = Percentages.percentages(spark, sf).cache()
    assert(pct.filter(col("avg_percentage") < 0 || col("avg_percentage") > 100.0001).count() === 0)
    assert(pct.filter(col("total_cnt") <= 0).count() === 0)
    pct.unpersist()
  }

  test("percentages: key is unique (branch, move_type, month, day)") {
    val pct = Percentages.percentages(spark, sf)
    val dups = pct.groupBy("branch", "move_type", "month", "day").count().filter(col("count") > 1)
    assert(dups.count() === 0)
  }

  test("percentages: dense domain = (valid total keys) x |move types|, zeros included") {
    val hist = graft.sources.Tables.historicalData(spark, sf)
    val pct = Percentages.percentagesSingleScan(hist).cache()
    val mg = Percentages.moveGrouped(hist)
    val tgKeys = mg.groupBy("branch", "month", "day").agg(sum("move_cnt").as("t"))
      .filter(col("t") > 0)
      .filter(!(col("month") === 2 && col("day") === 29))
      .count()
    val nMts = hist.select("move_type").distinct().count()
    assert(pct.count() === tgKeys * nMts)
    // the reference emits avg_percentage = 0 whenever the branch had volume
    // but not that move type on that (month, day) — dense rows must exist
    // (precompute_percentages.py:196-211); sparse days at sf0.001 guarantee some
    assert(pct.filter(col("avg_percentage") === 0.0).count() > 0)
    pct.unpersist()
  }

  test("percentages: never emits Feb 29 (reference validates against non-leap 2021)") {
    val pct = Percentages.percentages(spark, sf)
    assert(pct.filter(col("month") === 2 && col("day") === 29).count() === 0)
  }

  test("percentages(hist, fc) general form matches single-scan form on fixture") {
    val hist = graft.sources.Tables.historicalData(spark, sf)
    val fc = graft.sources.Tables.forecastingData(spark, sf)
    val a = Percentages.percentages(hist, fc)
    val b = Percentages.percentagesSingleScan(hist)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  private def freshTable(prefix: String): VersionedTable =
    VersionedTable(java.nio.file.Files.createTempDirectory(prefix).toString + "/t")

  /** The published snapshot in the computed frame's column order, with
    * `month` (the hive partition column, read back as int) as long.
    */
  private def readBack(t: VersionedTable): DataFrame =
    t.read(spark).withColumn("month", col("month").cast("long"))
      .select(Seq("branch", "move_type", "month", "day", "move_cnt", "total_cnt", "avg_percentage")
        .map(col): _*)

  test("O5 round-trip: write partitioned by month, read back identical") {
    val pct = Percentages.percentages(spark, sf)
    val t = freshTable("graft_pct")
    assert(Percentages.upsertPercentagesSnapshot(spark, pct, t) === 0L)
    assert(t.read(spark).schema("month").dataType === org.apache.spark.sql.types.IntegerType)
    assert(t.manifest(0L).get.forall(_.contains("/month=")))
    val back = readBack(t)
    assert(back.columns.toSeq === pct.columns.toSeq)
    assert(back.exceptAll(pct).count() === 0 && pct.exceptAll(back).count() === 0)
  }

  test("year window pushes an epoch range into the parquet scan") {
    val df = graft.sources.Tables.historicalData(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(
      plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
      s"no pushed ts range in scan:\n${plan.take(1200)}")
  }

  test("persisted percentages prune month partitions on read") {
    // the fixture history is January only: repeat it one month later, so
    // the snapshot holds a partition the filter must skip
    val hist = graft.sources.Tables.historicalData(spark, sf)
    val pct = Percentages.percentagesSingleScan(
      hist.unionByName(hist.withColumn("ds", add_months(col("ds"), 1))))
    val t = freshTable("graft_pct_prune")
    Percentages.upsertPercentagesSnapshot(spark, pct, t)
    val pruned = t.read(spark).filter(col("month") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "no partition filters in plan")
    assert(
      plan.contains("month#") || plan.contains("(month"),
      s"month not in partition filters:\n${plan.take(1200)}")
    // the scan opens exactly the snapshot's month=1 files
    val files = t.manifest(0L).get
    val jan = files.filter(_.contains("/month=1/"))
    assert(jan.nonEmpty && jan.size < files.size)
    assert(ScanMetrics.scannedFiles(pruned) === jan.size)
    assert(pruned.select(input_file_name()).as[String].collect().forall(_.contains("/month=1/")))
    assert(pruned.count() > 0)
  }

  test("upsert: update rows supersede, siblings and untouched partitions survive") {
    val pct = Percentages.percentages(spark, sf).cache()
    val t = freshTable("graft_pct_upsert")
    Percentages.upsertPercentagesSnapshot(spark, pct, t)

    // build updates inside ONE month: bump one existing row's percentage
    // and insert a brand-new key in the same month
    val janKey = pct.filter(col("month") === 1L).orderBy("branch", "move_type", "day").limit(1)
    val bumped = janKey.withColumn("avg_percentage", col("avg_percentage") + 7.0)
    val fresh = janKey.select(
      lit("BX_NEW").as("branch"), col("move_type"), col("month"), col("day"),
      lit(3.0).as("move_cnt"), lit(6.0).as("total_cnt"), lit(50.0).as("avg_percentage"))
    val updates = bumped.unionByName(fresh)
    assert(Percentages.upsertPercentagesSnapshot(spark, updates, t) === 1L)

    val back = readBack(t).cache()
    // superseded row carries the new value
    val k = janKey.select("branch", "move_type", "month", "day").head()
    val got = back.filter(
      col("branch") === k.getString(0) && col("move_type") === k.getString(1) &&
        col("month") === k.getLong(2) && col("day") === k.getLong(3))
    assert(got.count() === 1)
    assert(math.abs(got.head().getAs[Double]("avg_percentage") -
      (janKey.head().getAs[Double]("avg_percentage") + 7.0)) < 1e-12)
    // inserted key present
    assert(back.filter(col("branch") === "BX_NEW").count() === 1)
    // everything else is bit-identical to the original table
    val untouched = back.filter(col("branch") =!= "BX_NEW")
      .join(updates.select("branch", "move_type", "month", "day"),
        Seq("branch", "move_type", "month", "day"), "left_anti")
    val expected = pct.join(updates.select("branch", "move_type", "month", "day"),
      Seq("branch", "move_type", "month", "day"), "left_anti")
    assert(untouched.exceptAll(expected).count() === 0 &&
      expected.exceptAll(untouched).count() === 0)
    // total row count: original + 1 insert
    assert(back.count() === pct.count() + 1)
    // the previous snapshot still reads as it was published
    assert(t.readVersion(spark, 0L).count() === pct.count())
  }

  test("upsert: first run against a never-written path degrades to a plain write") {
    val pct = Percentages.percentages(spark, sf)
    // a never-committed table (the reference's ON CONFLICT upsert works on
    // an empty table)
    val t = freshTable("graft_pct_first")
    assert(t.latestVersion().isEmpty)
    assert(Percentages.upsertPercentagesSnapshot(spark, pct, t) === 0L)
    val back = readBack(t)
    assert(back.count() === pct.count())
    assert(back.exceptAll(pct).count() === 0 && pct.exceptAll(back).count() === 0)
  }

  test("refreshMonths: incremental month refresh equals a full recompute for that month") {
    import graft.sources.Tables
    val hist = Tables.historicalData(spark, sf)
    // stale table: computed from history with some month-1 rows missing
    val staleHist = hist.filter(!(month(col("ds")) === 1 && dayofmonth(col("ds")) <= 5))
    val t = freshTable("graft_pct_refresh")
    Percentages.upsertPercentagesSnapshot(spark, Percentages.percentagesSingleScan(staleHist), t)

    assert(Percentages.refreshMonths(spark, hist, Seq(1L), t) === 1L)

    val back = readBack(t).cache()
    val full = Percentages.percentagesSingleScan(hist).cache()
    // refreshed month now matches the full recompute exactly
    val m1back = back.filter(col("month") === 1L)
    val m1full = full.filter(col("month") === 1L)
    assert(m1back.exceptAll(m1full).count() === 0 && m1full.exceptAll(m1back).count() === 0)
    // untouched months keep the stale values
    val rest = back.filter(col("month") =!= 1L)
    val restStale = Percentages.percentagesSingleScan(staleHist).filter(col("month") =!= 1L)
    assert(rest.exceptAll(restStale).count() === 0 && restStale.exceptAll(rest).count() === 0)
  }

  test("monthlyAvg: one row per (branch, move_type, month)") {
    val ma = Percentages.monthlyAvg(Percentages.percentages(spark, sf))
    assert(ma.count() === ma.select("branch", "move_type", "month").distinct().count())
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

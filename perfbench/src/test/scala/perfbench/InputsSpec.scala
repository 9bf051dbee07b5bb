package perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.sources.Tables

class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.getOrCreate("local[2]")
  private val tmp = Files.createTempDirectory("perfbench-inputs")

  override def afterAll(): Unit = {
    Main.deleteTree(tmp)
    spark.stop()
  }

  private def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("the same seed yields identical history, batch tables and request streams twice") {
    val (c1, c2) = (Files.createDirectories(tmp.resolve("c1")), Files.createDirectories(tmp.resolve("c2")))
    val h1 = Inputs.history(spark, 7L, c1)
    val h2 = Inputs.history(spark, 7L, c2)
    assert(same(Tables.events(spark, h1), Tables.events(spark, h2)))
    val b1 = Inputs.batch(spark, 7L, c1, docs = 200, lineitems = 1000L)
    val b2 = Inputs.batch(spark, 7L, c2, docs = 200, lineitems = 1000L)
    assert(same(Tables.documents(spark, b1), Tables.documents(spark, b2)))
    assert(same(Tables.lineitem(spark, b1), Tables.lineitem(spark, b2)))
    assert(Inputs.requestStreams(7L, 50, c1) == Inputs.requestStreams(7L, 50, c2))
    // and another seed does not
    assert(!same(Tables.events(spark, h1), Tables.events(spark, Inputs.history(spark, 8L, c1))))
    assert(Inputs.requestStreams(8L, 50, c1) != Inputs.requestStreams(7L, 50, c1))
  }

  test("Tables.historicalData and Tables.forecastingDataAll read the generated history") {
    val dir = Inputs.history(spark, 7L, Files.createDirectories(tmp.resolve("c3")))
    val hist = Tables.historicalData(spark, dir)
    val years = hist.select(year(col("ds"))).distinct().collect().map(_.getInt(0)).sorted.toSeq
    assert(years == (Tables.YearLo to Tables.YearHi))
    assert(hist.select("branch").distinct().count() == Tables.BranchCount)
    assert(hist.select("move_type").distinct().collect().map(_.getString(0)).toSet == Inputs.MoveTypes.toSet)
    val daily = Tables.forecastingDataAll(spark, dir)
    assert(daily.agg(sum("cnt")).head.getDouble(0) == hist.count().toDouble)
    // the dense percentages cover nearly every (branch, month, day) key
    val keys = daily.select(col("branch"), month(col("ds")), dayofmonth(col("ds"))).distinct().count()
    assert(keys > 0.95 * Tables.BranchCount * 366)
  }

  test("the request mix holds the documented shares and only valid dates outside quirks") {
    val reqs = (0 until 4000).map(i => Inputs.request(3L, 0, i))
    def share(p: Inputs.Request => Boolean) = reqs.count(p).toDouble / reqs.size
    assert(math.abs(share(_.kind == Inputs.ForecastMt) - 0.70) < 0.03)
    assert(math.abs(share(_.kind == Inputs.ForecastAll) - 0.10) < 0.02)
    assert(math.abs(share(_.kind == Inputs.TrendsReq) - 0.15) < 0.02)
    val quirks = Set[Inputs.Kind](Inputs.BadDate, Inputs.PastMax, Inputs.UnknownMt)
    assert(math.abs(share(r => quirks(r.kind)) - 0.05) < 0.02)
    reqs.filterNot(r => quirks(r.kind)).foreach { r =>
      val d = java.time.LocalDate.parse(r.date)
      assert(!d.isBefore(Inputs.Today) && !d.isAfter(graft.operators.Forecast.MaxDate))
    }
    // the committed reference requests cover every kind, quirks included
    val refs = Inputs.referenceRequests
    assert(refs.size == 6 && refs.map(_.kind).toSet.size == 6)
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.SliceIndex
import graft.operators.Percentages
import graft.sources.VersionedTable

/** [[SliceIndex]]: which `pct` plans it serves, one build per cold file
  * under concurrent callers, and least-recently-used eviction under
  * `spark.sql.autoBroadcastJoinThreshold`. `ApiSpec` checks its answers
  * against the query's.
  */
class SliceIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  val sf = "/root/testdata/sf0.001"
  val Key = Seq("branch", "move_type", "month", "day")
  lazy val pct: DataFrame = Percentages.percentagesCheckpointed(spark, sf)

  /** `pct` committed as one unpartitioned file. */
  def oneFile(): VersionedTable = {
    val table = VersionedTable(Files.createTempDirectory("slice-index").resolve("pct").toString)
    table.upsert(spark, pct.coalesce(1), Key)
    table
  }

  /** `pct` committed partitioned by month. */
  def byMonth(): VersionedTable = {
    val table = VersionedTable(Files.createTempDirectory("slice-index").resolve("pct").toString)
    Percentages.upsertPercentagesSnapshot(spark, pct, table)
    table
  }

  def slice(df: DataFrame, months: Long*): Option[Seq[(Int, Int, Double)]] =
    SliceIndex.slice(spark, df, "B7", "click", months)

  def withBudget[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("snapshot reads, renamed or integral-widened, are served; other plans are not") {
    val snap = byMonth().readVersion(spark, 0L)
    val served = Seq(
      snap,
      snap.withColumn("month", col("month").cast("long")),
      snap.select(col("branch"), col("move_type"), col("month"), col("day"), col("avg_percentage").as("avg_percentage")))
    served.foreach(df => assert(slice(df, 1L).exists(_.nonEmpty), df.queryExecution.analyzed))
    val notServed = Seq(
      snap.filter(lit(true)),
      snap.withColumn("month", col("month").cast("string")),
      snap.withColumn("avg_percentage", col("avg_percentage") * 1.0),
      snap.withColumnRenamed("branch", "store"),
      pct)
    notServed.foreach(df => assert(slice(df, 1L).isEmpty, df.queryExecution.analyzed))
  }

  test("concurrent callers on one cold file build it once and get identical slices") {
    val snap = oneFile().readVersion(spark, 0L)
    val callers = 8
    val start = new CountDownLatch(1)
    val before = SliceIndex.built
    val pool = Executors.newFixedThreadPool(callers)
    try {
      val got = (1 to callers).map { _ =>
        pool.submit(new Callable[Option[Seq[(Int, Int, Double)]]] {
          def call() = { start.await(); slice(snap, 1L, 2L) }
        })
      }
      start.countDown()
      val slices = got.map(_.get(2, TimeUnit.MINUTES))
      assert(SliceIndex.built - before === 1, "callers on one cold file built it more than once")
      assert(slices.head.exists(_.nonEmpty))
      assert(slices.forall(_ == slices.head))
    } finally pool.shutdown()
  }

  test("an evicted entry rebuilds to the same rows, and the index stays under its budget") {
    // two snapshots of the same rows, one file each: two entries of one size
    val (a, b) = (oneFile().readVersion(spark, 0L), oneFile().readVersion(spark, 0L))
    // a budget below any entry: each build is evicted once it is counted
    val (first, second) = withBudget(1L)((slice(a, 1L), slice(b, 1L)))
    assert(SliceIndex.bytes <= 1L)
    assert(first.exists(_.nonEmpty) && second === first)
    // room for one entry: each snapshot read evicts the other's
    val budget = withBudget(10L << 20) {
      assert(slice(a, 1L) === first)
      SliceIndex.bytes
    }
    withBudget(budget) {
      assert(slice(b, 1L) === first)
      assert(SliceIndex.bytes <= budget)
      val built = SliceIndex.built
      assert(slice(b, 1L) === first)
      assert(SliceIndex.built === built, "a held entry was built again")
      assert(slice(a, 1L) === first)
      assert(SliceIndex.built === built + 1, "the evicted entry was not rebuilt")
      assert(SliceIndex.bytes <= budget)
    }
  }
}

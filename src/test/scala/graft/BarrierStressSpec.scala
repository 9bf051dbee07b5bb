package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Profile, Splits, TextOps}
import graft.sources.Tables

/** The operators whose barriers were once lazy checkpoints (a lazy
  * checkpoint read by a broadcast and a shuffle at once deadlocked
  * `triangleStats`): under the shared local[4] session each must finish
  * inside a timeout, and its rows must equal a local[1] run of the same
  * operator in a child JVM.
  */
class BarrierStressSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("formerly-lazy barrier operators finish under local[4] and equal local[1]") {
    val out = Files.createTempFile("barrier-stress", ".tsv")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
      "-Xmx1g", "-cp", System.getProperty("java.class.path"),
      "graft.BarrierStressSpec", "local[1]", out.toString)
    val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(Files.createTempFile("barrier-stress", ".log").toFile).start()
    try {
      val here = BarrierStressSpec.results(spark, timeout = 3.minutes)
      assert(child.waitFor(5, java.util.concurrent.TimeUnit.MINUTES), "local[1] run timed out")
      assert(child.exitValue() === 0, "local[1] run failed")
      val there = BarrierStressSpec.read(out.toString)
      assert(here.keySet === BarrierStressSpec.Operators.map(_._1).toSet)
      here.foreach { case (op, rows) =>
        assert(rows.nonEmpty, s"$op returned no rows")
        assert(rows === there(op), s"$op differs between local[4] and local[1]")
      }
    } finally child.destroyForcibly()
  }
}

object BarrierStressSpec {
  val Sf = "/root/testdata/sf0.001"

  /** The operators behind the former lazy sites, over the sf0.001 corpus. */
  val Operators: Seq[(String, (SparkSession, DataFrame) => DataFrame)] = Seq(
    "keySkewReport" -> ((_, d) => Profile.keySkewReport(d, "source")),
    "tokenBudgetDraw" -> ((_, d) => Splits.tokenBudgetDraw(d, 5000L, 0.7)),
    "x111_hll_overlap" -> ((s, _) => SparkEntry.queries("x111_hll_overlap")(s, Sf)),
    "sourceVocabOverlap" -> ((_, d) => TextOps.sourceVocabOverlap(d)),
    "pmiCollocations" -> ((_, d) => TextOps.pmiCollocations(d, minCount = 2L)),
    "ppjoinNearDups" -> ((_, d) => Dedup.ppjoinNearDups(d, 0.5)),
    "jaccardNearDups" -> ((_, d) => Dedup.jaccardNearDups(d)))

  /** Each operator's rows as sorted strings, each run bounded by `timeout`. */
  def results(spark: SparkSession, timeout: FiniteDuration): Map[String, Seq[String]] = {
    // threads made here, by the caller, so they inherit its (clean)
    // Spark local properties rather than some earlier thread's
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val docs = Tables.documents(spark, Sf)
    try Operators.map { case (name, op) =>
      name -> Await.result(
        Future(op(spark, docs).collect().map(_.mkString("\u0001")).sorted.toSeq), timeout)
    }.toMap
    finally pool.shutdownNow()
  }

  def read(path: String): Map[String, Seq[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }

  /** Child-JVM entry: `<master> <out.tsv>`. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate(args(0))
    val lines = results(spark, 4.minutes).toSeq
      .flatMap { case (op, rows) => rows.map(r => s"$op\t$r") }
    Files.write(Paths.get(args(1)), lines.asJava)
    spark.stop()
  }
}

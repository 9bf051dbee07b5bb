package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** [[Barrier]] is the engine's only materialization barrier: a source
  * lint keeps every `localCheckpoint` inside it (so a lazy checkpoint
  * cannot come back), and the runtime pins hold its name property to the
  * calling thread and restore it on every exit.
  */
class BarrierSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("lint: no localCheckpoint call in src/main/scala outside Barrier.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Barrier.scala")
      .toSeq
    assert(files.size > 40)
    // comments may name the call; code may not
    def code(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    val offenders = files.filter(p => code(p).contains("localCheckpoint"))
    assert(offenders.isEmpty, s"route these through graft.Barrier: ${offenders.mkString(", ")}")
    val lazyFlag = "eager\\s*=\\s*false|localCheckpoint\\s*\\(\\s*false".r
    assert(lazyFlag.findFirstIn(code(root.resolve("graft/Barrier.scala"))).isEmpty)
  }

  test("a barrier names its jobs, materializes eagerly and clears the property after") {
    val sc = spark.sparkContext
    val df = spark.range(0, 1000).repartition(4).groupBy(col("id") % 7).count()
    val (out, barriers) = SparkJobs.barriers(spark)(Barrier(df, "spec.eager"))
    assert(barriers === Map("spec.eager" -> 1))
    // eager: reading the materialized frame runs no barrier job again
    val (rows, again) = SparkJobs.barriers(spark)(out.count())
    assert(rows === 7L && again.isEmpty)
    assert(sc.getLocalProperty(Barrier.Property) === null)
  }

  test("materialize through a table runs its commit and read under the barrier name") {
    val dir = Files.createTempDirectory("barrier-spec")
    val t = new VersionedTable(dir.resolve("t").toString)
    val df = spark.range(0, 10).toDF("id")
    val (mat, barriers) =
      SparkJobs.barriers(spark)(VersionedTable.materialize(df, Some(t), "spec.table"))
    assert(barriers.keySet === Set("spec.table"))
    assert(mat.count() === 10L)
  }

  test("the previous name is restored after a barrier throws") {
    val sc = spark.sparkContext
    val failing = spark.range(0, 10).select(raise_error(lit("boom")).as("x"))
    for (outer <- Seq(null, "spec.outer")) {
      sc.setLocalProperty(Barrier.Property, outer)
      try {
        intercept[Exception](Barrier(failing, "spec.inner"))
        assert(sc.getLocalProperty(Barrier.Property) === outer)
      } finally sc.setLocalProperty(Barrier.Property, null)
    }
  }

  test("two threads running barriers at once never see each other's name") {
    val sc = spark.sparkContext
    val threadKey = "graft.spec.barrierThread"
    val seen = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty(threadKey))
            .foreach(t => seen.add(t -> p.getProperty(Barrier.Property)))
        }
    }
    val mismatches = new ConcurrentLinkedQueue[String]
    def worker(t: String): Thread = new Thread(() => {
      sc.setLocalProperty(threadKey, t)
      (1 to 4).foreach { i =>
        val df = spark.range(0, 2000).repartition(3).groupBy(col("id") % (i + 2)).count()
        val out = Barrier.named(df, s"spec.$t") {
          val b = Barrier(df, s"spec.$t")
          if (sc.getLocalProperty(Barrier.Property) != s"spec.$t")
            mismatches.add(s"$t saw ${sc.getLocalProperty(Barrier.Property)} inside")
          b
        }
        if (sc.getLocalProperty(Barrier.Property) != null)
          mismatches.add(s"$t saw ${sc.getLocalProperty(Barrier.Property)} after")
        if (out.count() != i + 2) mismatches.add(s"$t counted wrong")
      }
    })
    sc.addSparkListener(listener)
    try {
      val threads = Seq(worker("a"), worker("b"))
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(threads.forall(!_.isAlive), "barrier threads did not finish")
      org.apache.spark.GraftBusBridge.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(mismatches.isEmpty, mismatches.asScala.mkString("; "))
    val jobs = seen.asScala.toSeq
    assert(jobs.map(_._1).toSet === Set("a", "b"))
    // barrier jobs carry their own thread's name; the unnamed counts none
    assert(jobs.forall { case (t, name) => name == null || name == s"spec.$t" }, jobs)
    assert(jobs.count(_._2 != null) >= 8)
  }
}

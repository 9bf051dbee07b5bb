package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-count witness for the specs that pin how many Spark jobs a call runs. */
object SparkJobs {

  /** `body`'s result and the Spark jobs it submitted from this thread. */
  def in[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, jobs) = properties(spark)(body)
    (out, jobs.size)
  }

  /** `body`'s result and, per [[Barrier]] name, the distinct SQL
    * executions whose jobs (from this thread) carried it — 1 when the
    * barrier ran once, AQE map stages and broadcasts included.
    */
  def barriers[T](spark: SparkSession)(body: => T): (T, Map[String, Int]) = {
    val (out, jobs) = properties(spark)(body)
    val named = jobs.flatMap { p =>
      Option(p.getProperty(Barrier.Property)).map(_ -> p.getProperty("spark.sql.execution.id"))
    }
    (out, named.groupBy(_._1).map { case (b, execs) => b -> execs.distinct.size })
  }

  /** `body`'s result and the local properties of every Spark job it
    * submitted from this thread.
    */
  private def properties[T](spark: SparkSession)(body: => T): (T, Seq[Properties]) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobProbe"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) jobs.add(e.properties)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      org.apache.spark.GraftBusBridge.drain(sc)
      (out, jobs.asScala.toSeq)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

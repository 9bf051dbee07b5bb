package graft

import org.apache.spark.sql.DataFrame

/** The engine's one materialization barrier: an eager, named
  * `localCheckpoint`. It runs the frame's plan to executor-local blocks on
  * the calling thread, so every consumer reads materialized rows and the
  * lineage stops here. Eager, never lazy: a lazy checkpoint computes its
  * blocks in whichever job reaches them first, and a plan that reads it
  * through both a broadcast and a shuffle races two jobs for one
  * partition (the `triangleStats` deadlock).
  *
  * While the checkpoint job runs, the local property [[Property]] carries
  * `name`, so every Spark job the barrier submits (AQE map stages and
  * broadcasts included) is attributable to it; Bench's `barrier_ms` sums
  * job wall time per name. The previous value is restored afterwards,
  * also when the barrier throws. Local properties are per thread, so two
  * threads never see each other's name.
  */
object Barrier {

  /** The local property naming the barrier a Spark job runs for. */
  val Property = "graft.barrier"

  def apply(df: DataFrame, name: String): DataFrame = named(df, name)(df.localCheckpoint())

  /** Runs `body` with [[Property]] set to `name` on this thread. */
  def named[T](df: DataFrame, name: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, name)
    try body finally sc.setLocalProperty(Property, prev)
  }
}

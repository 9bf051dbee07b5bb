package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Barrier

/** Skew mitigation for joins whose key distribution is pathological
  * (SURVEY §7.6 / brief: "salting for skew, AQE for runtime re-plan").
  *
  * AQE's skew-join handling (on by default in GraftSession) splits
  * oversized SORT-MERGE partitions at runtime and is the FIRST line of
  * defense. Salting is the explicit fallback for cases AQE cannot touch —
  * e.g. a broadcast-ineligible hash join against a dimension where one key
  * holds half the fact rows: the fact side gets a salt in [0, buckets),
  * the dimension side is exploded x buckets, and the join key becomes
  * (key, salt) — the hot key's rows spread across `buckets` tasks.
  */
object Skew {

  // Co-located joins via bucketed LAYOUT are a storage contract, not a
  // skew mitigation — they live in [[graft.sources.Bucketed]] (external
  // path + append support); BucketingSpec pins the exchange elimination.

  /** Salted equi-join: semantically identical to
    * `big.join(small, keys, joinType)` for inner/left joins, with the big
    * side's hot keys spread over `buckets` partitions.
    *
    * The salt is `rand(seed)`-derived: per-row, uniform, and independent of
    * the key (salting by any key-derived value would defeat the purpose).
    * Join RESULTS are deterministic regardless of salt values; only the
    * physical row placement varies.
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      buckets: Int,
      joinType: String = "inner",
      seed: Long = 7L): DataFrame = {
    require(buckets > 1, "salting needs more than one bucket")
    require(
      Seq("inner", "left", "left_outer").contains(joinType.toLowerCase),
      s"salted join supports inner/left joins, got $joinType")
    val saltedBig = big.withColumn("__salt", (rand(seed) * buckets).cast("int"))
    val explodedSmall = small.withColumn(
      "__salt",
      explode(sequence(lit(0), lit(buckets - 1)).cast("array<int>")))
    saltedBig
      .join(explodedSmall, keys :+ "__salt", joinType)
      .drop("__salt")
  }

  /** Hot/cold split salted join — the form to reach for at scale.
    * [[saltedJoin]] replicates the ENTIRE small side by `buckets`, so
    * applied wholesale it multiplies total shuffle volume to fix a
    * handful of hot keys. This variant first finds the keys whose
    * big-side row count exceeds `hotThreshold` (a bounded set by
    * construction — materialized and broadcast), salts ONLY those, and
    * joins the cold majority unsalted; the union equals the plain join
    * for inner/left joins (both sides are split by the same key set, so
    * every pair meets in exactly one branch).
    */
  def saltedJoinSkewed(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      buckets: Int,
      hotThreshold: Long,
      joinType: String = "inner",
      seed: Long = 7L): DataFrame = {
    require(hotThreshold > 0, "hotThreshold must be positive")
    val keyCols = keys.map(col)
    val hotKeys = big
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotThreshold)
      .select(keyCols: _*)
      .transform(Barrier(_, "skew.hotkeys")) // four consumers below; bounded by construction
    val bigHot = big.join(broadcast(hotKeys), keys, "left_semi")
    val bigCold = big.join(broadcast(hotKeys), keys, "left_anti")
    val smallHot = small.join(broadcast(hotKeys), keys, "left_semi")
    val smallCold = small.join(broadcast(hotKeys), keys, "left_anti")
    saltedJoin(bigHot, smallHot, keys, buckets, joinType, seed)
      .unionByName(bigCold.join(smallCold, keys, joinType))
  }
}

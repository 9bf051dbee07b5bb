package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Barrier

/** Table profiling — the data-quality report every ingest pipeline runs
  * before trusting a new drop: per column, null count, exact distinct
  * cardinality, and (for orderable numeric/temporal columns) min/max.
  * The operator a 100 TB corpus needs to be ONE pass: all measures fold
  * in a single aggregate over one scan (Spark plans the multi-distinct
  * via one Expand — still one scan), and the result is a bounded
  * #columns-row frame exploded from that single aggregate row.
  *
  * Exact COUNT(DISTINCT) is the oracle surface (the x28 convention);
  * swap approx_count_distinct at the scale where a ±2% cardinality is
  * acceptable — the plan shape is unchanged. Min/max report as DOUBLE
  * (exact for longs below 2^53 and for microsecond timestamps), with
  * temporal columns on the epoch-micros axis so one numeric pair of
  * columns serves every profiled type; non-numeric columns report null
  * bounds rather than engine-specific string renderings (string
  * formatting of doubles/timestamps is exactly the cross-engine trap
  * the oracle conventions exist to avoid).
  */
object Profile {

  /** Numeric view of a column when one exists: numerics cast, temporal
    * types take epoch micros / epoch days. None for everything else.
    */
  private def numericView(dt: DataType, c: Column): Option[Column] = dt match {
    case _: NumericType => Some(c.cast("double"))
    case _: TimestampType | _: TimestampNTZType =>
      Some(unix_micros(c.cast("timestamp")).cast("double"))
    case _: DateType =>
      Some(datediff(c, lit(java.sql.Date.valueOf("1970-01-01"))).cast("double"))
    case _ => None
  }

  /** One row per profiled column: (column, n_rows, n_nulls, n_distinct,
    * min_num, max_num). `n_distinct` counts distinct NON-NULL values
    * (SQL COUNT(DISTINCT) semantics on every engine).
    */
  def tableProfile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "profile at least one column")
    val schema = df.schema
    def num(c: String): Option[Column] = numericView(schema(c).dataType, col(c))
    val aggs: Seq[Column] =
      count(lit(1)).as("__n") +:
        columns.flatMap { c =>
          Seq(count(col(c)).as(s"__nn_$c"), countDistinct(col(c)).as(s"__nd_$c")) ++
            num(c).toSeq.flatMap(e => Seq(min(e).as(s"__mn_$c"), max(e).as(s"__mx_$c")))
        }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = columns.map { c =>
      val (mn, mx) =
        if (num(c).isDefined) (col(s"__mn_$c"), col(s"__mx_$c"))
        else (lit(null).cast("double"), lit(null).cast("double"))
      struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        mn.as("min_num"),
        mx.as("max_num"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Key-skew diagnostic — the report that decides whether a join or
    * aggregation on `key` needs the salting hatch (`Skew.saltedJoin`)
    * before it runs at scale: the `topK` hottest keys with their row
    * count, corpus share, and skew factor (count over the mean count
    * per distinct key — a factor of 1 is perfectly uniform; a factor of
    * 50 on a join key is the straggler that kills the stage). Exact
    * integer counts; the two ratios are single divisions of exact longs
    * (deterministic doubles, no aggregate-drift collapse needed).
    *
    * Shape: one shuffle to per-key counts (map-side combinable), then a
    * bounded (1-row) totals aggregate broadcast back, then TakeOrdered
    * for the top-k — never a global sort. The totals row derives from
    * the COUNT TABLE (key-cardinality), not a second corpus scan.
    */
  def keySkewReport(df: DataFrame, key: String, topK: Int = 20): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .transform(Barrier(_, "skew.counts"))
    val totals = counts.agg(
      sum(col("cnt")).as("total"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .select(
        col(key),
        col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("cnt").cast("double") * col("n_keys").cast("double") /
          col("total").cast("double")).as("skew"))
      .orderBy(col("cnt").desc, col(key))
      .limit(topK)
  }

  /** Per-group exact quantile report over a numeric column — the
    * distribution summary (p50/p90/p99) that sizing, SLA, and outlier
    * decisions read. EXACT percentiles with linear interpolation (the
    * ANSI PERCENTILE_CONT definition both Spark's `percentile` and
    * DuckDB's `quantile_cont` implement): order-independent, so the
    * result is a deterministic double expression needing no
    * aggregate-drift collapse. Exact percentile buffers each group's
    * values — the oracle surface; at the 100 TB grain swap
    * `approx_percentile` (KLL-style mergeable sketch, same plan shape,
    * ±ε rank error) where a bounded-memory task is worth the epsilon.
    */
  def quantileReport(
      df: DataFrame, groupCol: String, valueCol: String,
      probs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      "probs must be in [0, 1]")
    df.groupBy(col(groupCol))
      .agg(
        count(col(valueCol)).as("n"),
        percentile(col(valueCol), array(probs.map(lit): _*)).as("__q"))
      .select(
        col(groupCol) +: col("n") +:
          probs.indices.map(i =>
            element_at(col("__q"), i + 1)
              .as(s"p${(probs(i) * 100).round}")): _*)
  }

  /** Population Stability Index between a reference slice and a current
    * slice — the drift report that decides whether a new corpus drop
    * still looks like the one the downstream models were trained on.
    * `feature` (a non-negative integral column) is binned fixed-width
    * into `nBins` buckets (overflow clamps into the last), both slices'
    * bin histograms are Laplace-smoothed (+0.5 per bin, so empty bins
    * contribute a finite term instead of a log-of-zero), and each bin
    * reports its PSI term (p−q)·ln(p/q) plus the repeated total
    * (PSI < 0.1 stable / 0.1–0.25 drifting / > 0.25 shifted is the
    * standard reading).
    *
    * Shape: one scan + one bounded groupBy per slice, a broadcast join
    * onto the dense nBins-row bin spine, and whole-frame window sums
    * over that bounded spine for the totals — the corpus is never
    * joined, never windowed; everything after the two histogram folds
    * lives in nBins-row space.
    */
  def psiReport(
      ref: DataFrame, cur: DataFrame, feature: String,
      binWidth: Int, nBins: Int): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    require(nBins > 1, "need at least two bins")
    def binned(df: DataFrame, n: String) =
      df.select(
          least(greatest(expr(s"$feature div $binWidth"), lit(0L)),
            lit(nBins - 1L)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(n))
    val bins = ref.sparkSession.range(nBins.toLong).select(col("id").as("bin"))
    val joined = bins
      .join(broadcast(binned(ref, "n_ref")), Seq("bin"), "left")
      .join(broadcast(binned(cur, "n_cur")), Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    // no orderBy → the frame is the whole (single, nBins-row) partition
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val tr = sum(col("n_ref")).over(w).cast("double")
    val tc = sum(col("n_cur")).over(w).cast("double")
    val pRef = (col("n_ref").cast("double") + 0.5) / (tr + lit(0.5 * nBins))
    val pCur = (col("n_cur").cast("double") + 0.5) / (tc + lit(0.5 * nBins))
    joined
      .withColumn("psi_term", (pRef - pCur) * log(pRef / pCur))
      .withColumn("psi_total", sum(col("psi_term")).over(w))
      .select("bin", "n_ref", "n_cur", "psi_term", "psi_total")
  }

  /** Pairwise Pearson correlations over fixed-scale numeric columns —
    * the redundancy map of a profiling pass (two columns at |r| ≈ 1
    * are one signal stored twice; a feature uncorrelated with
    * everything is either gold or noise).
    *
    * Exactness design: the inputs cast to DECIMAL(18, `scale`) —
    * money/quantity columns carry fixed decimal scales, so the cast is
    * value-preserving — and every moment (Σx, Σx², Σxy, n) accumulates
    * in EXACT decimal arithmetic: no float-sum partition-order drift
    * exists to collapse, unlike built-in corr()'s merged co-moment
    * formula, which is order-sensitive and cross-engine-unstable by
    * construction. The closed-form r = (nΣxy − ΣxΣy) /
    * (√(nΣxx − Σx²)·√(nΣyy − Σy²)) then runs once per pair in doubles
    * from identical exact sums — deterministic on any engine at any
    * parallelism. ONE scan, one map-side-combinable aggregate row (all
    * pairs' moments together), pairs exploded from it; nothing here is
    * corpus-cardinality after the fold. Rows with a SOURCE null in any
    * column drop listwise (so every pair sees the same n). Σxy at
    * DECIMAL(38,4) holds to ~10^33 — headroom far past 100 TB row
    * counts.
    *
    * Failure modes guarded, not silent: a value too large for
    * DECIMAL(18, `scale`) overflows the cast — under ANSI (Spark 4's
    * default) somewhere mid-fold with a generic cast error, under
    * non-ANSI silently to NULL, where listwise deletion would quietly
    * shrink n. Here the cast is `try_cast` (null on overflow under ANY
    * ANSI setting), the same fold COUNTS those rows, and the query
    * throws a named per-column diagnostic instead of either failure
    * mode. A zero-variance column makes Pearson r undefined (0/0);
    * those pairs return NULL rather than a platform-dependent NaN/Inf.
    */
  def correlations(df: DataFrame, cols: Seq[String], scale: Int = 2): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    require(cols.distinct.size == cols.size, s"duplicate columns: $cols")
    require(cols.forall(c => !c.contains("`")), s"column names must not contain backquotes: $cols")
    val dec = s"decimal(18,$scale)"
    // try_cast values plus a per-column overflow flag (source non-null
    // but cast null = magnitude exceeded decimal(18,scale)); listwise
    // deletion becomes a CONDITION on the moments instead of a prior
    // na.drop, so the overflow counters see every row in the same scan
    def tc(c: String): Column = expr(s"try_cast(`$c` AS $dec)")
    val flagged = df.select(
      cols.map(c => tc(c).as(c)) ++
        cols.map(c =>
          (col(c).isNotNull && tc(c).isNull).cast("long").as(s"ov_$c")): _*)
    val present = cols.map(col(_).isNotNull).reduce(_ && _)
    def m(e: Column): Column = sum(when(present, e))
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val moments =
      Seq(sum(when(present, 1L).otherwise(0L)).as("n")) ++
        cols.map(c => m(col(c)).as(s"s_$c")) ++
        cols.map(c => m(col(c) * col(c)).as(s"ss_$c")) ++
        pairs.map { case (a, b) => m(col(a) * col(b)).as(s"sp_${a}_$b") } ++
        cols.map(c => sum(col(s"ov_$c")).as(s"ov_$c"))
    val agg = flagged.agg(moments.head, moments.tail: _*)
    def d(c: String): Column = col(c).cast("double")
    // runtime overflow gate: assert_true returns NULL when the condition
    // holds (folded away by the coalesce) and throws with the per-column
    // counts otherwise — no extra job, the guard rides the same row
    val ovTotal = cols.map(c => col(s"ov_$c")).reduce(_ + _)
    val ovMsg = concat(
      lit(s"correlations: value(s) exceed DECIMAL(18,$scale) — overflow rows per column ["),
      concat_ws(", ", cols.map(c => concat(lit(s"$c="), col(s"ov_$c"))): _*),
      lit("]; widen the scale/precision or pre-clip the inputs"))
    val guard = coalesce(assert_true(ovTotal === 0, ovMsg).cast("double"), lit(0.0))
    val rows = pairs.map { case (a, b) =>
      val n = d("n")
      val varA = n * d(s"ss_$a") - d(s"s_$a") * d(s"s_$a")
      val varB = n * d(s"ss_$b") - d(s"s_$b") * d(s"s_$b")
      val r = (n * d(s"sp_${a}_$b") - d(s"s_$a") * d(s"s_$b")) /
        (sqrt(varA) * sqrt(varB))
      // zero variance → r undefined: NULL, not engine-dependent NaN/Inf.
      // The overflow guard rides OUTSIDE the when/otherwise so it
      // evaluates even when every pair lands in the zero-variance branch
      // (possible precisely when overflow-nulled rows shrank the sample —
      // the case the guard exists for); NULL + 0.0 stays NULL, and the
      // when-branch is a non-literal child so NullPropagation cannot
      // fold the Add away.
      val rSafe = when(varA <= 0 || varB <= 0, lit(null).cast("double"))
        .otherwise(r) + guard
      struct(lit(a).as("col_a"), lit(b).as("col_b"), rSafe.as("corr"))
    }
    agg
      .select(explode(array(rows: _*)).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"), col("p.corr").as("corr"))
  }

  /** Per-dimension profile of an embedding column — the vector-space
    * health check a similarity/ANN pipeline runs before indexing: a
    * dimension whose variance collapsed to ~0 is dead weight in every
    * distance; one whose mean drifted far from 0 after a re-embed signals
    * an encoder/version mismatch (the PSI report's analogue for vector
    * features). Returns one row per dimension (0-based):
    * (dim, n, min, max, mean, variance).
    *
    * Shape: posexplode → ONE map-side-combinable groupBy on dimension —
    * the cell table is |dim| rows regardless of corpus size; nothing
    * downstream of the fold is corpus-cardinality. min/max are exact
    * (float comparisons carry no accumulation order); mean/variance are
    * double folds whose partition order varies, so both pass the
    * CrossRound collapse — population variance from the (Σv, Σv²) sums
    * with a fixed association, mirrored verbatim by the oracle.
    */
  def embeddingDimProfile(
      emb: DataFrame,
      embCol: String = "embedding",
      collapseScale: Int = 6): DataFrame = {
    val vals = emb
      .select(posexplode(col(embCol)).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"), col("v").cast("double").as("v"))
    vals
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        sum(col("v")).as("_s"),
        sum(col("v") * col("v")).as("_ss"))
      .select(
        col("dim"), col("n"), col("min_v"), col("max_v"),
        // + 0.0 normalizes a rounded-to-zero result's IEEE sign: Spark's
        // BigDecimal round yields +0.0 where DuckDB preserves -0.0 for a
        // mean in (-5e-7, 0) or a near-dead dim whose Σv²/n − mean²
        // cancels to a tiny negative (the r4z trap; x124 convention)
        (CrossRound.ra(col("_s") / col("n"), collapseScale) + lit(0.0)).as("mean"),
        (CrossRound.ra(
          col("_ss") / col("n") - (col("_s") / col("n")) * (col("_s") / col("n")),
          collapseScale) + lit(0.0)).as("variance"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Barrier

/** Deterministic dataset splitting for training pipelines: assign each row
  * to a named fold by hashing its key.
  *
  * Why not `randomSplit`: Spark's randomSplit is seed- AND
  * partitioning-dependent (it samples per partition), so the same row can
  * change folds when the input is repartitioned, compacted, or grows — a
  * training-data leak waiting to happen. Hash-of-key assignment is stable
  * across runs, cluster sizes, and file layouts, and assigns the SAME fold
  * to the same key in every table that carries it (so a document and its
  * embeddings land in the same fold without a join).
  *
  * Scale posture: pure projection — no shuffle, no driver state; the fold
  * expression is a codegen-friendly when-chain over one xxhash64.
  */
object Splits {

  /** Hash bucket space: fold boundaries are expressed as fixed-point
    * fractions of this, so weights like 0.8/0.1/0.1 are exact.
    */
  val Buckets = 1000000L

  /** The bucket a key falls in — exposed so callers can reason about (and
    * test) assignment independent of fold boundaries.
    */
  def bucketOf(key: Column, seed: Long): Column =
    pmod(xxhash64(lit(seed), key), lit(Buckets))

  /** Cumulative fold upper bounds in bucket space — the exact boundaries
    * [[splitByHash]] compares against, exposed (with [[bucketOf]]) so an
    * oracle or auditing tool can re-derive the assignment rule without
    * re-running the engine. The last bound is forced to Buckets so float
    * accumulation can never leave a key unassigned.
    */
  def upperBounds(folds: Seq[(String, Double)]): Seq[Long] = {
    require(folds.nonEmpty && folds.forall(_._2 > 0), "fold weights must be positive")
    val total = folds.map(_._2).sum
    folds.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(w => math.round(w / total * Buckets))
      .dropRight(1) :+ Buckets
  }

  /** Add a `fold` column: each row lands in one of the named folds with
    * probability proportional to its weight (weights need not sum to 1).
    *
    * @param folds ordered (name, weight) list, e.g.
    *              Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    */
  def splitByHash(
      df: DataFrame,
      keyCol: String,
      folds: Seq[(String, Double)],
      seed: Long = 42L): DataFrame = {
    val uppers = upperBounds(folds)
    val h = bucketOf(col(keyCol), seed)
    val fold = folds.map(_._1).zip(uppers).init.foldRight(lit(folds.last._1): Column) {
      case ((name, ub), els) => when(h < ub, name).otherwise(els)
    }
    df.withColumn("fold", fold)
  }

  /** EXACT-count stratified split: within each stratum (language, source,
    * quality bucket), rows rank by md5(key) and the fold boundaries cut
    * at ceil(cum_weight · n_stratum) — every stratum hits its target
    * fraction within one row, where [[splitByHash]]'s proportions hold
    * only in expectation (a 300-doc language can drift percents off
    * 80/10/10; an eval set built from it under-represents exactly the
    * strata that are scarcest). Assignment is still a pure function of
    * (key, stratum membership): md5-of-the-decimal-string like
    * [[shardOf]] — a split is a long-lived contract other tooling must
    * recompute — with the key as tie-break so duplicate hashes cannot
    * make ranks partition-dependent.
    *
    * Boundaries run in PURE INTEGER math: cumulative weights quantize to
    * [[upperBounds]]'s fixed-point bucket space and the cut is
    * ceil(upper·n / Buckets) via integer ceil-division — float cums
    * would put 0.8+0.1 at 0.9000000000000001 and shift a boundary by one
    * row exactly when 0.9·n is an integer (the worst kind of
    * cross-engine off-by-one: silent, data-dependent, only at round
    * stratum sizes).
    *
    * The trade vs splitByHash, stated: adding CORPUS rows to a stratum
    * re-cuts that stratum's boundaries, so membership is stable only for
    * a frozen corpus version (pin to a [[graft.sources.VersionedTable]]
    * snapshot); splitByHash is stable under growth but only approximate
    * per stratum.
    *
    * Scale shape: ONE shuffle (the stratum-keyed window); strata are
    * assumed many and individually skew-bounded relative to executors —
    * a corpus that is 99% one language runs that stratum on one
    * partition's worth of window work, the documented limit.
    */
  def stratifiedSplit(
      df: DataFrame,
      keyCol: String,
      stratumCol: String,
      folds: Seq[(String, Double)]): DataFrame = {
    val uppers = upperBounds(folds) // validates weights; last == Buckets
    // one spec for rank AND stratum size: the count takes the ordered
    // spec with an unbounded frame (order-invariant over the whole
    // partition), so both functions share a single WindowExec/sort —
    // the unordered-count variant planned a second full sort (the x106
    // candidate-stage finding, same class)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(stratumCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    val rn = row_number().over(w)
    val n = count(lit(1)).over(w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing))
    val withRank = df.withColumn("_rn", rn).withColumn("_n", n)
    // fold = first boundary the rank fits under; ceil(u*n/B) as integer
    // ceil-division (u*n + B−1) div B; the last upper IS Buckets, so the
    // final boundary is exactly n and no row is ever unassigned
    val fold = folds.map(_._1).zip(uppers).init
      .foldRight(lit(folds.last._1): Column) { case ((name, u), els) =>
        when(
          col("_rn") <= expr(s"(${u}L * _n + ${Buckets - 1}L) div ${Buckets}L"),
          name).otherwise(els)
      }
    withRank.withColumn("fold", fold).drop("_rn", "_n")
  }

  // -------------------------------------------------------------------
  // Training shards: a deterministic global shuffle of the corpus into
  // fixed fan-out shards, the layout a pretraining data loader consumes.
  // -------------------------------------------------------------------

  /** Deterministic shard id: the first `hexChars` hex digits of
    * md5(key-as-string) — 16^hexChars shards. md5-of-the-decimal-string is
    * deliberate where the folds above use xxhash64: a shard LAYOUT is a
    * long-lived on-disk contract that other tooling (loaders, audits,
    * other engines) must be able to recompute, and md5 is universally
    * available; the fold hash is engine-internal because only the fold
    * boundary is the contract. Pure projection — no shuffle.
    */
  def shardOf(key: Column, hexChars: Int): Column = {
    require(hexChars >= 1 && hexChars <= 8, "hexChars must be in [1, 8]")
    substring(md5(key.cast("string")), 1, hexChars)
  }

  /** Shard balance report: docs and payload size per shard. md5 is
    * uniform, so shard sizes concentrate tightly around corpus/16^hexChars
    * — this report is the check a layout job runs before publishing.
    * One scan + one bounded shuffle (16^hexChars groups).
    */
  def shardBalance(
      df: DataFrame, keyCol: String, sizeCol: String, hexChars: Int): DataFrame =
    df.groupBy(shardOf(col(keyCol), hexChars).as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(sizeCol)).cast("long").as("total_size"))

  /** Write the corpus as one directory per shard, rows ordered by the
    * same md5 within each shard — a deterministic global shuffle: the
    * layout (which shard, and the order inside it) is a pure function of
    * the keys, reproducible run-over-run and engine-over-engine. One
    * shuffle (repartition on the shard id, so each shard is written by
    * exactly one task); the within-shard sort is partition-local.
    */
  def writeShards(df: DataFrame, keyCol: String, hexChars: Int, path: String): Unit =
    df.withColumn("shard", shardOf(col(keyCol), hexChars))
      .repartition(col("shard"))
      // the sort MUST lead with the partition column: a dynamic-partition
      // write plans its own Sort(partition cols) (V1Writes), and
      // EliminateSorts then deletes any sort it shadows — a
      // sortWithinPartitions(md5) alone is silently discarded and the
      // files come out in input order (caught by SplitsSpec). Leading
      // with `shard` makes this sort satisfy the writer's required
      // ordering, so it survives as THE sort.
      .sortWithinPartitions(
        col("shard"), md5(col(keyCol).cast("string")), col(keyCol))
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis 2006, "A-ES"): per group, keep the `k` rows with the
    * LARGEST sample key `ln(u_i) / w_i`, where u_i ∈ (0, 1] is a
    * uniform deviate derived from a seeded hash of the row's id — that
    * selection is distributed exactly like sequentially drawing k rows
    * without replacement with probability proportional to weight, which
    * is the principled way to downsample a corpus by quality/importance
    * for a training mix (ln(u)/w is the monotone log form of the
    * paper's u^(1/w); same order, no pow at the rank boundary).
    *
    * Deterministic for the same reason [[splitByHash]] is: u comes from
    * `xxhash64(seed, id)` quantized to [[Buckets]] fixed-point steps
    * (then +1 so u > 0 and ln is finite), never from `rand()` — the
    * sample is reproducible across runs, partitionings, and engines,
    * and the ORACLE recomputes it end-to-end. Rank order is the house
    * boundary convention: 6-dp-rounded key DESC, then id (float drift
    * in ln/÷ cannot flip the k-boundary).
    *
    * Shape: pure projection + one per-group top-k window — the
    * WindowGroupLimit plan class (never a global sort); group count and
    * k bound the output. Contract: `weightCol` strictly positive.
    *
    * @return input columns plus the sample key and the 1-based `rank`
    */
  /** Token-budget corpus draw — "give me a B-token mix": per-source
    * token quotas allocated ∝ n_s^α (the temperature-mixing allocation,
    * α < 1 upweights small sources exactly like [[TextOps.mixWeights]]),
    * then each source keeps docs in its stable md5 order (the
    * capPerSource convention — reproducible across runs, partitionings,
    * and corpus growth of OTHER sources) until the running token count
    * crosses the quota; the crossing doc is included, so every quota is
    * met, slightly over rather than under.
    *
    * Scale shape: one scan to per-doc token counts, one bounded
    * per-source aggregate broadcast back as quotas, ONE source-
    * partitioned running-sum window — no corpus-wide shuffle beyond the
    * window's own. The keep decision compares exact long cumsums to a
    * quota derived from the 6-dp-ROUNDED share (the x44 recipe), so ulp
    * drift in the 20-term weight total cannot flip a boundary doc.
    */
  def tokenBudgetDraw(
      docs: DataFrame, budgetTokens: Long, alpha: Double): DataFrame = {
    require(budgetTokens > 0, "budget must be positive")
    val toks = docs.select(col("source"), col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val powed = toks.groupBy("source").agg(sum(col("n_tokens")).as("n"))
      .transform(Barrier(_, "budget.sources"))
      .select(col("source"), pow(col("n").cast("double"), lit(alpha)).as("w"))
    val tot = powed.agg(sum(col("w")).as("tot"))
    val quotas = powed.crossJoin(broadcast(tot))
      .select(col("source").as("__qsrc"),
        floor(CrossRound.ra(col("w") / col("tot"), 6) * lit(budgetTokens.toDouble))
          .cast("long").as("quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    toks
      // null-safe: a null source is a group too; an equi-join would drop it
      .join(broadcast(quotas), col("source") <=> col("__qsrc"))
      .drop("__qsrc")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < col("quota"))
      .select("source", "doc_id", "n_tokens", "cum_tokens", "quota")
  }

  def weightedSample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weightCol: String,
      k: Int,
      seed: Long = 7L): DataFrame = {
    require(k >= 1, "sample size k must be positive")
    val u = (pmod(xxhash64(lit(seed), col(idCol)), lit(Buckets)) + lit(1.0)) /
      lit(Buckets + 1.0)
    val key = log(u) / col(weightCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(CrossRound.r(key, 6).desc, col(idCol))
    df.withColumn("samp_key", key)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Pack documents into fixed-token-budget training sequences — the
    * GPT-style concat-then-cut layout: within each md5 shard, documents
    * are concatenated in the [[writeShards]] order (md5, then key) and
    * the token stream is cut every `seqLen` tokens. Each document owns
    * the half-open token span [tok_offset, tok_offset + n_tokens) and so
    * lands in sequences seq_first..seq_last (documents may straddle a
    * cut — standard pad-free packing; a loader emits sequence i of a
    * shard by concatenating the docs whose span intersects
    * [i*seqLen, (i+1)*seqLen)).
    *
    * Scale posture: the only wide op is ONE running-sum window PER SHARD
    * — the shard is the window partition, so capacity grows by adding
    * shards (raise hexChars), never by a global sort. Offsets are a pure
    * function of the keys and token counts: reproducible run-over-run
    * and engine-over-engine, like the shard layout itself. All integer
    * math — no rounding drift anywhere.
    *
    * `idCol` is the packing key (defaults to `doc_id`; a resampled corpus
    * packs on a doc+copy composite so replicas land in different shards),
    * and `carryCols` ride through the projection unchanged so a caller
    * does not need a join to re-attach source/score metadata.
    *
    * `nTokensCol` (round 16): a caller that already materialized the
    * per-doc token count upstream (the Curation cap stage tokenizes once
    * for its quality signals) names that column instead of shipping
    * `text` here to be re-tokenized — at 100 TB the resample explode
    * otherwise re-tokenizes every COPY of every upsampled doc and
    * carries the full text payload through the explode for nothing. The
    * column must be `size(TextOps.tokens(text))` for non-null text and
    * NULL where text is null, so the null filter and every offset are
    * bit-identical to the text path (CurationSpec pins the composed
    * output; the x40 oracle pins this operator's text path).
    */
  def packSequences(
      docs: DataFrame,
      seqLen: Int,
      hexChars: Int = 1,
      idCol: String = "doc_id",
      carryCols: Seq[String] = Nil,
      nTokensCol: Option[String] = None): DataFrame = {
    require(seqLen >= 1, "seqLen must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("ord"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val (nonNullGate, nTokens) = nTokensCol match {
      case Some(c) => (col(c).isNotNull, col(c).cast("long"))
      case None =>
        (col("text").isNotNull, size(TextOps.tokens(col("text"))).cast("long"))
    }
    docs
      .filter(nonNullGate)
      .select(
        Seq(
          col(idCol),
          shardOf(col(idCol), hexChars).as("shard"),
          md5(col(idCol).cast("string")).as("ord"),
          nTokens.as("n_tokens")) ++
          carryCols.map(col): _*)
      .withColumn("tok_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer DIV, not fp division: offsets are exact at any corpus size
      .select(
        Seq(
          col(idCol), col("shard"), col("n_tokens"), col("tok_offset"),
          expr(s"tok_offset DIV $seqLen").as("seq_first"),
          expr(s"(tok_offset + n_tokens - 1) DIV $seqLen").as("seq_last")) ++
          carryCols.map(col): _*)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Barrier

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling") —
  * the published recipe for picking the slice of a raw web corpus that
  * most resembles a target domain (wiki/books/a benchmark's style)
  * WITHOUT running a model over 100 TB: fit two bag-of-hashed-n-grams
  * distributions (target and raw), score every raw document with its
  * log importance weight Σ_b c_b·(ln p̂_target[b] − ln p̂_raw[b]), and
  * keep the top slice. It is the standard pre-filter between "crawl
  * everything" and "pay GPU time per document" — the reference has
  * nothing like it (extension surface, same family as the Curation
  * pipeline's stages).
  *
  * Feature map (the paper's §3): unigrams plus adjacent-token bigrams,
  * hashed into `numBuckets` buckets. The hash here is the md5-hex
  * uniform trick the resampler (x36) established — first 8 hex digits
  * parsed as an integer, mod the bucket count — because it is exactly
  * reproducible in the DuckDB oracle dialect; any uniform hash serves
  * the method. Smoothing is add-one over the bucket domain
  * (p̂[b] = (cnt[b]+1)/(total+numBuckets)), so buckets unseen in the
  * target still score finitely.
  *
  * Scale shapes:
  *  - [[hashedFeatures]] is ONE corpus scan → per-(doc, bucket) counts:
  *    a projection + explode + groupBy bounded by corpus token volume —
  *    the same substrate cost as tokenization itself.
  *  - The two fitted distributions are ≤ `numBuckets` rows each —
  *    broadcastable by construction (the paper uses 10^4–10^5 buckets).
  *    The fit side is LINEAR in its input (bucket counts fold by sum,
  *    the x84/x92 convention), so at 100 TB the raw-side distribution
  *    can come from a sample or a maintained count table without
  *    changing the scoring join.
  *  - [[importanceWeights]] scores docs with one broadcast join of the
  *    per-doc bucket counts against the bounded log-ratio table and one
  *    doc-grain groupBy — no corpus×corpus join anywhere.
  *  - [[selectTopK]] ranks by (rounded weight desc, doc_id) under a
  *    global window with a `rank <= k` filter — the Vocab.rankVocab
  *    shape, which the optimizer executes as per-partition top-k below
  *    a k-row single-partition merge (WindowGroupLimit; PLANS.md pins
  *    it for the x101/x125c family), then rejoins the k surviving ids
  *    to the corpus by broadcast.
  *
  * Determinism across engines: weights are double sums whose addend
  * ORDER differs between engines, so the gate compares (and the
  * selection ranks) the 8-then-4 double-rounded value — the x39 LM
  * convention; ties in the rounded weight break on doc_id.
  */
object Importance {

  /** Hash bucket of a feature string: first 8 md5 hex digits (a uniform
    * 32-bit integer, the x36 trick) mod `numBuckets` — exactly
    * reproducible in the oracle dialect via positional hex parsing.
    */
  def bucket(feature: Column, numBuckets: Int): Column =
    conv(substring(md5(feature), 1, 8), 16, 10).cast("long") % numBuckets

  /** Per-document hashed feature counts: (doc_id, bucket, cnt) over
    * unigrams (empty tokens dropped) and adjacent-token bigrams (the
    * x25 gram construction — concat_ws over the RAW token array). ONE
    * corpus scan and ONE Generate: both feature classes concat into a
    * single array per doc before the explode — a two-arm union scanned
    * the corpus twice per distribution, pure waste at 100 TB (the
    * bucket counts are order-invariant, so fusing the arms is free).
    * The token array is materialized as an attribute before any lambda
    * references it (the HOF-inlining discipline), and explode_outer
    * dodges the inferred-generate-filter trap (the TextOps.shingles
    * note); shingleArrayFromTokens returns [] below 2 tokens, so no
    * length guard is needed.
    */
  def hashedFeatures(docs: DataFrame, numBuckets: Int): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(
        col("doc_id"),
        explode_outer(concat(
          filter(col("__toks"), t => length(t) > 0),
          TextOps.shingleArrayFromTokens(col("__toks"), 2, distinct = false))).as("feat"))
      .filter(col("feat").isNotNull)
      .select(col("doc_id"), bucket(col("feat"), numBuckets).as("bucket"))
      // Explicit non-null bucket (a semantic no-op: md5 of a non-null
      // feature is non-null, conv of 8 hex digits parses, %numBuckets is
      // total) so every CONSUMER's subtree carries the identical pushed
      // Filter conjunct. Without it, only joins ON bucket infer
      // IsNotNull(bucket) into their input — the scoring join did, the
      // round-15 full-outer fit join does not — and the two raw-side
      // feature subtrees stopped canonicalizing equal, which silently
      // broke AQE exchange reuse and re-ran the corpus tokenize+hash pass
      // (guide §2.4: the removed shuffle/scan must stay removed; the plan
      // capture pins one raw FileScan).
      .filter(col("bucket").isNotNull)
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Corpus-level bucket totals: (bucket, cnt) — the sufficient
    * statistic of a bag-of-hashed-n-grams distribution. ≤ numBuckets
    * rows; linear in its input (fold two corpora's tables by summed
    * bucket), so the fit side maintains incrementally.
    */
  def bucketCounts(docs: DataFrame, numBuckets: Int): DataFrame =
    hashedFeatures(docs, numBuckets).groupBy("bucket").agg(sum("cnt").as("cnt"))

  /** [[hashedFeatures]] with a per-doc boolean tag riding the fold —
    * the substrate of the sliced DSIR path ([[importanceWeightsSliced]]):
    * when the target corpus is a PREDICATE over the raw corpus (the
    * in-domain-selection shape: "docs like the English slice"), tagging
    * each doc lets ONE feature pass serve both distributions. The tag
    * joins the grouping key rather than an agg (it is functionally
    * dependent on doc_id, so the (doc_id, bucket) grain is unchanged and
    * no non-deterministic `first` is needed).
    */
  private def taggedFeatures(
      docs: DataFrame, isTarget: Column, numBuckets: Int): DataFrame =
    docs
      .select(col("doc_id"), isTarget.as("__tgt"), TextOps.tokens(col("text")).as("__toks"))
      .select(
        col("doc_id"), col("__tgt"),
        explode_outer(concat(
          filter(col("__toks"), t => length(t) > 0),
          TextOps.shingleArrayFromTokens(col("__toks"), 2, distinct = false))).as("feat"))
      .filter(col("feat").isNotNull)
      .select(col("doc_id"), col("__tgt"), bucket(col("feat"), numBuckets).as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy("doc_id", "__tgt", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Per-document DSIR log importance weights of `raw` against the
    * `target` corpus: (doc_id, n_feats, logw) for every raw doc with at
    * least one feature, logw 8-then-4 double-rounded (the cross-engine
    * sum-order convention). The log-ratio table is built over the
    * RAW-observed bucket domain (a raw doc cannot touch a bucket absent
    * from the raw counts) with add-one smoothing on both sides, kept to
    * ≤ numBuckets rows and broadcast into the scoring join.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, numBuckets: Int): DataFrame = {
    val rawFeats = hashedFeatures(raw, numBuckets)
    // the raw distribution re-derives rawFeats rather than checkpointing
    // it: the frame is corpus-token-scale, and the ppjoinCand measurement
    // (storing ~corpus-scale rows costs more than recomputing a codegen'd
    // scan+explode+groupBy lineage) applies unchanged; at 100 TB the fit
    // side would come from a maintained count table or a sample anyway
    // (bucketCounts is linear), leaving scoring as the only corpus pass.
    val rawCounts = bucketCounts(raw, numBuckets)
      .select(col("bucket"), col("cnt").as("r_cnt"))
    val targetCounts = bucketCounts(target, numBuckets)
      .select(col("bucket"), col("cnt").as("t_cnt"))
    // The corpus totals R and T ride the SAME lineage as the per-bucket
    // counts: the two count tables tag-union and fold by bucket — on a
    // key each side holds UNIQUELY, groupBy-of-union IS the full outer
    // join (sum of one addend per side; null where a side is absent), so
    // T still sums the target-only buckets — then both totals are global
    // window sums over the merged rows, and a filter returns to the
    // raw-observed domain. The earlier shape — two separate `.agg(sum)`
    // frames crossJoined in — restated each corpus's bucket-count
    // subtree a SECOND time, and the planner's exchange reuse did not
    // unify them: the executed x133 plan ran FOUR corpus
    // tokenize+hash passes (raw ×2, target ×2) where two suffice (guide
    // §2.4/§1.2 — the round-15 plan capture,
    // plans/r15/x133_dsir_weights_before.txt). A full-outer JOIN
    // restatement was measured first and rejected: full outer cannot
    // broadcast, so two bounded count tables paid a sort-merge join the
    // plan audit rightly flags — the union fold is one small exchange
    // and no join node at all. The window is bounded by ≤ 2·numBuckets
    // rows sitting above the aggregates (the PSI/x44
    // bounded-global-window class, PlanAudit-gated), and the totals are
    // the SAME exact long sums — lr is bit-identical.
    scoreDocs(rawFeats, logRatio(rawCounts, targetCounts, numBuckets))
  }

  /** The ≤`numBuckets`-row log-ratio table from the two count tables —
    * the union-fold + bounded-global-window-totals shape (see the
    * lineage comment in [[importanceWeights]]). Its totals and `lr`
    * expression are the ones [[slicedLogRatio]] uses, so the two paths'
    * weights stay bit-identical.
    */
  private def logRatio(
      rawCounts: DataFrame, targetCounts: DataFrame, numBuckets: Int): DataFrame =
    withTotals(rawCounts
      .select(col("bucket"), col("r_cnt"), lit(null).cast("long").as("t_cnt"))
      .unionByName(targetCounts.select(
        col("bucket"), lit(null).cast("long").as("r_cnt"), col("t_cnt")))
      .groupBy("bucket")
      .agg(sum(col("r_cnt")).as("r_cnt"), sum(col("t_cnt")).as("t_cnt")))
      .filter(col("r_cnt").isNotNull)
      .select(col("bucket"), lr(numBuckets))

  /** The sliced path's log-ratio table, from the tagged substrate: BOTH
    * distributions from ONE bucket-grain aggregate. Target ⊆ raw means
    * every target bucket is a raw bucket, so t_cnt is a conditional sum
    * inside the raw fold — no union-fold needed (the two-frame path
    * keeps it because a disjoint target can own buckets raw lacks), and,
    * critically, no `filter(__tgt)` consumer exists for
    * PushDownPredicate to push below the aggregate into the scan, which
    * would re-specialize the subtree and silently break AQE exchange
    * reuse — the round-15 IsNotNull lesson; a filtered-targetCounts form
    * was plan-checked and showed exactly that second corpus pass.
    * sum(when) leaves t_cnt NULL where no target doc touches the bucket
    * — the same absent-side NULL the union-fold produces, consumed by
    * the same coalesce.
    */
  private def slicedLogRatio(feats: DataFrame, numBuckets: Int): DataFrame =
    withTotals(feats
      .groupBy("bucket")
      .agg(
        sum(col("cnt")).as("r_cnt"),
        sum(when(col("__tgt"), col("cnt"))).as("t_cnt")))
      .select(col("bucket"), lr(numBuckets))

  /** Corpus totals r_tot/t_tot as exact long sums over a bounded global
    * window (≤ 2·numBuckets rows above the aggregates — the PSI/x44
    * bounded-global-window class, PlanAudit-gated).
    */
  private def withTotals(counts: DataFrame): DataFrame = {
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("r_tot", sum(col("r_cnt")).over(wAll))
      .withColumn("t_tot", coalesce(sum(col("t_cnt")).over(wAll), lit(0L)))
  }

  /** ln((t+1)/(T+m)) − ln((r+1)/(R+m)), expanded to the SAME four-term
    * form the oracle states so both engines evaluate identical ln calls.
    */
  private def lr(numBuckets: Int): Column =
    (log(coalesce(col("t_cnt"), lit(0L)) + lit(1.0))
      - log(col("t_tot") + lit(numBuckets.toDouble))
      - log(col("r_cnt") + lit(1.0))
      + log(col("r_tot") + lit(numBuckets.toDouble))).as("lr")

  /** Per-doc scoring: broadcast the bounded log-ratio table onto the
    * feature substrate, fold to doc grain. Shared by both paths.
    */
  private def scoreDocs(feats: DataFrame, ratio: DataFrame): DataFrame =
    feats
      .join(broadcast(ratio), Seq("bucket"))
      .groupBy("doc_id")
      .agg(
        sum(col("cnt")).as("n_feats"),
        // ra, not plain round: the weight is an aggregated double (sum
        // order differs per engine/parallelism) and Spark's round is
        // repr-half-up vs DuckDB's binary-half-away — CrossRound.ra is
        // the multiply-form + pre-round that agrees with the oracle's
        // round(round(x, 8), 4) everywhere. + 0.0: weights can be
        // negative, and a near-zero negative rounds to -0.0 on DuckDB
        // but never on Spark (the r4z signed-zero guard, both engines).
        (CrossRound.ra(sum(col("cnt") * col("lr")), 4) + lit(0.0)).as("logw"))

  /** [[importanceWeights]] for the in-domain-selection shape: the target
    * corpus is `raw.filter(isTarget)`. Semantically identical to
    * `importanceWeights(raw, raw.filter(isTarget), numBuckets)` — same
    * counts, same four-term log expression, same rounding — but ONE
    * corpus tokenize+hash pass instead of two (guide §1.2/§2.4): the
    * tagged feature substrate feeds the raw distribution, the target
    * distribution (a filter on the tag ABOVE the substrate's exchange,
    * so AQE exchange reuse holds — the round-15 IsNotNull lesson) and
    * the scoring join. The round-16 plan capture pins one corpus
    * FileScan where the two-corpus x133 plan had two.
    */
  def importanceWeightsSliced(
      raw: DataFrame, isTarget: Column, numBuckets: Int): DataFrame = {
    val feats = taggedFeatures(raw, isTarget, numBuckets)
    scoreDocs(feats.select("doc_id", "bucket", "cnt"), slicedLogRatio(feats, numBuckets))
  }

  /** [[selectTopK]] over the sliced path — one corpus feature pass. */
  def selectTopKSliced(
      raw: DataFrame, isTarget: Column, numBuckets: Int, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    topK(raw, importanceWeightsSliced(raw, isTarget, numBuckets), k)
  }

  /** The selection step: the `k` most target-like raw documents by
    * (logw desc, doc_id asc), rank attached, source/lang rejoined from
    * the corpus via a broadcast of the k-row survivor frame. Global
    * window + `rank <= k` filter = the WindowGroupLimit top-k shape.
    */
  def selectTopK(raw: DataFrame, target: DataFrame, numBuckets: Int, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    topK(raw, importanceWeights(raw, target, numBuckets), k)
  }

  private def topK(raw: DataFrame, weights: DataFrame, k: Int): DataFrame = {
    val w = weights
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("logw").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
    raw
      .join(broadcast(w), Seq("doc_id"))
      .select(col("rank"), col("doc_id"), col("source"), col("lang"), col("n_feats"), col("logw"))
  }

  /** Per-stage wall/row attribution for the DSIR pair — the x106/x53
    * stage-harness treatment applied to x133/x134 (round-13 ask #6: the
    * pair entered the bench top-5 with its cost attributed to the shared
    * tokenize substrate by ARGUMENT, not measurement). Runs
    * [[dsirStaged]] and times each stage, so each wall is the
    * INCREMENTAL cost of that stage over its predecessors' materialized
    * state. Caller owns cache cleanup between reps — Bench's dropCached
    * does it.
    */
  def dsirStageTimings(
      raw: DataFrame, isTarget: Column, numBuckets: Int, k: Int): Seq[(String, Double, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long)]
    dsirStaged(raw, isTarget, numBuckets, k) { (name, build) =>
      val t0 = System.nanoTime()
      val df = build()
      out += ((name, (System.nanoTime() - t0) / 1e9, df.count()))
      df
    }
    out.toSeq
  }

  /** [[selectTopKSliced]] built from the same pieces with a `dsir.*`
    * [[Barrier]] after each stage but the last; `stage(name, build)` runs
    * every stage in lineage order and returns its frame:
    *
    *   - `features`: the TAGGED per-(doc, bucket) substrate over the raw
    *     corpus — in the shipped query this is the one exchange REUSED
    *     between fit and score, so its wall is the tokenize+explode+fold
    *     cost every text query shares;
    *   - `fit`: the one conditional bucket-grain aggregate producing BOTH
    *     distributions plus the ≤`numBuckets`-row log-ratio table;
    *   - `score`: the broadcast scoring join + doc-grain fold;
    *   - `select`: the WindowGroupLimit top-k + broadcast corpus rejoin.
    *
    * A timing/CI tool, not the serving path (the barriers exist to make
    * walls attributable; the shipped query keeps its lazy one-DAG shape).
    */
  private[graft] def dsirStaged(raw: DataFrame, isTarget: Column, numBuckets: Int, k: Int)(
      stage: (String, () => DataFrame) => DataFrame): DataFrame = {
    val feats = stage("features",
      () => Barrier(taggedFeatures(raw, isTarget, numBuckets), "dsir.features"))
    val ratio = stage("fit", () => Barrier(slicedLogRatio(feats, numBuckets), "dsir.fit"))
    val scored = stage("score", () =>
      Barrier(scoreDocs(feats.select("doc_id", "bucket", "cnt"), ratio), "dsir.score"))
    stage("select", () => topK(raw, scored, k))
  }
}

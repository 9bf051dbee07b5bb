package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Barrier

/** End-to-end training-corpus curation: the single composed query a
  * 100 TB pretraining-data pipeline actually runs, chaining the
  * individually-verified operators into ONE lineage —
  *
  *   1. [[TextOps.capPerSource]] — C4-style per-source document cap
  *      (no single crawl domain dominates the mix);
  *   2. [[TextOps.qualityScore]] + [[TextOps.repetitionStats]] — drop
  *      low-quality and templated/looping documents (Gopher-style
  *      dup-line and modal-bigram rules);
  *   3. [[Dedup.dropExactDuplicates]] — exact content dedup on the
  *      fixed-width sha2 key;
  *   4. [[Dedup.jaccardNearDups]] + [[Dedup.dropNearDuplicatesBy]] —
  *      exact n-gram near-dup pairs, then quality-aware retention (keep
  *      the CLEANEST member of each connected component, not the
  *      smallest id);
  *   5. [[TextOps.contamination]] — benchmark decontamination against a
  *      banned document set;
  *   6. [[TextOps.resampleByTemperature]] — deterministic alpha-sampled
  *      source rebalancing (docs replicate or drop by the md5-uniform
  *      Bernoulli rule);
  *   7. [[Splits.packSequences]] on the doc+copy composite key — the
  *      concat-then-cut token layout a loader consumes.
  *
  * The reference pipeline has none of this (brief-extension surface);
  * each stage's semantics are pinned individually by the x01/x03/x25/
  * x24/x22/x36/x40 oracle rows, and the COMPOSITION is pinned by the
  * x53 oracle — a single chained-CTE DuckDB query over the same parquet.
  *
  * Scale posture: one lineage, no driver-side data movement. The corpus
  * flows through a per-source window (stage 1), per-doc projections +
  * one content-hash aggregate (2-3), the df-capped ONE-shuffle shingle
  * index (4 — pair work is bounded by the df cap, never all-pairs), a
  * semi-join against the banned shingle set (5), a broadcast weight join
  * + explode (6), and one per-shard running-sum window (7). The three
  * multi-consumer intermediates are named [[graft.Barrier]]s —
  * `curation.cap`, `curation.exact_dedup`, `curation.clean_ids` — eager
  * checkpoints, not caches: each downstream stage reads materialized rows
  * instead of re-running the upstream chain, each boundary's jobs carry
  * its name (Bench's `barrier_ms`), and PlanAudit gates each boundary's
  * plan under that name.
  */
object Curation {

  /** A pipeline invocation: the output frame plus a cleanup hook
    * releasing every RDD the run checkpointed — its three named barriers
    * AND the operators' internal ones (shingle candidate frames, CC
    * labels), which a snapshot-diff of the context's persistent RDDs
    * catches without each operator having to export its internals. Call
    * [[cleanup]] once the terminal action on [[output]] (write, collect)
    * completes and the frame is no longer needed: a long-lived session
    * invoking the pipeline repeatedly — the actual serving shape — would
    * otherwise accumulate checkpointed corpus-scale RDDs until eviction
    * pressure. After cleanup, do NOT re-execute [[output]]: its
    * lineage-truncated checkpoints have nothing to recompute from once
    * their blocks are dropped — run the pipeline again instead.
    */
  final case class PipelineRun(output: DataFrame, cleanup: () => Unit)

  // -------------------------------------------------------------------
  // Stage builders — ONE definition per stage; [[pipelineRun]] wires
  // them into the one chain, with a named barrier at each boundary.
  // -------------------------------------------------------------------

  /** Stage 1: per-source cap with quality score — and, on the classifier
    * path, the model's feature columns — computed IN this projection so
    * the boundary placed on it makes every downstream threshold a
    * plain-attribute filter (the HOF-inlining rule; see [[pipelineRun]]).
    */
  private def capStage(
      docs: DataFrame, maxDocsPerSource: Int,
      withClassifierFeats: Boolean): DataFrame = {
    // tokenize ONCE into an attribute (then the bigram array likewise):
    // quality, the repetition signals and the five classifier features
    // reference these arrays ~16 times between them, and their HOF terms
    // block codegen subexpression elimination — inline re-derivation
    // re-ran the split per reference (the featureColsFromTokens note).
    //
    // The REPETITION columns live in this projection too (not a join
    // against TextOps.repetitionStats): since the modal-bigram fold went
    // per-row (topBigramFracCol) the stats frame is a plain projection,
    // and a downstream Filter would be pushed THROUGH it with the HOF
    // fold inlined into the filter condition — the audited 22x trap,
    // caught by the per-stage gate the moment it was tried. Computing
    // them here puts them behind the SAME barrier as
    // quality_score, so the gate filters plain attributes — and the
    // doc_id join + two corpus exchanges the old aggregate-based stats
    // needed are gone entirely.
    val feats =
      if (withClassifierFeats) QualityModel.featureColsFromTokens(col("__toks"))
      else Nil
    TextOps.capPerSource(docs, "doc_id", maxDocsPerSource)
      .select(
        col("doc_id"), col("source"), col("text"),
        TextOps.tokens(col("text")).as("__toks"))
      .select(
        col("doc_id"), col("source"), col("text"), col("__toks"),
        TextOps.shingleArrayFromTokens(col("__toks"), 2, distinct = false).as("__bi"))
      .select(
        Seq(
          col("doc_id"), col("source"), col("text"),
          TextOps.qualityCol(col("__toks")).as("quality_score"),
          TextOps.dupLineFracCol(col("text")).as("dup_line_frac"),
          TextOps.topBigramFracCol(col("__bi")).as("top_bigram_frac"),
          // token count from the array this projection already holds
          // (round 16): rides the chain so the pack stage never
          // re-tokenizes — at 100 TB the resample explode otherwise
          // re-splits every COPY of every upsampled doc and ships the
          // text payload through the explode for nothing (guide §2.3
          // "shuffle keys and metadata instead of payloads"). NULL for
          // null text, exactly packSequences' own gate, so the carried
          // path is bit-identical to the text path.
          when(col("text").isNotNull, size(col("__toks")).cast("long"))
            .as("__n_toks")) ++
          feats.map { case (n, c) => c.as(n) }: _*)
  }

  /** Stage 2: heuristic quality + repetition gates (rounded thresholds —
    * the x44 both-sides-rounded recipe) — a plain-attribute filter over
    * the cap stage's boundary, every gated signal having been computed
    * there; feature attributes ride through for the optional classifier
    * gate.
    */
  private def gateStage(
      capped: DataFrame, minQuality: Double, maxDupLineFrac: Double,
      maxTopBigramFrac: Double, featNames: Seq[String]): DataFrame =
    capped
      .filter(
        col("quality_score") >= minQuality &&
          CrossRound.r(col("dup_line_frac"), 6) <= maxDupLineFrac &&
          CrossRound.r(col("top_bigram_frac"), 6) <= maxTopBigramFrac)
      .select(
        Seq(
          col("doc_id"), col("source"), col("text"), col("quality_score"),
          col("__n_toks")) ++
          featNames.map(col): _*)

  /** Stage 2.5 (opt-in): model sigmoid over the stage-1 feature
    * attributes, 6-dp-rounded threshold, feature columns dropped.
    */
  private def classifierStage(
      filt: DataFrame, model: QualityModel.LogReg, threshold: Double): DataFrame =
    filt
      .filter(CrossRound.r(QualityModel.score(model), 6) >= threshold)
      .select(
        col("doc_id"), col("source"), col("text"), col("quality_score"),
        col("__n_toks"))

  /** Stage 4a: near-dup candidate pairs over the exact-dedup survivors. */
  private def pairStage(
      exd: DataFrame, jaccardThreshold: Double, minShared: Int,
      maxShingleDf: Int): DataFrame =
    Dedup.jaccardNearDups(exd, jaccardThreshold, minShared, maxShingleDf)
      .select(col("doc_a"), col("doc_b"))

  /** Stage 5a: surviving (non-contaminated) doc ids — decontam-bounded,
    * the cheap frame the chain checkpoints instead of the corpus.
    */
  private def cleanIdsStage(
      nd: DataFrame, banned: DataFrame, decontamMinShared: Int): DataFrame =
    TextOps.contamination(nd, banned, decontamMinShared)
      .filter(!col("contaminated"))
      .select("doc_id")

  /** Stage 6: temperature resampling; the cap stage's token count and
    * the score ride the explode (round 16 — previously `text` rode here
    * solely for the pack stage to re-tokenize: every COPY of every
    * upsampled doc re-split the document and the payload bytes crossed
    * the explode and the shard exchange's map side for nothing).
    */
  private def resampleStage(clean: DataFrame, alpha: Double): DataFrame =
    TextOps
      .resampleByTemperature(clean, alpha, carryCols = Seq("__n_toks", "quality_score"))
      .withColumn("copy_id", col("copy_id").cast("long"))

  /** Stage 7: pack on the doc#copy composite key so replicas spread
    * across shards; final output projection.
    */
  private def packStage(resampled: DataFrame, seqLen: Int, hexChars: Int): DataFrame =
    Splits
      .packSequences(
        resampled.withColumn(
          "pack_key",
          concat(col("doc_id").cast("string"), lit("#"), col("copy_id").cast("string"))),
        seqLen, hexChars, idCol = "pack_key",
        carryCols = Seq("doc_id", "copy_id", "source", "quality_score"),
        nTokensCol = Some("__n_toks"))
      .select(
        col("doc_id"), col("copy_id"), col("source"),
        CrossRound.r(col("quality_score"), 4).as("quality_score"),
        col("shard"), col("n_tokens"), col("tok_offset"),
        col("seq_first"), col("seq_last"))

  /** Run the full curation chain over `docs` (doc_id, source, text).
    *
    * Output, one row per retained (doc_id, copy_id) training-corpus
    * member: (doc_id, copy_id, source, quality_score, shard, n_tokens,
    * tok_offset, seq_first, seq_last).
    *
    * Thresholds compare ROUNDED values on both engine and oracle sides
    * (the x44 both-sides-rounded recipe) so ulp drift cannot flip a
    * keep/drop decision: `quality_score` is 6-dp-rounded at source, and
    * the repetition fractions round through [[CrossRound.r]] at the
    * comparison.
    *
    * `classifier` (opt-in) inserts the model-based quality stage between
    * the heuristic gates and exact dedup: docs scoring below the
    * threshold under the supplied [[QualityModel.LogReg]] drop — the
    * CCNet-style "rules prefilter, model decides" layering. One extra
    * map-only sigmoid projection; the default None keeps the oracle'd
    * seven-stage shape bit-identical.
    */
  def pipeline(
      docs: DataFrame,
      banned: DataFrame,
      maxDocsPerSource: Int = 20,
      minQuality: Double = 0.65,
      maxDupLineFrac: Double = 0.2,
      maxTopBigramFrac: Double = 0.1,
      jaccardThreshold: Double = 0.5,
      minShared: Int = 2,
      maxShingleDf: Int = 100,
      decontamMinShared: Int = 10,
      alpha: Double = 0.7,
      seqLen: Int = 512,
      hexChars: Int = 1,
      classifier: Option[(QualityModel.LogReg, Double)] = None): DataFrame =
    pipelineRun(
      docs, banned, maxDocsPerSource, minQuality, maxDupLineFrac,
      maxTopBigramFrac, jaccardThreshold, minShared, maxShingleDf,
      decontamMinShared, alpha, seqLen, hexChars, classifier).output

  /** [[pipeline]] returning the full [[PipelineRun]] handle. */
  def pipelineRun(
      docs: DataFrame,
      banned: DataFrame,
      maxDocsPerSource: Int = 20,
      minQuality: Double = 0.65,
      maxDupLineFrac: Double = 0.2,
      maxTopBigramFrac: Double = 0.1,
      jaccardThreshold: Double = 0.5,
      minShared: Int = 2,
      maxShingleDf: Int = 100,
      decontamMinShared: Int = 10,
      alpha: Double = 0.7,
      seqLen: Int = 512,
      hexChars: Int = 1,
      classifier: Option[(QualityModel.LogReg, Double)] = None): PipelineRun = {

    // snapshot for the cleanup diff: anything checkpointed from here on —
    // named boundary or operator-internal barrier — belongs to this run
    val sc = docs.sparkSession.sparkContext
    val preIds = sc.getPersistentRDDs.keySet

    // 1. per-source cap, with quality_score — and, on the classifier
    // path, the model's five feature columns — computed IN this
    // projection: the barrier then makes every downstream threshold
    // (stage 2's gates AND stage 2.5's sigmoid) a plain-attribute filter
    // over a checkpointed scan. Filtering on a lazily-computed
    // score/feature column instead lets PushDownPredicate inline the
    // formula — whose stopword terms are ArrayFilter HOFs — into the
    // pushed Filter, re-evaluating the tokenization per row on top of the
    // projection's own copy (the plan-audit HOF rule, which gates this
    // barrier's consumers under `curation.exact_dedup`). Features for ALL
    // capped docs instead of just gate-passers is one cheap projection
    // pass over rows this stage materializes anyway (x57 pays one
    // corpus-shaped materialization, like x53). The gate and the
    // repetition signals both consume this frame.
    val featNames =
      if (classifier.nonEmpty) QualityModel.DefaultFeatures else Seq.empty[String]
    val capped = Barrier(capStage(docs, maxDocsPerSource, classifier.nonEmpty), "curation.cap")

    // 2. gates. quality_score stays attached — the near-dup retention
    // (stage 4) ranks components by it; exact dedup is the single
    // consumer either way, and `exd`'s own barrier stops re-execution,
    // so no boundary here (round-7 x53 barrier finding).
    val filt = gateStage(
      capped, minQuality, maxDupLineFrac, maxTopBigramFrac, featNames)

    // 2.5 (opt-in): model gate; default None keeps the oracle'd
    // seven-stage shape bit-identical.
    val gated = classifier match {
      case None => filt
      case Some((model, threshold)) => classifierStage(filt, model, threshold)
    }

    // 3. exact dedup (smallest doc_id per content hash survives). The
    // near-dup pair stage's own barriers read this frame at construction
    // time, so making it eager moves no work earlier.
    val exd = Barrier(Dedup.dropExactDuplicates(gated), "curation.exact_dedup")

    // 4. near-dup pairs over the SURVIVING set, then quality-aware
    // retention: the component argmax keeps the cleanest member. NO
    // barrier on `nd` (round-9 job-count cut): nd = anti-join of
    // checkpointed exd against the pair-bounded loser set, whose own
    // inputs (the CC label checkpoint, the candidate checkpoint) are
    // already materialized — so nd's two consumers each re-run one cheap
    // broadcast anti-join over materialized blocks instead of the
    // pipeline paying a THIRD corpus-shaped materialization pass.
    val pairs = pairStage(exd, jaccardThreshold, minShared, maxShingleDf)
    val nd = Dedup.dropNearDuplicatesBy(exd, pairs, "quality_score")

    // 5. benchmark decontamination. Checkpoint the ID LIST, not the
    // joined corpus frame: the list is decontam-bounded (doc_ids only),
    // so the two downstream consumers re-run just a broadcast semi join
    // over `nd` instead of materializing a second corpus-shaped frame
    // (round-7 x53 barrier finding).
    val cleanIds = Barrier(cleanIdsStage(nd, banned, decontamMinShared), "curation.clean_ids")
    val clean = nd.join(cleanIds, Seq("doc_id"), "left_semi")

    // 6-7. resample, then pack.
    val packed = packStage(resampleStage(clean, alpha), seqLen, hexChars)

    // one-shot latch: the snapshot diff is computed at the FIRST cleanup
    // and never again — a second call must be a no-op, not a re-diff that
    // would sweep up whatever the session checkpointed since (the diff is
    // a time-window heuristic, so the run's terminal action should not
    // overlap other checkpointing work in the same session; concurrent
    // pipelines belong in separate sessions, the streaming module's
    // isolation rule)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    PipelineRun(
      output = packed,
      cleanup = () => if (done.compareAndSet(false, true)) {
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!preIds.contains(id)) rdd.unpersist()
        }
      })
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Barrier

/** Text-analysis operators for the large-scale training-data pipeline
  * (brief extension surface; substrate: the `documents` table —
  * FIXTURES.md §2). Everything here is per-row column math — embarrassingly
  * parallel, no shuffle, whole-stage-codegen-friendly, and ANSI-SQL
  * expressible so every operator carries a DuckDB oracle.
  */
object TextOps {

  /** Whitespace tokenization — the shared primitive. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** A small closed-class stopword list (public knowledge; used for quality
    * scoring and language ID). Deliberately tiny and fixed: the operator is
    * the point, the list is a parameter in real deployments.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "in", "to", "is")

  /** Language marker tokens (n-gram-heuristic stand-in: closed-class words
    * are the strongest single-token language signals). CJK uses literal
    * characters, not ranges, so the same predicate runs in any SQL engine.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "fr" -> Seq("le", "les", "et", "est", "du"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Shared with [[QualityModel.qualityFeatures]] so the classifier's
    * stopword feature and the weak-label rule match on the SAME
    * (case-sensitive) membership test.
    */
  private[operators] def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  /** Per-document token statistics: counts, distinct counts, average token
    * length. One projection, no shuffle.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      (aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x).cast("double") /
        size(toks)).as("avg_token_len"))
  }

  /** GPT-2-style pre-tokenizer pattern (public knowledge): contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs.
    * Both Java regex (Spark) and RE2 (DuckDB oracle) interpret this
    * alternation identically.
    */
  val BpePattern = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  /** Token counting, both ways the brief names: whitespace words and a
    * BPE-ish regex segmentation (the cheap proxy for "how many LLM tokens
    * is this corpus" used in data budgeting).
    */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long").as("n_bpe_tokens"))
  }

  /** Sliding-window document chunking — the standard pretraining prep
    * step: fixed-size token windows advancing by `chunkTokens - overlap`,
    * the final window shortened to the document end. A window whose fresh
    * (non-overlap) region would start past the end is not emitted — every
    * token appears in some chunk and no chunk is a suffix of its
    * predecessor. `chunk_id` is derived arithmetically from the window
    * start ((start-1)/stride), so ids are stable without any ordering
    * dependency. Pure projection + explode over a bound token array (the
    * HOF-inlining discipline of [[shingleArrayFromTokens]]); no shuffle.
    */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 128, overlap: Int = 32): DataFrame = {
    require(overlap >= 0 && chunkTokens > overlap, "need chunkTokens > overlap >= 0")
    val stride = chunkTokens - overlap
    docs
      .filter(size(tokens(col("text"))) >= 1)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("toks"),
        filter(
          sequence(lit(1), size(col("toks")), lit(stride)),
          s => (s === 1) || (s + overlap <= size(col("toks")))).as("starts"))
      // explode_outer: starts is never empty (n >= 1 guarantees start 1),
      // and a non-outer explode would get an inferred size(starts) > 0
      // filter with the whole starts expression inlined (the pushed-filter
      // trap, fourth potential sighting)
      .select(col("doc_id"), col("toks"), explode_outer(col("starts")).as("start"))
      .select(
        col("doc_id"),
        floor((col("start") - 1) / lit(stride)).cast("long").as("chunk_id"),
        slice(col("toks"), col("start"), lit(chunkTokens)).as("chunk"))
      .select(
        col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  /** Within-document repetition statistics — the Gopher-rule repetition
    * family (duplicate-line fraction, most-frequent-n-gram mass): heavily
    * templated or looping documents are the classic low-quality class
    * that length/stopword heuristics miss. Per doc:
    *   - `dup_line_frac`: 1 - distinct/total over newline-split lines
    *     (pure projection);
    *   - `top_bigram_frac`: occurrences of the modal token bigram / total
    *     bigrams — ALSO a pure projection: sort the bigram array, then
    *     one O(n) fold for the longest equal-adjacent run (== the modal
    *     count on a sorted array). O(n log n) per ROW replaces the
    *     earlier explode + two corpus-keyed groupBys + join-back — same
    *     values (integer counts, same final division), but zero shuffles
    *     at any corpus size, and the per-row array is no more memory
    *     than the explode path materialized before exploding. This cut
    *     two exchanges and a join out of every x53/x57 evaluation.
    * Docs with < 2 tokens have no bigrams: top_bigram_frac = 0.
    * Bigrams are fixed (not a parameter): the output column name and the
    * x25 oracle are bigram-specific, so a generic n would silently
    * mislabel results.
    */
  /** 1 - distinct/total over newline-split lines (null text -> null,
    * matching split's propagation).
    */
  private[operators] def dupLineFracCol(text: Column): Column = {
    val lines = split(text, "\n")
    lit(1.0) - size(array_distinct(lines)).cast("double") / size(lines)
  }

  /** Modal-bigram mass over a NON-DISTINCT bigram-array ATTRIBUTE (pass a
    * bound column, not an inline expression — referenced three times, and
    * the fold is a HOF outside codegen CSE): sort, then one O(n) fold for
    * the longest equal-adjacent run, which IS the modal count on a sorted
    * array. `prev` seeds "" which no bigram can equal (concat_ws with a
    * space separator emits at least one character). Empty/absent bigrams
    * (docs under 2 tokens, null text) yield 0.0.
    */
  private[operators] def topBigramFracCol(bi: Column): Column = {
    val runBest = aggregate(
      array_sort(bi),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(
          x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(bi) >= 1, runBest.cast("double") / size(bi).cast("double"))
      .otherwise(lit(0.0))
  }

  def repetitionStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("__toks"))
      .select(
        col("doc_id"), col("text"),
        shingleArrayFromTokens(col("__toks"), 2, distinct = false).as("__bi"))
      .select(
        col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"),
        dupLineFracCol(col("text")).as("dup_line_frac"),
        topBigramFracCol(col("__bi")).as("top_bigram_frac"))

  /** Heuristic quality score in [0, 1]: length saturation, lexical
    * diversity, and non-stopword density — the standard cheap pre-filter
    * shape for LLM corpus curation (cf. C4/Gopher-style rules).
    */
  /** The quality expression over a token-array column (shared by
    * [[qualityScore]] and [[sourceMix]]); rounded at 6 dp per row so the
    * score is a stable cross-engine value before any aggregation.
    */
  private[operators] def qualityCol(toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = countIn(toks, Stopwords).cast("double") / nTok
    CrossRound.r(
      least(nTok / 50.0, lit(1.0)) * 0.4 +
        diversity * 0.4 +
        (lit(1.0) - stopRatio) * 0.2,
      6)
  }

  // two projections: tokenize once into an attribute, then score — the
  // stopword term is a HOF that keeps this out of codegen CSE, so an
  // inline tokens() re-runs the split per reference (see
  // QualityModel.featureColsFromTokens). `carryCols` ride the projection
  // so a consumer needing (say) source+quality does not pay a
  // corpus-scale self-join on doc_id to reattach them.
  def qualityScore(docs: DataFrame, carryCols: Seq[String] = Nil): DataFrame =
    docs
      .select(col("doc_id") +: carryCols.map(col) :+ tokens(col("text")).as("__toks"): _*)
      .select(col("doc_id") +: carryCols.map(col) :+ qualityCol(col("__toks")).as("quality_score"): _*)

  /** The eight Gopher stop words — the rule counts how many DISTINCT
    * members appear in the document (Rae et al. 2021, A1.1).
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality-filter signals (Rae et al. 2021, Appendix A1.1) —
    * the published rule set MassiveText was cleaned with, per document:
    *
    *   - `n_words` in [minWords, maxWords] (paper: 50..100,000);
    *   - `mean_word_len` in [3, 10];
    *   - `symbol_ratio`: ("#" + "...") occurrences / words, < 0.1;
    *   - `bullet_line_frac`: lines starting with a bullet, < 0.9;
    *   - `ellipsis_line_frac`: lines ending in "..."/"…", < 0.3;
    *   - `alpha_word_frac`: words containing an alphabetic char, > 0.8;
    *   - `stopword_hits`: distinct Gopher stop words present, >= 2.
    *
    * `pass` is the conjunction, evaluated on the ROUNDED ratios (both
    * engines compare the same 4-dp values — the threshold rule). Every
    * signal is per-row integer-ratio math: a pure projection, no
    * shuffle, nothing to drift. The token array is referenced by several
    * signals in one projection (the qualityCol idiom — tokenization is
    * linear; measured fine at x27 scale, and at 100 TB still a map-only
    * scan).
    */
  def gopherRules(
      docs: DataFrame,
      minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val toks = tokens(col("text"))
    val lines = split(col("text"), "\n")
    val nWords = size(toks)
    val nHash = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
    val nEllipsis = size(expr("regexp_extract_all(text, '\\\\.\\\\.\\\\.', 0)"))
    val meanLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / nWords
    val bulletFrac = size(filter(lines, l => ltrim(l).rlike("^[-*•]")))
      .cast("double") / size(lines)
    val ellipsisFrac = size(filter(lines, l => rtrim(l).rlike("(\\.\\.\\.|…)$")))
      .cast("double") / size(lines)
    val alphaFrac = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast("double") / nWords
    val stopHits = size(array_intersect(
      split(lower(col("text")), "\\s+"),
      array(GopherStopwords.map(lit): _*)))
    docs
      .select(
        col("doc_id"),
        nWords.cast("long").as("n_words"),
        CrossRound.r(meanLen, 4).as("mean_word_len"),
        CrossRound.r((nHash + nEllipsis).cast("double") / nWords, 4).as("symbol_ratio"),
        CrossRound.r(bulletFrac, 4).as("bullet_line_frac"),
        CrossRound.r(ellipsisFrac, 4).as("ellipsis_line_frac"),
        CrossRound.r(alphaFrac, 4).as("alpha_word_frac"),
        stopHits.cast("long").as("stopword_hits"))
      .withColumn(
        "pass",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") < 0.1 &&
          col("bullet_line_frac") < 0.9 &&
          col("ellipsis_line_frac") < 0.3 &&
          col("alpha_word_frac") > 0.8 &&
          col("stopword_hits") >= 2)
  }

  /** Sequence-length bucketing report — the padding-waste table a
    * pretraining batch planner reads: each doc lands in the smallest
    * bucket that holds its token count, and the report shows how many
    * pad tokens each bucket burns (batching docs of mixed length into a
    * fixed sequence length wastes compute proportional to
    * 1 - real/padded). Docs longer than the largest bucket report as
    * bucket 0 ("overflow" — they go through [[chunkDocs]] first, so the
    * planner sees them called out rather than silently clamped, and
    * their padded/waste columns are 0).
    *
    * Scale posture: one scan, one bounded groupBy (|buckets| rows) —
    * map-side combinable. Bucket choice is a CASE ladder over a sorted
    * literal list, pure per-row math.
    */
  def lengthBuckets(
      docs: DataFrame,
      buckets: Seq[Int] = Seq(64, 128, 256, 512, 1024, 2048)): DataFrame = {
    require(buckets.nonEmpty && buckets == buckets.sorted && buckets.head > 0,
      "buckets must be a sorted list of positive lengths")
    val n = size(tokens(col("text"))).cast("long")
    // the CASE ladder references its input once per rung; binding n
    // through a 1-element transform lambda pins tokenization to ONE
    // evaluation per row (the expression-duplication class — a bare `n`
    // here would re-split the text |buckets| times per row)
    val bucket = element_at(
      transform(array(n), v =>
        buckets.reverse.foldLeft(lit(0L)) { (acc, b) =>
          when(v <= b, lit(b.toLong)).otherwise(acc)
        }),
      1)
    docs
      .select(col("doc_id"), n.as("n_tokens"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(
        col("bucket"), col("n_docs"), col("total_tokens"),
        (col("bucket") * col("n_docs")).as("padded_tokens"),
        when(col("bucket") > 0,
          CrossRound.r(
            lit(1.0) - col("total_tokens").cast("double") /
              (col("bucket") * col("n_docs")).cast("double"),
            4))
          .otherwise(lit(0.0)).as("waste_frac"))
  }

  /** HTML/markup stripping — the boilerplate-removal pass a web-crawl
    * corpus runs before quality scoring: script/style blocks go WITH
    * their content (code is not prose), comments go, remaining tags
    * become word boundaries (a space, so `a<br>b` doesn't fuse), the
    * common named entities decode, whitespace collapses.
    *
    * Contract: the SEVEN named entities below only, `&amp;` last (so
    * `&amp;lt;` single-decodes to `&lt;`, the HTML-correct order);
    * numeric character references pass through untouched. Every pattern
    * is RE2-compatible (no backreferences — script and style are
    * separate patterns), so an ANSI oracle can mirror the chain
    * operator for operator. Pure projection, map-only at any scale.
    */
  def stripMarkup(docs: DataFrame): DataFrame = {
    val noScript = regexp_replace(col("text"), "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) =>
        regexp_replace(c, ent, ch) // entities contain no regex metachars
      }
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_raw"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))
  }

  /** Canonical text normalization — the cleaning pass a corpus runs
    * BEFORE tokenization, dedup, or LM scoring: Unicode NFC (composed/
    * decomposed twins collapse to one byte sequence — see
    * [[graft.functions.NormalizeExpr]], a codegen'd native expression),
    * control characters stripped (except \n and \t, which carry
    * document structure), horizontal whitespace runs collapsed, ends
    * trimmed. Pure projection — map-only at any scale.
    */
  def normalizeText(docs: DataFrame): DataFrame = {
    val nfc = graft.functions.NormalizeExpr.unicodeNormalize(col("text"), "NFC")
    val noCtl = regexp_replace(nfc, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val collapsed = trim(regexp_replace(noCtl, "[ \t]+", " "))
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_raw"),
      collapsed.as("norm_text"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
  }

  /** Per-source data-mix governance report — the table every corpus
    * curation review starts from: document and token volume, mean quality,
    * and each source's share of the corpus. ONE fact scan, one shuffle on
    * `source`; the corpus total comes from re-aggregating the bounded
    * per-source frame (|sources| rows) and broadcasting it back, never a
    * second corpus pass. `mean_quality` is an AVG over doubles, so the
    * output rounds through the CrossRound.ra drift guard.
    */
  def sourceMix(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(
      col("source"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      qualityCol(tokens(col("text"))).as("quality_score"))
    val bySource = perDoc
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        avg(col("quality_score")).as("mean_quality"))
      // BOUNDED (|sources| rows) and consumed twice (share denominator +
      // output): without materialization, pruning specializes the two uses
      // into non-identical aggregates and the corpus is scanned twice
      // (audited: 2 scans lazy, 1 materialized — the Percentages trap)
      .transform(Barrier(_, "sources.stats"))
    val total = bySource.agg(sum(col("n_docs")).as("corpus_docs"))
    bySource
      .crossJoin(broadcast(total))
      .select(
        col("source"), col("n_docs"), col("total_tokens"),
        CrossRound.ra(col("mean_quality"), 4).as("mean_quality"),
        CrossRound.r(col("n_docs").cast("double") / col("corpus_docs") * 100.0, 4)
          .as("corpus_share_pct"))
  }

  /** Temperature-based source mixing weights: p_i ∝ n_i^alpha, normalized
    * over sources (the alpha-sampling rule from the multilingual-pretraining
    * literature — alpha=1 is natural proportions, alpha=0 uniform, 0.2-0.7
    * the usual up-weight-the-tail range). `upsample_factor` is
    * p_i / natural-share — how far each source is over/under-sampled
    * relative to its corpus presence, the number a data-loading config
    * actually consumes.
    *
    * Scale posture: one scan + one shuffle down to |sources| rows; the
    * totals are whole-frame window sums over that bounded aggregate
    * (round 16 — the PSI/DSIR bounded-global-window class, PlanAudit-
    * gated: the window sits directly above the groupBy). The earlier
    * shape materialized the aggregate with a localCheckpoint and
    * crossJoined a broadcast one-row total back in: one eager barrier
    * job plus one broadcast-build job per call, paid by every resample
    * caller (x32/x36/x53/x57), for a frame the window reads in place.
    *
    * Rounding: the normalizing sum is a float aggregate, so both outputs
    * pre-round at scale+4 before the final round (CrossRound.ra) — the
    * partition-order-drift rule; the window fold's addend order differs
    * from the old agg's exactly within the tolerance that rule already
    * absorbs (sweep-gated at both widths, oracle-gated on values).
    */
  def mixWeights(docs: DataFrame, alpha: Double): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .select(
        col("source"), col("n_docs"),
        pow(col("n_docs").cast("double"), lit(alpha)).as("w"))
      .withColumn("tot", sum(col("w")).over(wAll))
      .withColumn("corpus_docs", sum(col("n_docs")).over(wAll))
      .select(
        col("source"), col("n_docs"),
        CrossRound.ra(col("w") / col("tot"), 6).as("mix_weight"),
        CrossRound.ra(
          col("w") / col("tot") * col("corpus_docs") / col("n_docs"), 6)
          .as("upsample_factor"))
  }

  /** Materialize the corpus [[mixWeights]] prescribes: each source is
    * down-/up-sampled to its temperature weight. A doc with upsample
    * factor f gets floor(f) full copies plus one more iff its md5-derived
    * uniform u < frac(f) — so expected per-source volume is n_s * f while
    * every decision is a pure function of the keys (deterministic across
    * runs, partitionings, and engines; no rand()). copy_id distinguishes
    * replicas so a downstream shuffle/shard step can spread them.
    *
    * Scale posture: one bounded aggregate (mixWeights) broadcast back
    * onto the corpus (null-safe on source — a null source is a group,
    * and a plain equi-join would silently DROP its docs), then a
    * projection + explode; no corpus shuffle. The explode's sequence is
    * cheap column arithmetic, not a derived-array HOF (the
    * InferFiltersFromGenerate trap does not apply).
    */
  def resampleByTemperature(
      docs: DataFrame, alpha: Double, carryCols: Seq[String] = Nil): DataFrame = {
    val w = mixWeights(docs, alpha)
      .select(col("source").as("__mix_source"), col("upsample_factor"))
    // uniform in [0,1) from the first 8 md5 hex digits of the key
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val copies = floor(col("upsample_factor")).cast("int") +
      when(u < col("upsample_factor") - floor(col("upsample_factor")), 1).otherwise(0)
    docs
      .join(broadcast(w), col("source") <=> col("__mix_source"), "left")
      .withColumn("__n_copies", copies)
      // explode of an empty sequence drops the row — exactly the
      // downsample semantics for n_copies = 0
      .select(
        Seq(
          col("doc_id"), col("source"),
          explode(when(col("__n_copies") > 0,
            sequence(lit(1), col("__n_copies"))).otherwise(array().cast("array<int>")))
            .as("copy_id")) ++
          // carryCols ride the explode so a downstream packer does not
          // need a join to re-attach payload columns to each copy
          carryCols.map(col): _*)
  }

  /** C4-style per-source document cap: rank each source's docs by
    * md5(key) — a stable, engine-reproducible uniform shuffle — and keep
    * the first `maxDocs`, so no single source (one crawl domain, one
    * boilerplate-heavy dump) dominates the training mix. Deterministic:
    * the retained set is a pure function of the keys, with the key itself
    * as the tie-break.
    *
    * Scale posture: the window partitions by source, so ranking is
    * per-key parallel. A degenerately hot source (billions of docs in one
    * window partition) uses the two-phase form: the md5 order is uniform,
    * so pre-filtering to hash-prefix < ~2x the cap fraction (a pure
    * projection) bounds the exact ranking to O(maxDocs) survivors per
    * source; the cheap single-window form here is exact and right
    * whenever no one source exceeds executor-partition scale.
    */
  /** Cross-source vocabulary overlap — the corpus-composition report
    * that tells a mixing recipe which sources are near-duplicates of
    * each other at the vocabulary level (two crawls of the same site
    * overlap ~1.0; code vs prose ~0.05): exact Jaccard similarity of
    * every source pair's distinct-token sets.
    *
    * Scale shape: ONE distinct shuffle builds the (source, token)
    * vocabulary table; the pairwise intersection is a self equi-join ON
    * TOKEN whose per-token fan-out is bounded by |sources|² (never
    * corpus²) and whose pair counts partial-aggregate map-side to at
    * most |sources|²/2 cells per task; per-source sizes broadcast onto
    * the bounded pair frame. Pairs with an empty intersection don't
    * appear (inner-join semantics — the absent row IS the zero).
    */
  def sourceVocabOverlap(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .distinct()
      .transform(Barrier(_, "vocab.sources"))
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n"))
    val a = vocab.select(col("source").as("source_a"), col("token"))
    val b = vocab.select(col("source").as("source_b"), col("token"))
    a.join(b, "token")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_inter"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
  }

  def capPerSource(docs: DataFrame, keyCol: String, maxDocs: Int): DataFrame = {
    require(maxDocs > 0, "maxDocs must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    docs
      .withColumn("__cap_rn", row_number().over(w))
      .filter(col("__cap_rn") <= maxDocs)
      .drop("__cap_rn")
  }

  /** Marker-token language ID with a fixed precedence order on ties and
    * 'und' (undetermined) when no marker hits.
    */
  def langId(docs: DataFrame): DataFrame =
    withLangPred(docs.select("doc_id", "text")).select("doc_id", "lang_pred")

  /** `docs` with `lang_pred` ATTACHED (all input columns ride through) —
    * exposed (round 15) so a composed query can take the language pick
    * from a pass it already pays for instead of a separate corpus scan
    * plus a corpus-scale doc_id join back (x104 was 3 passes + 1 join;
    * riding the encode pass makes it 2 passes + 0 — guide §2.4).
    *
    * The pick is built through LAYERED NAMED ATTRIBUTES (token array →
    * five marker counts + their max → CASE over plain attributes), not
    * one inline expression tree: each alias is non-cheap and referenced
    * more than once, so CollapseProject keeps the layers apart and every
    * stage of the pick evaluates ONCE per document EVEN WHERE the
    * projection runs interpreted — measured on the fused x104: as one
    * inline tree under a Generate (whose child Project sits outside any
    * whole-stage-codegen span, so no codegen subexpression elimination)
    * the split re-evaluated O(markers²) ≈ 25× per doc, +0.6 s at sf0.1.
    * Same math, same foldRight precedence (en > de > es > fr > zh).
    */
  def withLangPred(docs: DataFrame): DataFrame = {
    val keep = docs.columns.toSeq.map(col)
    val withToks = docs.select(keep :+ tokens(lower(col("text"))).as("__lt"): _*)
    val cnts = LangMarkers.zipWithIndex.map { case ((_, words), i) =>
      countIn(col("__lt"), words).as(s"__lc$i")
    }
    val withCnts = withToks.select(keep ++ cnts: _*)
    val best = LangMarkers.indices.map(i => col(s"__lc$i")).reduce(greatest(_, _))
    val withBest = withCnts.select(
      keep ++ LangMarkers.indices.map(i => col(s"__lc$i")) :+ best.as("__lbest"): _*)
    val pick = LangMarkers.zipWithIndex.foldRight(lit("und")) { case (((lang, _), i), acc) =>
      when(col(s"__lc$i") === col("__lbest") && col("__lbest") > 0, lang).otherwise(acc)
    }
    withBest.select(keep :+ pick.as("lang_pred"): _*)
  }

  /** Pointwise-mutual-information collocations over ADJACENT token
    * pairs — the classic corpus-linguistics signal for multiword
    * expressions ("new york", "machine learning") a tokenizer/phrase
    * builder wants: PMI = ln(p(w1,w2) / (p(w1)·p(w2))) on bigram-slot
    * marginals (left-slot count for w1, right-slot for w2), with a
    * support floor so one-off pairs can't top the chart on noise.
    *
    * Scale shape: ONE corpus scan projects the pair stream; ONE shuffle
    * aggregates it to the distinct-bigram count table; marginals and
    * the total derive from THAT table (vocabulary-scale aggregates, the
    * corpus is never rescanned — the count table localCheckpoints for
    * its four consumers; persist it via a VersionedTable at 100 TB, the
    * jaccard `materialize` pattern). All PMI operands cast to double
    * BEFORE multiplying, so a web-scale c(w1)·c(w2) cannot overflow
    * int64. Top-k is a TakeOrdered on the house rank boundary
    * (round(pmi,6) DESC, then the pair).
    */
  def pmiCollocations(
      docs: DataFrame, minCount: Long = 5L, topK: Int = 20): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be positive")
    // tokenize into an ATTRIBUTE first (two projections): element_at
    // inside the transform lambda references its array argument once per
    // element — on an inline tokens() expression that re-runs the split
    // per reference, O(n^2·len) per document (the qualityScore /
    // x25-HOF lesson; measured 6s -> 0.5s on the sf0.1 pair projection)
    val t = col("__toks")
    val pairsArr = when(
      size(t) >= 2,
      transform(
        sequence(lit(1), size(t) - 1),
        i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val c12 = docs.select(tokens(col("text")).as("__toks"))
      .select(explode(pairsArr).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12"))
      .transform(Barrier(_, "pmi.c12"))
    val cL = c12.groupBy("w1").agg(sum(col("c12")).as("cl"))
    val cR = c12.groupBy("w2").agg(sum(col("c12")).as("cr"))
    val n = c12.agg(sum(col("c12")).as("n"))
    c12.filter(col("c12") >= minCount)
      .join(cL, Seq("w1"))
      .join(cR, Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("pmi",
        log((col("c12").cast("double") * col("n").cast("double")) /
          (col("cl").cast("double") * col("cr").cast("double"))))
      .select(col("w1"), col("w2"), col("c12"), col("pmi"))
      .orderBy(CrossRound.r(col("pmi"), 6).desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Per-document Shannon entropy of the token distribution —
    * H = ln(n) − (Σ c·ln c)/n over the token counts — the
    * information-density quality signal that separates natural prose
    * (high entropy) from boilerplate, keyword stuffing, and generated
    * repetition (low entropy) in a way raw repetition ratios miss:
    * a page that cycles three phrases scores low even though no single
    * line repeats. Nats, not bits (ln, portable across engines).
    *
    * Scale shape: the TF shape — one explode + one map-combinable
    * groupBy to (doc, token) counts, one more to the per-doc fold.
    * The Σ c·ln c term sums doubles in partition order, so the reported
    * entropy rides the aggregate-drift (ra) collapse downstream.
    */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("__clogc"))
      .select(
        col("doc_id"), col("n"),
        (log(col("n").cast("double")) - col("__clogc") / col("n").cast("double"))
          .as("entropy"))

  /** Document fingerprint: sha-256 over whitespace-normalized, lowercased
    * text — the canonical normalize-then-hash dedup key.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      sha2(lower(trim(regexp_replace(col("text"), "\\s+", " "))), 256).as("fingerprint"))

  /** TF-IDF top-k terms per document — the classic relevance/keyword
    * extraction over a corpus. Smoothed sklearn-style idf:
    * `ln((N + 1) / (df + 1)) + 1` (never zero, never negative), score =
    * tf * idf. Ranking ties break on `round(score, 6)` then token, so
    * last-ulp ln() differences between engines can never flip a rank.
    *
    * Scale posture: tf shuffles ONCE on (doc_id, token) and is
    * materialized (localCheckpoint, spilling blocks) because two consumers
    * need it — the score join and the document-frequency rollup — and
    * column pruning would otherwise specialize each use into
    * non-identical subtrees that ReuseExchange cannot collapse,
    * re-tokenizing the corpus per use (the same multi-use trap
    * Percentages documents). localCheckpoint over persist() deliberately:
    * a cache entry leaks in the CacheManager until an explicit unpersist
    * (which a function returning a lazy frame has no safe point to call),
    * while checkpoint blocks are reclaimed by the ContextCleaner when the
    * frame becomes unreferenced. tf is corpus-scale, so a production
    * pipeline passes a `materialize` sink and the frame persists as a
    * [[graft.sources.VersionedTable]] snapshot instead — fault-tolerant
    * and resumable (same caveat as Percentages.percentagesSingleScan).
    * Document frequency
    * aggregates to vocabulary size and joins back on token (AQE
    * broadcasts it when the vocabulary is small); the corpus size joins
    * as a broadcast scalar — no driver-side count. The final top-k is a
    * window over doc_id — the same key tf already shuffled on.
    */
  def tfidfTopTerms(
      docs: DataFrame,
      topK: Int = 3,
      materialize: Option[graft.sources.VersionedTable] = None): DataFrame = {
    val tf = graft.sources.VersionedTable.materialize(
      docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("tf")),
      materialize, "tfidf.tf")
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("dfreq"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "score",
        col("tf") * (log((col("n_docs") + 1.0) / (col("dfreq") + 1.0)) + 1.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      // CrossRound.r, not plain round: the rank bucketing must match the
      // DuckDB oracle's multiply-based round(score, 6) on repr-tie values
      // (the 12.34565 class), or top-k membership can flip across engines
      .orderBy(CrossRound.r(col("score"), 6).desc, col("token"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("doc_id", "rank", "token", "score")
  }

  /** BM25 keyword retrieval: score every document against a fixed bag of
    * query terms (Robertson/Spärck Jones probabilistic relevance; the
    * Lucene-standard formulation with the +1-smoothed non-negative idf)
    * and return the top-k. The retrieval primitive a corpus-curation
    * stack uses to pull topic slices out of a 100 TB crawl.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).
    *
    * Scale shape: the corpus-wide work is TWO scans — the (N, avgdl)
    * stats aggregate and the scoring pass (token explode is filtered to
    * the query terms before the tf groupBy, so the shuffle carries
    * query-matching postings only — at 100 TB that is the postings list
    * for |q| terms, not the corpus); df-per-term rides a window over
    * those filtered postings rather than a groupBy+join that would
    * re-derive the explode subtree and pay a third scan. Repeated
    * queries should not pay even the two: [[bm25SaveIndex]] /
    * [[bm25TopKIndexed]] is this operator's serving layout, where a
    * query reads only its own terms' index buckets. Top-k is a
    * TakeOrdered, never a single-partition global sort. Ranking ties break on the 6-dp
    * rounded score then doc_id ([[tfidfTopTerms]]' cross-engine rank
    * convention) so ln() ulp drift cannot flip the top-k boundary.
    */
  def bm25TopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val dl = docs.select(
      col("doc_id"),
      tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("double").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val qtf = dl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .filter(col("token").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).cast("double").as("tf"))
    // df-per-term as a window over the ALREADY-FILTERED postings — a
    // groupBy+join would re-derive qtf's subtree and re-scan (and
    // re-tokenize) the whole corpus a third time; the window shuffles
    // only the |q|-term postings
    qtf
      .withColumn("dfreq",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("token"))
          .cast("double"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5) + 1.0))
      .withColumn("w",
        col("idf") * (col("tf") * (k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum("w").as("score"))
      .orderBy(CrossRound.r(col("score"), 6).desc, col("doc_id"))
      .limit(topK)
  }

  /** The BM25 SERVING index — the postings build of the retrieval path.
    * Row grain is (token, doc_id): term frequency plus the document
    * length replicated onto every posting, so query-time scoring never
    * touches (or re-tokenizes) the corpus text again. One tokenize pass,
    * one shuffle on (token, doc_id, dl) — the nightly indexing job.
    */
  def bm25Postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("token"))
      .groupBy("token", "doc_id", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))

  /** Reserved token key of the index's collection-stats LEDGER rows (see
    * [[bm25SaveIndex]]): starts with NUL, which whitespace tokenization
    * of any real text never produces, so it cannot collide with a corpus
    * token or a caller's query term ([[bm25TopKIndexed]] rejects it
    * defensively).
    */
  val Bm25StatsToken = "\u0000bm25_stats"

  /** One ledger row for a (sub)corpus: (token = the reserved key,
    * doc_id = -1, dl = Σ document lengths, tf = document count) — the
    * batch's contribution to the collection stats, shaped as a postings
    * row so it commits IN the postings write.
    */
  private def bm25StatsLedger(docs: DataFrame): DataFrame =
    docs.select(size(tokens(col("text"))).cast("double").as("dl"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        coalesce(sum(col("dl")), lit(0.0)).as("s"))
      .select(
        lit(Bm25StatsToken).as("token"), lit(-1L).as("doc_id"),
        col("s").as("dl"), col("n").as("tf"))

  /** The (n_docs, avgdl) stats frame of an index, derived from its ledger
    * rows: n = Σ ledger tf, avgdl = Σ ledger dl / n (exactly Spark's own
    * avg = sum/count decomposition). The token filter bucket-prunes to
    * the ledger's single bucket — reading stats never scans postings.
    * An empty index yields (0, 0.0), never a null unboxing (the round-9
    * ADVICE NPE lived in the predecessor's stats-file read).
    */
  def bm25Stats(postings: DataFrame): DataFrame =
    postings.filter(col("token") === Bm25StatsToken)
      .agg(
        coalesce(sum(col("tf")), lit(0.0)).as("nd"),
        coalesce(sum(col("dl")), lit(0.0)).as("sd"))
      .select(
        col("nd").as("n_docs"),
        when(col("nd") > 0, col("sd") / col("nd")).otherwise(lit(0.0)).as("avgdl"))

  /** Persist the BM25 index: postings as a TOKEN-BUCKETED catalog table
    * (`graft.sources.Bucketed` — the layout contract that makes a query
    * read only its own terms' buckets). The collection-stats pair
    * (N, avgdl) every BM25 engine stores in its index metadata rides
    * INSIDE the same table as reserved-key ledger rows
    * ([[Bm25StatsToken]]) rather than as a side file: index data and
    * index stats are then ONE storage object with one commit, which is
    * what makes [[bm25AppendIndex]] atomic. Build cost is one corpus
    * scan; after it, queries are index-only.
    */
  def bm25SaveIndex(
      docs: DataFrame,
      table: String,
      path: String,
      buckets: Int): Unit =
    graft.sources.Bucketed.save(
      bm25Postings(docs).unionByName(bm25StatsLedger(docs)),
      table, path + "/postings", Seq("token"), buckets)

  /** Append a batch of NEW documents into an existing BM25 index — the
    * daily-ingest commit of the serving path. The batch's postings
    * re-hash into the table's bucket spec ([[graft.sources.Bucketed
    * .append]] validates (keys, buckets) against the catalog, so a
    * mis-specified append fails fast instead of breaking the layout),
    * and the batch's stats-ledger row (m docs, Σ batch dl) travels IN
    * the same single append — a crash can lose the whole batch (retry
    * it) but can never publish postings without their stats delta or
    * vice versa; the round-9 two-commit crash window is gone by
    * construction, not by recovery. Per-batch cost scales with the
    * BATCH — the committed corpus is never re-read. Caller contract:
    * batch doc_ids are new (re-appending a doc would double-count its
    * postings — dedup upstream, the x29b ingest discipline).
    */
  def bm25AppendIndex(
      newDocs: DataFrame,
      table: String,
      buckets: Int): Unit =
    graft.sources.Bucketed.append(
      bm25Postings(newDocs).unionByName(bm25StatsLedger(newDocs)),
      table, Seq("token"), buckets)

  /** Query-time BM25 over a prebuilt postings index — the SERVING shape
    * of [[bm25TopK]] (identical scoring formula and tie convention;
    * TextOpsSpec pins row agreement). What changes is the per-query
    * cost model, which is the whole point at 100 TB:
    *
    *   - the corpus text is never read: the scan is the postings table
    *     FILTERED to the query terms, and because the table is bucketed
    *     by token the filter prunes to ⌈|q|⌉ buckets at the source
    *     (`SelectedBucketsCount` in the plan — the other buckets' files
    *     are never opened);
    *   - df-per-term aggregates exchange-free on the bucketed layout
    *     (postings arrive already hash-partitioned by token);
    *   - everything downstream of the filter is |q|-term-postings-sized:
    *     the only shuffle carries the matched postings to their doc_id
    *     groups, and top-k is a TakeOrdered.
    *
    * `stats` is the one-row (n_docs, avgdl) frame [[bm25Stats]] derives
    * from the index's ledger rows — broadcast in, exactly like
    * [[bm25TopK]]'s inline aggregate, so the float op order (and thus
    * the scores) match the direct path.
    */
  def bm25TopKIndexed(
      postings: DataFrame,
      stats: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(!queryTerms.contains(Bm25StatsToken),
      "the stats-ledger key is reserved and never a query term")
    // df-per-term as a window, not a groupBy+join back: the join form
    // would scan the (pruned) postings twice; on the token-bucketed
    // layout this window is exchange-free on top of one pruned scan
    postings.filter(col("token").isin(queryTerms: _*))
      .withColumn("dfreq",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("token"))
          .cast("double"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5) + 1.0))
      .withColumn("w",
        col("idf") * (col("tf") * (k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum("w").as("score"))
      .orderBy(CrossRound.r(col("score"), 6).desc, col("doc_id"))
      .limit(topK)
  }

  /** Skip-gram training-pair generation with word2vec frequency
    * subsampling (Mikolov et al. 2013 §2.3) — the corpus-to-(center,
    * context) transform every embedding pretraining run starts from.
    * Frequent words drop with P(keep) = min(1, √(t/f(w))) BEFORE
    * windowing, so surviving words' contexts widen across the gaps —
    * the published behavior. The keep decision is the md5-uniform
    * trick (x36): u from md5(doc_id:pos) is an engine-reproducible
    * uniform, so the sampled corpus is a pure function of the data —
    * replayable, oracle-checkable, and identical across cluster runs.
    *
    * Shapes: one corpus scan → the vocab-BOUNDED frequency table (its
    * total via a window over vocabulary, never a second corpus pass,
    * never a 1-row crossJoin) broadcast back; ONE doc-keyed window
    * computes all `window` lead() contexts; pairs emit through a
    * null-filtered array explode in a single projection (no per-offset
    * re-reads); final counts groupBy a vocab²-bounded key. Every keep
    * threshold is single-op IEEE math (÷, √) on exact longs — bitwise
    * engine-portable.
    */
  def skipgramPairs(
      docs: DataFrame,
      window: Int = 2,
      subsampleT: Double = 0.01): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(subsampleT > 0, s"subsample threshold must be positive: $subsampleT")
    val occ = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .filter(length(col("token")) > 0)
    val freq = occ.groupBy("token").agg(count(lit(1)).as("n"))
      .withColumn(
        "total",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
    // u keyed on (doc_id, 1-based pos) — the oracle's subscript base
    val u = conv(
      substring(
        md5(concat(
          col("doc_id").cast("string"), lit(":"),
          (col("pos") + 1).cast("string"))), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val kept = occ.join(broadcast(freq), Seq("token"))
      .filter(u < sqrt(
        lit(subsampleT) / (col("n").cast("double") / col("total").cast("double"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val led = kept.select(
      col("token") +:
        (1 to window).map(j => lead(col("token"), j).over(w).as(s"c$j")): _*)
    val pairArr = array((1 to window).flatMap(j =>
      Seq(
        struct(col("token").as("center"), col(s"c$j").as("context")),
        struct(col(s"c$j").as("center"), col("token").as("context")))): _*)
    led
      .select(explode(filter(
        pairArr, p => p.getField("context").isNotNull && p.getField("center").isNotNull))
        .as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Exact phrase search — every occurrence of `phrase` as ADJACENT
    * tokens, per document: (doc_id, n_matches, first_pos), positions
    * 0-based in token space. The retrieval primitive BM25's bag-of-words
    * scoring cannot express ("new york" as a unit, an exact quoted
    * query, a citation string).
    *
    * Shape — the anchor trick, ONE shuffle, no k-way self-join: an
    * occurrence of phrase token i at position p can only belong to a
    * match STARTING at p − i, so each phrase-token occurrence maps to
    * its (doc, anchor) and a match is an anchor holding all k phrase
    * positions. The classic positional-index formulation joins k
    * posting lists on (doc, pos+offset) — k−1 shuffles of corpus-scale
    * postings; this is one groupBy over PHRASE-TERM occurrences only,
    * because the isin filter cuts every non-phrase token before
    * anything shuffles (the x62 move: the corpus never shuffles for a
    * query, the query's own postings do). Repeated phrase tokens are
    * handled by construction — an occurrence fans out to one anchor
    * per index it could serve — and (doc, anchor, i) is unique (two
    * occurrences of the same i cannot share an anchor), so count(*)
    * = matched positions, = k exactly when the whole phrase sits at
    * the anchor. Anchors from a token too close to the doc start
    * (anchor < 0) can never reach k and need no explicit guard, but
    * the filter keeps them out of the groupBy anyway.
    */
  def phraseOccurrences(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    val k = phrase.length
    val spark = docs.sparkSession
    import spark.implicits._
    val idx = broadcast(phrase.zipWithIndex.toDF("token", "i"))
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .filter(col("token").isin(phrase.distinct: _*))
      .join(idx, Seq("token"))
      .select(col("doc_id"), (col("pos") - col("i")).as("anchor"))
      .filter(col("anchor") >= 0)
      .groupBy("doc_id", "anchor")
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === k)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_matches"),
        min(col("anchor")).cast("long").as("first_pos"))
  }

  // -------------------------------------------------------------------
  // BPE merge training (Sennrich, Haddow, Birch 2016, "Neural Machine
  // Translation of Rare Words with Subword Units") — tokenizer induction,
  // the step every LLM pipeline runs before anything tokenizes. The
  // standard form: ONE distributed corpus scan builds the (word, freq)
  // table — pair counts weight by word frequency, so the corpus is never
  // rescanned — and the merge loop fits driver-side over that bounded
  // table (Heaps' law: vocabulary is orders of magnitude smaller than
  // the corpus at 100 TB).
  // -------------------------------------------------------------------

  /** The trained model: one merge per rank, most-frequent pair first. */
  final case class BpeMerge(rank: Int, left: String, right: String, count: Long)

  /** Train `numMerges` BPE merges over the corpus.
    *
    * Division of labor (how every production tokenizer trainer works —
    * the merge loop in SentencePiece/HF-tokenizers is single-machine):
    * the CORPUS-scale work is the word-frequency count — one distributed
    * scan + one shuffle — and the merge loop then runs DRIVER-SIDE over
    * that bounded table. The collect is capped at `maxVocab` words by
    * frequency (deterministic: freq desc, then word), the same
    * highest-frequency-prefix cap real trainers apply; vocabulary is
    * orders of magnitude smaller than the corpus (Heaps' law), so this
    * is bounded model-fit state like PQ codebooks, not data on the
    * driver. A first cut of this operator ran the merge loop as
    * checkpointed DataFrame iterations: 20 merges = 20 sequential job
    * barriers of pure scheduling cost (~4 s at sf0.1) for work a driver
    * loop does in microseconds — the distributed form was strictly worse
    * at every scale.
    *
    * Merge selection: max summed frequency, ties to the lexicographically
    * smallest (left, right); merging is the greedy-leftmost fold of the
    * reference implementation (a merged symbol can immediately serve as
    * the left side of the next occurrence). Stops early when no pair
    * occurs twice.
    */
  /** Code-point lexicographic string order — identical to comparing the
    * UTF-8 encodings byte by byte, which is what both Spark's UTF8String
    * sort and DuckDB's string/struct sort do. Used wherever a driver-side
    * tie-break must agree with an engine- or oracle-side sort.
    */
  private[operators] val codePointOrdering: Ordering[String] =
    new Ordering[String] {
      def compare(x: String, y: String): Int = {
        var i = 0
        var j = 0
        while (i < x.length && j < y.length) {
          val cx = x.codePointAt(i)
          val cy = y.codePointAt(j)
          if (cx != cy) return Integer.compare(cx, cy)
          i += Character.charCount(cx)
          j += Character.charCount(cy)
        }
        Integer.compare(x.length - i, y.length - j)
      }
    }

  def bpeMerges(docs: DataFrame, numMerges: Int, maxVocab: Int = 100000): Seq[BpeMerge] = {
    require(numMerges >= 1, "numMerges must be positive")
    val words = docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(maxVocab)
      .collect() // bounded: maxVocab (word, freq) rows — model-fit input
      .map(r => (r.getString(0), r.getLong(1)))
    // code-point split (not Java chars): keeps supplementary-plane
    // characters whole, matching BpeApplyExpr's encode-side splitting
    def cpSyms(w: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        out += w.substring(i, i + n)
        i += n
      }
      out.result()
    }
    var vocab = words.map { case (w, f) => (cpSyms(w), f) }
    val merges = Seq.newBuilder[BpeMerge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          counts(key) = counts.getOrElse(key, 0L) + f
          i += 1
        }
      }
      // tie-break by CODE-POINT order (== UTF-8 byte order), matching the
      // x42 oracle's DuckDB struct sort. Java String ordering compares
      // UTF-16 code units, which sorts supplementary-plane symbols
      // (surrogates 0xD800-0xDFFF) BELOW BMP symbols in [U+E000, U+FFFF] —
      // a tie between "𝄞x" and "私x" would pick differently per side.
      val pairOrd = Ordering.Tuple3(Ordering.Long, codePointOrdering, codePointOrdering)
      val best =
        if (counts.isEmpty) None
        else Some(counts.minBy { case ((a, b), n) => (-n, a, b) }(pairOrd))
      best match {
        case Some(((l, r), cnt)) if cnt >= 2 =>
          merges += BpeMerge(rank, l, r, cnt)
          vocab = vocab.map { case (syms, f) =>
            val out = Vector.newBuilder[String]
            var last: String = null
            syms.foreach { x =>
              if (last == l && x == r) {
                // drop the pending `l`, emit the merged symbol instead
                last = l + r
              } else {
                if (last != null) out += last
                last = x
              }
            }
            if (last != null) out += last
            (out.result(), f)
          }
          rank += 1
        case _ => exhausted = true
      }
    }
    merges.result()
  }

  /** The trained merge table as a DataFrame — the query-surface form
    * (rank, left, right, merged, pair_count).
    */
  def bpeMergeTable(docs: DataFrame, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMerges(docs, numMerges)
      .map(m => (m.rank.toLong, m.left, m.right, m.left + m.right, m.count))
      .toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Segment every word of the corpus with a trained merge list — the
    * encode side of BPE, and open-vocabulary by construction (unseen
    * words start from characters like everything else). One projection:
    * [[graft.functions.BpeApplyExpr]] keeps the per-word merge loop
    * inside whole-stage codegen, so segmentation runs at scan speed with
    * the merge list as broadcast-free bounded model state — the corpus
    * never shuffles.
    *
    * @return (doc_id, pos, word, subwords)
    */
  def bpeSegments(
      docs: DataFrame, merges: Seq[BpeMerge], carryCols: Seq[String] = Nil): DataFrame =
    // carryCols (round 15, the encodeDocs/packSequences convention):
    // doc-level columns ride the explode so a consumer that needs them
    // per doc (x82's lang rollup) skips a corpus-scale doc_id join
    // against a separate corpus pass
    docs
      .select(
        (col("doc_id") +: carryCols.map(col)) :+
          posexplode(tokens(col("text"))).as(Seq("pos", "word")): _*)
      .filter(length(col("word")) > 0)
      .select(
        Seq(col("doc_id"), col("pos"), col("word")) ++ carryCols.map(col) :+
          graft.functions.BpeApplyExpr.bpeApply(col("word"), merges).as("subwords"): _*)

  /** CCNet-style unigram language-model quality signal (Wenzek et al.
    * 2020 score documents with a 5-gram KenLM; the unigram restatement
    * keeps the same "how typical of the corpus is this document" signal
    * while staying fully SQL-expressible): per document, the
    * frequency-weighted mean natural-log probability of its tokens under
    * the corpus unigram distribution p(t) = freq(t) / total_tokens.
    * Common-vocabulary prose scores high; rare-token garbage, wrong-
    * language, and OCR noise score low — the standard perplexity-bucket
    * filter signal (perplexity = exp(-logprob) per token).
    *
    * Shape: one (doc, token) tf aggregate — materialized, exactly like
    * [[tfidfTopTerms]]' tf, because BOTH the vocabulary frequency table
    * and the per-doc join read it (unmaterialized, the corpus would be
    * tokenized twice) — then a vocabulary-sized freq aggregate, a
    * token-keyed join back, one per-doc aggregate. The corpus total joins
    * as a broadcast scalar, never a driver-side count. At 100 TB the tf
    * frame persists as a table via the same `materialize` hook as
    * [[tfidfTopTerms]].
    */
  def unigramLogProb(
      docs: DataFrame,
      materialize: Option[graft.sources.VersionedTable] = None): DataFrame = {
    val tf = graft.sources.VersionedTable.materialize(
      docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("tf")),
      materialize, "unigram.tf")
    val freq = tf.groupBy("token").agg(sum(col("tf")).as("freq"))
    val total = freq.agg(sum(col("freq")).as("total_tokens"))
    tf.join(freq, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).cast("long").as("n_tokens"),
        (sum(col("tf").cast("double") *
          log(col("freq").cast("double") / col("total_tokens").cast("double"))) /
          sum(col("tf")).cast("double")).as("logprob"))
  }

  /** Feature-hashed character-n-gram document embeddings (Weinberger
    * et al. 2009, "Feature Hashing for Large Scale Multitask Learning")
    * — the MODEL-FREE text→vector bridge: no trained encoder, no
    * vocabulary table, just one hash per n-gram, so the `documents`
    * table can feed the embedding-side stack (cosine near-dup,
    * SemDeDup, ANN) without any fitted state to version.
    *
    * Each char n-gram hashes once (xxhash64, Spark's default seed);
    * bit 0 is the Rademacher sign, the REMAINING bits pick the bucket —
    * deriving both from one hash is safe exactly because the sign bit
    * is shifted out of the bucket index (a `h mod 2` sign with an even
    * `dim` would tie sign to bucket parity and collapse the sketch).
    * Output is the SPARSE cell grain `(doc_id, bucket, v)` with
    * v = Σ signs — all-integer, so the whole derivation hash-gates
    * exactly (x69 recomputes every gram hash through the XxHash64Sql
    * mirror); zero-sum cells are omitted, and docs shorter than n have
    * no cells (the zero vector). One projection+explode, one shuffle
    * on (doc_id, bucket).
    */
  def hashedNgramEmbedding(
      docs: DataFrame,
      n: Int = 3,
      dim: Int = 16,
      spread: Int = 0): DataFrame = {
    require(n >= 1, "n-gram size must be positive")
    require(dim >= 2, "dimension must be at least 2")
    val h = xxhash64(col("w"))
    // `spread`: opt-in pre-explode repartition for inputs whose scan
    // yields fewer splits than cores (a single small fixture file) —
    // the explode fans each row out ~|text| times, so an unsplit input
    // serializes that fan-out on one task. At target scale the scan
    // already arrives in many splits and the extra text shuffle is
    // pure waste: leave 0. Results identical either way (hash-gated).
    val in = if (spread > 0) docs.repartition(spread) else docs
    in
      .filter(length(col("text")) >= n)
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(1, length(text) - ${n - 1}), i -> substring(text, i, $n))"))
          .as("w"))
      .select(col("doc_id"),
        pmod(shiftrightunsigned(h, 1), lit(dim.toLong)).as("bucket"),
        when(h.bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L).as("sign"))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("sign")).as("v"))
      .filter(col("v") =!= 0)
  }

  /** [[hashedNgramEmbedding]] densified to the `embedding` array shape
    * the Similarity stack consumes (`Array[Float]`, missing cells 0) —
    * float is exact here (|v| ≤ gram count ≪ 2^24). Adds one per-doc
    * aggregate over the sparse cells.
    */
  def hashedNgramEmbeddingDense(
      docs: DataFrame, n: Int = 3, dim: Int = 16, spread: Int = 0): DataFrame =
    hashedNgramEmbedding(docs, n, dim, spread)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("v")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i.cast("long")), lit(0L)).cast("float"))
          .as("embedding"))

  /** Per-position bigram rows — `(doc_id, w1, w2, tf)` with tf the
    * within-doc count of the ordered pair. zip_with over two slices:
    * pure projection + explode, no shuffle until the tf groupBy;
    * single-token docs produce zero rows (slice(…, 2, 0) is empty).
    */
  private def bigramTf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("tf"))

  /** Bigram LM fluency scoring with STUPID BACKOFF (Brants et al. 2007
    * — the web-scale LM smoothing that needs only counts, no held-out
    * discounting), the context-aware upgrade of [[unigramLogProb]] and
    * the closest count-based analog of CCNet's KenLM gate: the LM
    * trains on a REFERENCE corpus (`lmDocs` — the Wikipedia of the
    * CCNet recipe) and scores a different, usually much larger, corpus.
    *
    * S(w₂|w₁) = c(w₁w₂)/c(w₁) when the LM saw the bigram, else
    * α·(c(w₂)+1)/(N+V) — the backoff leg is the add-one-smoothed
    * unigram so unseen words (c=0, inevitable when scoring a crawl
    * against a reference LM) get a finite floor instead of ln 0.
    * `logprob` = frequency-weighted mean ln S over the doc's bigram
    * positions; docs with < 2 tokens keep a row (n_bigrams = 0, null
    * score) so the operator is total.
    *
    * Scale shape: LM counts are two bounded aggregates over the
    * REFERENCE corpus (bigram + unigram tables — Wikipedia-scale, not
    * crawl-scale); the scored side shuffles once into per-doc bigram
    * tf, joins the LM tables on their natural keys, and reduces back
    * to one row per doc. (N, V) ride a broadcast scalar row.
    */
  def bigramLogProb(
      docs: DataFrame,
      lmDocs: DataFrame,
      alpha: Double = 0.4): DataFrame = {
    val lmBigrams = bigramTf(lmDocs)
      .groupBy("w1", "w2").agg(sum(col("tf")).as("bc"))
    val lmUni = lmDocs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val lmStats = lmUni.agg(
      sum(col("c")).cast("double").as("lm_n"),
      count(lit(1)).cast("double").as("lm_v"))
    val scored = bigramTf(docs)
      .join(lmBigrams, Seq("w1", "w2"), "left")
      .join(lmUni.select(col("token").as("w1"), col("c").as("c1")), Seq("w1"), "left")
      .join(lmUni.select(col("token").as("w2"), col("c").as("c2")), Seq("w2"), "left")
      .crossJoin(broadcast(lmStats))
      .withColumn("s",
        when(col("bc").isNotNull,
          col("bc").cast("double") / col("c1").cast("double"))
          .otherwise(lit(alpha) *
            (coalesce(col("c2"), lit(0L)).cast("double") + 1.0) /
            (col("lm_n") + col("lm_v"))))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).cast("long").as("n_bigrams"),
        (sum(col("tf").cast("double") * log(col("s"))) /
          sum(col("tf")).cast("double")).as("logprob"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): rank
    * every document by its LM score and split the corpus into
    * head/middle/tail thirds — the standard quality gate (train on head,
    * sample middle, drop or audit tail). Fluency here is
    * [[unigramLogProb]]; higher mean log-probability = lower perplexity
    * = head.
    *
    * Scale shape: the two cut points are GLOBAL percentiles broadcast
    * back — never an ntile/window over one partition, which would
    * single-thread the corpus sort. The default exact `percentile` is
    * the ORACLE surface, but it buffers one entry per distinct double on
    * the final reducer (the same caveat as [[tokenDistribution]]) — at
    * 100 TB pass `approx = true` for the fixed-memory
    * `approx_percentile` sketch cuts. Bucket comparisons go through
    * CrossRound.ra on BOTH sides (these are AGGREGATE-fed doubles —
    * plain 6-dp rounding would leave partition-order ulp drift able to
    * flip a bucket at a rounding tie, CrossRound trap #3).
    */
  def perplexityBuckets(docs: DataFrame, approx: Boolean = false): DataFrame = {
    // one row per doc, consumed twice (cut aggregate + bucket join)
    val scored = Barrier(unigramLogProb(docs), "ppl.scored")
    val fn = if (approx) "approx_percentile" else "percentile"
    val cuts = scored.agg(
      expr(s"$fn(logprob, ${2.0 / 3})").as("head_cut"),
      expr(s"$fn(logprob, ${1.0 / 3})").as("mid_cut"))
    def r6(c: Column): Column = CrossRound.ra(c, 6)
    scored
      .crossJoin(broadcast(cuts))
      .select(
        col("doc_id"), col("n_tokens"), col("logprob"),
        when(r6(col("logprob")) >= r6(col("head_cut")), "head")
          .when(r6(col("logprob")) >= r6(col("mid_cut")), "middle")
          .otherwise("tail")
          .as("bucket"))
  }

  /** Token 3-gram shingles, exploded to one row per (doc_id, shingle) —
    * the substrate for MinHash/Jaccard (Dedup). Distinct within doc.
    */
  /** Distinct token n-gram shingles from an ALREADY-MATERIALIZED token
    * array column. `toks` must be a bound attribute: the lambda references
    * it once per element_at, and an inline expression tree would be
    * re-evaluated per reference (quadratic in document length — see
    * Dedup.gramHashesFromTokenHashes for the same pattern). Guard: Spark's
    * sequence(1, 0) generates a DESCENDING range, so short documents get
    * an explicit empty shingle set.
    */
  def shingleArrayFromTokens(toks: Column, n: Int = 3, distinct: Boolean = true): Column = {
    val all = when(
      size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
    if (distinct) array_distinct(all) else all
  }

  /** (doc_id, shingle_arr) with the token array materialized first. The
    * short-doc filter runs UP FRONT on the raw text — a filter placed
    * after the gram projection would be pushed below it by
    * PushDownPredicate with the whole gram expression inlined, and the
    * lambda-internal token references would then re-split the text per
    * array element (quadratic; observed 25x at bench scale).
    */
  private[graft] def shingleFrame(docs: DataFrame, n: Int, distinct: Boolean = true): DataFrame =
    docs
      .filter(size(tokens(col("text"))) >= n)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shingleArrayFromTokens(col("toks"), n, distinct).as("shingle_arr"))

  /** explode_outer, not explode: a non-outer Generate gets an inferred
    * `size(arr) > 0` filter (InferFiltersFromGenerate) which downstream
    * alias substitution pushes to the scan with the WHOLE shingle
    * expression inlined — tokenize+gram evaluated twice per row (third
    * sighting of the pushed-filter trap; PlanAudit's HOF rule caught it in
    * x22). shingleFrame's upfront token-count filter guarantees non-empty
    * arrays, so outer explode is semantically identical and dodges the
    * inference.
    */
  def shingles(docs: DataFrame, n: Int = 3, distinct: Boolean = true): DataFrame =
    shingleFrame(docs, n, distinct)
      .select(col("doc_id"), explode_outer(col("shingle_arr")).as("shingle"))

  /** Per-doc distinct shingle count (oracle-checkable view of the shingle
    * layer). Computed as a per-row projection — no explode, no shuffle;
    * docs shorter than n tokens are excluded (same domain as [[shingles]]).
    */
  def shingleStats(docs: DataFrame, n: Int = 3): DataFrame =
    shingleFrame(docs, n)
      .select(col("doc_id"), size(col("shingle_arr")).cast("long").as("n_shingles"))

  // -------------------------------------------------------------------
  // Corpus distribution statistics: the length/token histograms every
  // data-curation report starts from.
  // -------------------------------------------------------------------

  /** Exact token-count distribution (min/quartiles/p95/max) over the
    * corpus — one row. EXACT `percentile` is the oracle-verifiable
    * reference semantics; it sorts each group on a single reducer, so at
    * 100 TB call [[tokenDistributionApprox]] instead (mergeable
    * Greenwald-Khanna sketch, map-side combinable — TextOpsSpec bounds its
    * error against this exact form).
    */
  def tokenDistribution(docs: DataFrame): DataFrame =
    distributionOf(tokenStats(docs), exact = true)

  /** Sketch-based distribution — the 100 TB path (approx_percentile). */
  def tokenDistributionApprox(docs: DataFrame): DataFrame =
    distributionOf(tokenStats(docs), exact = false)

  /** Corpus cardinality report per ingest source: document count,
    * distinct languages, total characters, and distinct-token VOCABULARY
    * — the governance numbers a corpus curator tracks per source.
    *
    * `approx = true` swaps exact COUNT(DISTINCT) for the HLL++ sketch
    * (`approx_count_distinct`) — the 100 TB path: one pass with fixed
    * memory per group instead of an exact-distinct re-shuffle of the
    * exploded token frame (SURVEY §2.4's free sketch). The exact form is
    * the oracle surface (COUNT(DISTINCT) is engine-portable; HLL sketch
    * values are not); TextOpsSpec pins the sketch within 5% of exact.
    *
    * Doc-level stats aggregate the raw table (one row per doc, cheap) and
    * vocabulary aggregates the exploded token frame separately — joining
    * two source-keyed aggregates beats one countDistinct(doc_id) pass
    * over the token explosion, which would re-count each doc once per
    * token.
    */
  def corpusCardinality(docs: DataFrame, approx: Boolean = false): DataFrame = {
    def cd(c: Column): Column =
      if (approx) approx_count_distinct(c) else countDistinct(c)
    val stats = docs
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        cd(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"))
    val vocab = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source")
      .agg(cd(col("token")).as("vocabulary"))
    // LEFT join + 0 default: a source whose documents all have null text
    // produces no token rows at all — an inner join would silently drop
    // the source from the governance report despite its real documents
    stats
      .join(vocab, Seq("source"), "left")
      .na.fill(0, Seq("vocabulary"))
  }

  private def distributionOf(stats: DataFrame, exact: Boolean): DataFrame = {
    val fn = if (exact) "percentile" else "approx_percentile"
    stats.agg(
      count(lit(1)).as("n_docs"),
      min(col("n_tokens")).as("min_tokens"),
      expr(s"$fn(n_tokens, 0.25)").as("p25"),
      expr(s"$fn(n_tokens, 0.5)").as("p50"),
      expr(s"$fn(n_tokens, 0.75)").as("p75"),
      expr(s"$fn(n_tokens, 0.95)").as("p95"),
      max(col("n_tokens")).as("max_tokens"),
      // ra: the mean is an aggregate — exact while integer token counts
      // sum below 2^53, but at 100 TB the sum leaves the exact range and
      // accumulation order starts to matter
      CrossRound.ra(avg(col("n_tokens")), 4).as("mean_tokens"))
  }

  // -------------------------------------------------------------------
  // PII scrubbing: the redaction pass every training-data pipeline runs
  // before release. Regexes use only syntax shared by Java regex (Spark)
  // and RE2 (DuckDB/production scanners) — no backreferences, no
  // lookaround — so the same patterns run anywhere.
  // -------------------------------------------------------------------

  val UrlRe = "https?://\\S+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** Per-document PII hit counts — the audit/reporting side of scrubbing. */
  def piiStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).cast("long").as("n_urls"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"))

  /** Redact URLs, then emails, then phone numbers (order matters: a URL
    * can embed an @ that the email pattern would half-match). Pure
    * projection — codegen'd regexp_replace, no shuffle.
    */
  def redactPii(docs: DataFrame): DataFrame =
    redactText(docs, Seq(
      ("url", UrlRe, "[URL]"),
      ("email", EmailRe, "[EMAIL]"),
      ("phone", PhoneRe, "[PHONE]")))
      .select(col("doc_id"), col("text_redacted").as("clean"))

  // -------------------------------------------------------------------
  // Benchmark-contamination check: flag documents sharing n-gram shingles
  // with a banned corpus (eval sets, test benchmarks) — the standard
  // n-gram-overlap decontamination pass (cf. GPT-2/GPT-3 appendix
  // methodology, public knowledge).
  // -------------------------------------------------------------------

  /** Per-document count of distinct shingles shared with ANY banned doc,
    * plus the `contaminated` flag (>= minShared). Every input doc gets a
    * row (0 for docs too short to shingle).
    *
    * Scale posture: one shuffle on the shingle string for the semi join
    * (AQE broadcasts the banned set when it is small — the common case:
    * benchmarks are tiny next to a training corpus); the grouped count
    * shuffles on doc_id. No all-pairs product anywhere.
    */
  /** Shared assembly tail for the contamination reports: re-attach the
    * per-doc shared-shingle counts to EVERY doc (zero for the clean ones)
    * and apply the flag threshold — one definition so the exact and the
    * bloom variants cannot drift apart.
    */
  private def sharedCountReport(
      docs: DataFrame,
      counts: DataFrame,
      countCol: String,
      flagCol: String,
      minShared: Int): DataFrame =
    docs
      .select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col(countCol), lit(0L)).as(countCol),
        (coalesce(col(countCol), lit(0L)) >= minShared).as(flagCol))

  def contamination(docs: DataFrame, banned: DataFrame, minShared: Int = 2): DataFrame = {
    val docSh = shingles(docs) // distinct within doc already
    val banSh = shingles(banned).select("shingle").distinct()
    val shared = docSh
      .join(banSh, Seq("shingle"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
    sharedCountReport(docs, shared, "n_shared_shingles", "contaminated", minShared)
  }

  /** Bloom-filter decontamination — the sketch path for [[contamination]]
    * at 100 TB: the banned shingle set compresses into a fixed-size bit
    * array (`bloom_filter_agg`, a scalar subquery the engine evaluates
    * once), so the CORPUS side does no shuffle at all for membership —
    * each partition tests its shingles locally against the broadcast
    * bits, where the exact semi join shuffles every corpus shingle.
    *
    * Bloom semantics: NO false negatives (every truly contaminated doc
    * is flagged — pinned against [[contamination]] in the spec), false
    * positives at ~fpp inflate `n_maybe_shared`. The standard cascade
    * routes the (tiny) flagged set through the exact check when
    * precision matters. Deterministic at any parallelism: the filter is
    * an OR of bit positions, insertion-order-independent.
    *
    * Output mirrors [[contamination]] with `maybe_` naming — a sketch
    * result must not masquerade as exact.
    */
  def contaminationBloom(
      docs: DataFrame,
      banned: DataFrame,
      minShared: Int = 2,
      expectedItems: Long = 4096L,
      fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    // optimal bit count for the target false-positive rate
    val numBits = math.max(
      64L, math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // BloomFilterAggregate silently CLAMPS items/bits to the session's
    // runtime-filter caps — a saturated filter degrades fpp toward 1 with
    // no error, flagging everything. Fail loudly instead: the caller
    // either shrinks the banned set estimate or raises the caps.
    // no hardcoded fallbacks: these entries are REGISTERED SQLConf
    // configs, so get() returns the build's actual default — the same
    // value BloomFilterAggregate clamps against (a hardcoded copy would
    // silently diverge on a build that changes the caps)
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    require(
      expectedItems <= maxItems && numBits <= maxBits,
      s"bloom sizing (items=$expectedItems, bits=$numBits) exceeds the session caps " +
        s"(maxNumItems=$maxItems, maxNumBits=$maxBits); the aggregate would clamp and " +
        "silently saturate — raise spark.sql.optimizer.runtime.bloomFilter.maxNumItems/" +
        "maxNumBits or lower expectedItems/fpp")
    val docSh = shingles(docs)
    val banSh = shingles(banned).select("shingle").distinct()
    // might_contain requires its filter side constant-foldable or a
    // scalar subquery — the subquery form keeps the aggregation fully
    // engine-side (no driver collect), so it needs the SQL surface;
    // Spark ships both expressions but registers neither as a SQL
    // function, so the engine's extension point installs them
    graft.GraftExtensions.register(spark)
    // unique, dropped-after-analysis view names: fixed names would race
    // concurrent callers on the shared session catalog (one caller's SQL
    // silently analyzing over the other's frames) and leak catalog entries
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val docView = s"graft_bloom_doc_$tag"
    val banView = s"graft_bloom_ban_$tag"
    docSh.createOrReplaceTempView(docView)
    banSh.createOrReplaceTempView(banView)
    val flagged =
      try
        // spark.sql analyzes eagerly, so the views can drop right after
        spark.sql(
          s"""SELECT doc_id FROM $docView
             |WHERE might_contain(
             |  (SELECT bloom_filter_agg(xxhash64(shingle), ${expectedItems}L, ${numBits}L)
             |   FROM $banView),
             |  xxhash64(shingle))""".stripMargin)
      finally {
        spark.catalog.dropTempView(docView)
        spark.catalog.dropTempView(banView)
      }
    val counts = flagged.groupBy("doc_id").agg(count(lit(1)).as("n_maybe_shared"))
    sharedCountReport(docs, counts, "n_maybe_shared", "maybe_contaminated", minShared)
  }

  /** Per-document regex pattern counts — the rule-based feature/PII
    * scrubbing signal every curation pipeline runs before release (count
    * emails, URLs, phone shapes, boilerplate markers; route docs above a
    * threshold to redaction). `patterns` maps output column name →
    * pattern. Pure projection over one corpus scan, no shuffle; counts
    * use the standard leftmost non-overlapping match rule, so they are
    * engine-portable as long as patterns stay in the RE2 ∩ java.util
    * .regex dialect (char classes, bounded/unbounded repetition,
    * alternation, `\b`, `(?:…)` — NO backreferences or lookaround, which
    * RE2 rejects by design).
    */
  def patternCounts(docs: DataFrame, patterns: Seq[(String, String)]): DataFrame = {
    require(patterns.nonEmpty, "need at least one pattern")
    require(patterns.map(_._1).distinct.size == patterns.size,
      s"duplicate output columns: ${patterns.map(_._1)}")
    docs.select(
      col("doc_id") +:
        patterns.map { case (name, p) =>
          regexp_count(col("text"), lit(p)).cast("long").as(name)
        }: _*)
  }

  /** Generic pattern redaction — the rule-bank mechanism [[redactPii]]
    * is the canonical instance of and [[patternCounts]] the detection
    * half of: every rule `(name, pattern, replacement)` rewrites ALL
    * matches of `pattern` to the class token `replacement` (the
    * `[EMAIL]`/`[PHONE]` masking a release pipeline applies to PII
    * before training). Rules apply IN ORDER over the running text
    * (sensitive shapes first, so no later rule can split a span before
    * it is masked); the emitted `n_<name>` counts are matches in the
    * ORIGINAL text — the audit number a redaction report wants ("how
    * much did we mask"), independent of rule interaction.
    *
    * Pure projection over one corpus scan, no shuffle — the same scale
    * shape as patternCounts. The same dialect contract applies: patterns
    * in RE2 ∩ java.util.regex, and REPLACEMENTS must avoid `$` and `\`
    * (group-reference syntax differs between Java's Matcher and RE2 —
    * plain class tokens like `<EMAIL>` behave identically everywhere).
    */
  def redactText(docs: DataFrame, rules: Seq[(String, String, String)]): DataFrame = {
    require(rules.nonEmpty, "need at least one redaction rule")
    require(rules.map(_._1).distinct.size == rules.size,
      s"duplicate rule names: ${rules.map(_._1)}")
    rules.foreach { case (name, _, repl) =>
      require(!repl.contains("$") && !repl.contains("\\"),
        s"rule $name: replacement must not contain $$ or \\ " +
          "(group-reference syntax is engine-specific)")
    }
    val redacted = rules.foldLeft(col("text")) { case (c, (_, p, r)) =>
      regexp_replace(c, p, r)
    }
    docs.select(
      (col("doc_id") +:
        rules.map { case (name, p, _) =>
          regexp_count(col("text"), lit(p)).cast("long").as(s"n_$name")
        }) :+ redacted.as("text_redacted"): _*)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Barrier

/** Deduplication operators for the training-data pipeline: exact
  * (normalize + hash), MinHash-LSH banded near-dup, and SimHash.
  *
  * 100 TB posture: every path is shuffle-parallel with bounded keys —
  * exact dedup shuffles on a 256-bit hash (uniform), MinHash candidates
  * come from a BANDED bucket join (never an all-pairs product), and
  * signatures are fixed-width arrays (H longs per doc). The only self-join
  * runs on (band_id, band_hash) buckets whose expected size is tiny under
  * uniform hashing; a pathological hot bucket is AQE-skew-join territory,
  * not a plan change.
  */
object Dedup {

  // -------------------------------------------------------------------
  // Exact dedup: hash-groupBy, keep the smallest doc_id per content key.
  // -------------------------------------------------------------------

  /** One row per distinct content: (doc_id kept, dup_count). Grouping key
    * is sha2(text) so the shuffle key is fixed-width even for MB-size
    * documents.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")

  /** The surviving rows (smallest doc_id per content key) with all columns.
    *
    * ONE shuffle (row_number over the content-hash partition, keep rank 1)
    * instead of the agg + semi-join restatement (two corpus shuffles plus
    * a join): `filter(rn = 1)` compiles to a WindowGroupLimit, so each map
    * task pre-prunes to one row per hash before the exchange — the same
    * map-side-combine behavior the groupBy had, minus the join back.
    */
  def dropExactDuplicates(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sha2(col("text"), 256))
      .orderBy(col("doc_id"))
    docs
      .withColumn("__dedup_rn", row_number().over(w))
      .filter(col("__dedup_rn") === 1)
      .drop("__dedup_rn")
  }

  /** C4-style corpus-wide LINE dedup (Raffel et al. 2020 §2.2): any line
    * occurring at least `minOccurrences` times across the whole corpus is
    * boilerplate (navigation chrome, cookie banners, license footers) and
    * is removed from EVERY document; documents left with no lines drop
    * out entirely. Doc-level dedup misses this class completely — the
    * surrounding text differs, only the chrome repeats.
    *
    * Output: (doc_id, clean_text, n_lines_raw, n_lines_kept) with
    * clean_text the kept lines re-joined in original order.
    *
    * Scale posture: ONE corpus shuffle keyed by line for the frequency
    * count (map-side combinable, so the empty-line/boilerplate skew
    * collapses in the partial aggregate); the hot-line set is tiny by
    * definition (lines ABOVE a repetition floor) and comes back as a
    * broadcast anti-join; the per-doc rebuild groups on doc_id — the
    * second shuffle, unavoidable for reassembly and key-parallel.
    */
  def dedupLines(docs: DataFrame, minOccurrences: Int = 3): DataFrame = {
    val lines = docs.select(
      col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val hot = lines
      .groupBy(col("line"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minOccurrences)
      .select(col("line"), lit(true).as("__hot"))
    // a marker LEFT join (not an anti-join) so one doc-side aggregate
    // yields kept AND raw counts — an anti-join would need a second
    // corpus pass just to recover n_lines_raw. collect_list skips the
    // nulls the when() leaves on hot lines.
    lines
      .join(hot, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines_raw"),
        count(when(col("__hot").isNull, 1)).as("n_lines_kept"),
        array_sort(collect_list(
          when(col("__hot").isNull, struct(col("pos"), col("line"))))).as("pl"))
      .filter(col("n_lines_kept") > 0) // fully-boilerplate docs drop out
      .select(
        col("doc_id"),
        concat_ws("\n", transform(col("pl"), x => x.getField("line"))).as("clean_text"),
        col("n_lines_raw").cast("long").as("n_lines_raw"),
        col("n_lines_kept").cast("long").as("n_lines_kept"))
  }

  // -------------------------------------------------------------------
  // MinHash signatures + banded LSH (Broder 1997 / Leskovec-Rajaraman-
  // Ullman ch.3, public knowledge).
  // -------------------------------------------------------------------

  /** Large Mersenne prime for the universal-hash family. */
  val MinHashPrime = 2147483647L
  private val P = MinHashPrime

  /** Deterministic (a_i, b_i) parameters — fixed seeds, reproducible runs.
    * Public so the SQL surface (GraftExtensions `minhash_sig`) uses the
    * SAME family and signatures stay comparable across APIs.
    */
  def defaultHashParams(h: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    (0 until h).map(_ => (1 + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }
  private def hashParams(h: Int): Seq[(Long, Long)] = defaultHashParams(h)

  /** MinHash signatures from exploded (doc_id, shingle) rows: ONE grouped
    * aggregation computes all H minima — sig is array<long> of length H.
    */
  def minhashSignatures(shingleRows: DataFrame, numHashes: Int = 32): DataFrame = {
    // hash each shingle ONCE (projected column), then run the H min-
    // aggregates over cheap affine transforms of it — without this the H
    // aggregate expressions each re-evaluate the string hash per row
    val withBase = shingleRows.select(
      col("doc_id"), pmod(xxhash64(col("shingle")), lit(P)).as("h"))
    val mins = hashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"h$i")
    }
    withBase
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Polynomial mixing constant for combining token hashes into gram
    * hashes (odd, large — multiplication wraps mod 2^64, deterministic).
    * Public (like [[MinHashPrime]] and [[defaultHashParams]]) so the
    * oracle side can recompute the exact gram polynomial.
    */
  val GramMix = 1000003L

  /** Distinct n-gram hashes per document WITHOUT materializing shingle
    * strings: hash each token once (xxhash64), then combine n consecutive
    * token hashes polynomially. Building 1.5M shingle strings via concat
    * costs ~10x more than the whole signature computation — this keeps the
    * entire gram pipeline in long-space.
    */
  /** Gram hashes from an ALREADY-MATERIALIZED token-hash array column.
    * `th` must be a bound attribute, not an inline expression: every
    * element_at in the lambda references it, and expression-tree
    * duplication would otherwise re-evaluate the whole token-hash
    * transform per element — a quadratic blowup (observed 10x+ at bench
    * scale). Keeping it an attribute makes each reference an O(1) array
    * read; CollapseProject deliberately refuses to inline a non-cheap
    * alias referenced more than once, so the two-projection shape is
    * stable under optimization.
    */
  def gramHashesFromTokenHashes(th: org.apache.spark.sql.Column, n: Int = 3): org.apache.spark.sql.Column =
    array_distinct(
      when(
        size(th) >= n,
        transform(
          sequence(lit(1), size(th) - (n - 1)),
          i =>
            (0 until n)
              .map(j => element_at(th, i + j))
              .reduceLeft((acc, h) => pmod(acc * GramMix + h, lit(P)))))
        .otherwise(array().cast("array<bigint>")))

  /** (doc_id, hs) with hs = distinct gram hashes; the token-hash array is
    * materialized in its own projection first (see
    * [[gramHashesFromTokenHashes]]). Token hashes are bounded to [0, P) so
    * each polynomial step stays under 2^51 — no long overflow under ANSI.
    */
  def gramHashFrame(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      // short-doc filter FIRST, on raw text: a post-projection filter
      // would be pushed down with the gram expression inlined and go
      // quadratic (see TextOps.shingleFrame)
      .filter(size(TextOps.tokens(col("text"))) >= n)
      .select(
        col("doc_id"),
        transform(TextOps.tokens(col("text")), t => pmod(xxhash64(t), lit(P))).as("th"))
      .select(col("doc_id"), gramHashesFromTokenHashes(col("th"), n).as("hs"))

  /** Row-wise MinHash over [[gramHashArray]]: one projection, NO string
    * shingles, NO explode, NO shuffle; the H minima come from the native
    * fused-loop expression (graft.functions.MinHashSigExpr) inside
    * whole-stage codegen. Same estimator quality as the string-shingle
    * family (any strong hash family over the same gram set is a valid
    * MinHash); DedupSpec checks agreement with the exploded formulation of
    * the same family.
    */
  def minhashSignaturesRowwise(docs: DataFrame, numHashes: Int = 32, n: Int = 3): DataFrame = {
    val params = hashParams(numHashes)
    gramHashFrame(docs, n) // already excludes docs shorter than n tokens
      .select(
        col("doc_id"),
        graft.functions.MinHashSigExpr
          .minhashSig(col("hs"), params.map(_._1), params.map(_._2), P)
          .as("sig"))
  }

  /** Exploded-path signatures from pre-hashed gram rows (doc_id, h) — the
    * streaming/incremental formulation of the same family.
    */
  def minhashSignaturesFromHashes(hashRows: DataFrame, numHashes: Int = 32): DataFrame = {
    val mins = hashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"h$i")
    }
    hashRows
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Banded LSH candidate pairs: docs agreeing on ALL rows of at least one
    * band. bands * rowsPerBand must equal the signature length.
    * Output: (doc_a, doc_b, est_jaccard), doc_a < doc_b.
    *
    * `saltBuckets > 1` routes the bucket self-join through
    * [[Skew.saltedJoinSkewed]] — the explicit hatch for a degenerate band
    * bucket (e.g. boilerplate corpora where one signature dominates) too
    * hot for AQE's sort-merge skew splitting to reach (the bucket join is
    * a hash join on a compound key). Only buckets larger than
    * `saltHotThreshold` are salted — salting every bucket would multiply
    * the whole join's shuffle volume by `saltBuckets` to fix a handful of
    * keys. Results are identical; only row placement spreads (DedupSpec
    * plants a hot bucket and pins both).
    */
  def candidatePairs(
      sigs: DataFrame,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      saltBuckets: Int = 0,
      saltHotThreshold: Long = 1000L): DataFrame = {
    val banded = sigs.select(
      col("doc_id"),
      col("sig"),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          // xxhash64 hashes the array column directly (no string round-trip)
          b => xxhash64(slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
      // persist: both sides of the band self-join read this frame, and
      // lazily each side would re-run the ENTIRE upstream signature
      // pipeline (tokenize -> gram hashes -> minhash -> band hashes) over
      // the corpus.
      .persist()
    val a = banded.select(
      col("band_id"), col("band_hash"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(
      col("band_id"), col("band_hash"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val joined =
      if (saltBuckets > 1)
        Skew.saltedJoinSkewed(a, b, Seq("band_id", "band_hash"), saltBuckets, saltHotThreshold)
      else a.join(b, Seq("band_id", "band_hash"))
    joined
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct() // a pair may collide in several bands
      .withColumn(
        "est_jaccard",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), (acc, x) => acc + x) / size(col("sig_a")))
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Near-duplicate pairs above a Jaccard threshold, end to end:
    * shingle -> minhash -> banded candidates -> threshold.
    */
  def nearDupPairs(
      docs: DataFrame,
      threshold: Double = 0.7,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    val sigs = minhashSignaturesRowwise(docs, numHashes)
    candidatePairs(sigs, bands, numHashes / bands)
      .filter(col("est_jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard near-duplicate pairs via an INVERTED INDEX —
    * the deterministic complement of the MinHash estimate path
    * ([[nearDupPairs]]): no hashing, no estimation error, fully
    * oracle-checkable, at the cost of touching every co-occurring pair.
    *
    * Shape: explode distinct shingles, drop shingles whose document
    * frequency exceeds `maxShingleDf` from the INDEX (boilerplate n-grams
    * are what make posting lists — and the self-join within them —
    * quadratic; the cap bounds every bucket, the standard inverted-index
    * defense), self-join on shingle for candidate pairs sharing >=
    * `minShared` indexed shingles. The EXACT intersection then costs no
    * second corpus expansion: |A n B| decomposes exactly into
    * rare-shared (already counted by the candidate join) + hot-shared
    * (computed only over the df-capped-out shingles, a set that is small
    * by construction), so the cap prunes candidates without ever biasing
    * a reported similarity.
    *
    * Scale posture: ONE shuffle on shingle total — document frequency is
    * a `count over (partition by shingle)` window annotated onto each
    * shingle row before the frame is materialized, so the index and the
    * hot-postings set are FILTERS of the materialized frame (round 4 spent
    * two extra joins re-attaching dfreq), and the index self-join reuses
    * the window's hash-partitioning (checkpoint preserves the physical
    * partitioning, so the join adds no exchange). One more shuffle on the
    * pair key for the counts. Set sizes are one cheap aggregate over the
    * materialized rows. With a `materialize` sink the frame instead
    * persists as a [[graft.sources.VersionedTable]] snapshot — the
    * 100 TB fault-tolerant path (the parquet round-trip drops the
    * partitioning, which the self-join re-establishes with one exchange).
    * Recall contract: a true near-dup pair is missed only if it shares
    * fewer than `minShared` shingles rarer than the cap — for
    * boilerplate-heavy corpora raise the cap or pre-strip templates.
    */
  def jaccardNearDups(
      docs: DataFrame,
      threshold: Double = 0.5,
      minShared: Int = 2,
      maxShingleDf: Int = 100,
      n: Int = 3,
      materialize: Option[graft.sources.VersionedTable] = None): DataFrame =
    selfPairIntersections(docs, minShared, maxShingleDf, n, materialize)
      .withColumn(
        "jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Prefix-filtered EXACT Jaccard self-join (PPJoin-style candidate
    * generation, Xiao et al. 2008 "Efficient Similarity Joins for Near
    * Duplicate Detection"): every pair with Jaccard ≥ `threshold`, no
    * df-cap candidacy caveat — [[jaccardNearDups]] requires `minShared`
    * RARE shared shingles for a pair to surface at all (a pair whose
    * overlap is all boilerplate is missed by design); this operator's
    * prefix filter is lossless.
    *
    * The filter: order each document's shingles by the global
    * (df asc, shingle asc) total order (rarest first) and index only the
    * first `p = |d| − ceil(t·|d|) + 1` of them. Any pair with
    * J ≥ t shares ≥ 1 token inside both prefixes (if all shared tokens
    * sat past both prefixes, the unshared prefix tokens alone would push
    * the union too large for the threshold) — so joining prefix postings
    * finds every qualifying pair, and the rarest-first order keeps those
    * posting lists the SHORTEST available, which is what bounds the
    * candidate volume at 100 TB. A length filter
    * (min ≥ ceil(t·max)) prunes impossible pairs before the distinct.
    *
    * Exactness does not depend on the tie-break: ANY consistent global
    * total order satisfies the theorem, so the UTF-16/UTF-8 ordering
    * caveat (x42) affects which tokens land in prefixes — candidate
    * volume, never the result set. Verification is exact and classic
    * PPJoin: each candidate pair rejoins the two docs' shingle ARRAYS
    * and scores size(array_intersect) — per-pair work bounded by doc
    * length, total verify cost O(candidates × doclen). The arrays come
    * straight from the per-row shingle projection (shingleFrame), NOT a
    * collect_list re-assembly, so there is no grouped corpus-scale
    * state — and the frame is built ONCE, semi-joined down to the
    * CANDIDATE documents (a pair-bounded set), then checkpointed, so
    * both verify joins read the same small materialized frame instead
    * of each rebuilding the arrays from the corpus. (Three rejected
    * forms, all measured at sf0.1: the unshared form rebuilt and
    * scanned shingleFrame TWICE — one corpus array-build per join side,
    * ~35% of the query's wall; re-counting the intersection from
    * candidate-restricted full postings costs 2.3× the array verify —
    * the pair×doclen expansion flows through two sort-merge joins AND a
    * groupBy instead of a per-row intersect; and the original
    * collect_list form paid a corpus-scale checkpoint plus three
    * consumers of the grouped frame.)
    *
    * Shapes: ONE shuffle on shingle for the df window (round 12 — the
    * earlier groupBy+join form shuffled the same corpus-scale rows twice
    * on the same key), one doc-keyed window pass computing BOTH the
    * per-doc (df, shingle) rank and the doc length in a single
    * WindowExec (the len count rides the ordered spec with an unbounded
    * frame — the unordered-count variant planned a second full sort),
    * the prefix-postings self-join (corpus-scale both sides — the x24
    * SMJ allowance class), one corpus×candidates semi-join to cut the
    * array frame, then two candidate-bounded array joins. The three
    * barriers are all PAIR-bounded: the candidate frame `ppjoin.cand`
    * (so the self-join runs once), the candidate-doc array frame
    * `ppjoin.arrs` (so the corpus semi-join runs once, not once per
    * verify side), and the scored frame `ppjoin.scored` (so the jaccard
    * filter sees a plain integer attribute — PushDownPredicate would
    * otherwise inline the array_intersect into a Filter, the audited
    * HOF-in-Filter class). Never all-pairs. Bench's `barrier_ms` row for
    * x106 splits the operator's wall across the three names.
    */
  def ppjoinNearDups(
      docs: DataFrame,
      threshold: Double,
      n: Int = 3): DataFrame = {
    val cand = ppjoinCand(docs, threshold, n)
    ppjoinScored(cand, ppjoinArrs(docs, cand, n))
      .withColumn(
        "jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Stage 1 of [[ppjoinNearDups]]: shingle + df + prefix + positional/
    * i-prefix self-join + pair groupBy → the pair-bounded candidate
    * barrier. See the scaladoc comments inline.
    */
  private def ppjoinCand(
      docs: DataFrame,
      threshold: Double,
      n: Int): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1]: $threshold")
    val sh = TextOps.shingles(docs, n).filter(col("shingle").isNotNull)
    // df annotated by ONE window over shingle (the jaccardNearDups move):
    // the groupBy+join form shuffles the corpus-scale shingle rows TWICE
    // on the same key (partial agg, then the join probe); the window
    // shuffles them once and counts in place — measured 1.9 → 1.6 s on
    // the candidate stage at sf0.1, and one corpus shuffle fewer at any
    // scale
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    // ONE window spec for both functions: `len` rides the ORDERED spec
    // with an unbounded frame (whole-partition count is order-invariant)
    // so Spark plans a single WindowExec over a single sort — the naive
    // unordered-count + ordered-rank pair planned TWO WindowExec nodes
    // with TWO full sorts of the corpus-scale shingle frame (found by the
    // round-12 per-stage decomposition: the candidate stage is the
    // operator's floor, and one of its two sorts was pure waste)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    val ranked = sh.withColumn("df", count(lit(1)).over(wSh))
      .withColumn(
        "len",
        count(lit(1)).over(wDoc.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("pos", row_number().over(wDoc))
    // NOT materialized, measured deliberately (round 11): the candidate
    // self-join reads this frame on both sides, and the multi-consumer
    // rule suggests a checkpoint — but eagerly storing the corpus-scale
    // prefix rows costs MORE than recomputing the codegen'd
    // scan+join+window lineage twice (checkpointed: 6.6 s isolated;
    // recomputed: 4.1 s — block serialization of a corpus-scale frame
    // is the expensive part, the x24 shingle frame notwithstanding,
    // whose window annotation is what its checkpoint actually buys).
    //
    // FLIP CONDITION (round-11 verdict ask #6 — when to reverse this):
    // the trade is 2×(scan + shuffled df-join + per-doc window) against
    // 1× that lineage + serialize/deserialize of the prefix rows. It
    // flips to CHECKPOINT when one recomputation costs more than the
    // round-trip — concretely when the base scan is remote/columnar-
    // expensive (object store, cold cache: re-reading the corpus twice
    // dominates), or when the df-join + window shuffle is the bottleneck
    // (very long docs → shingle blowup). It stays RECOMPUTE when the
    // scan is local/page-cached and the lineage is codegen-bound (this
    // fixture: block serialization of ~corpus-scale rows costs more than
    // the second pass). Rule of thumb: compare bytes(prefix frame) ×
    // 2 (write+read) against bytes(scanned input) at the storage tier's
    // throughput — do not "fix" this in either direction without that
    // measurement at the target tier.
    val prefix = ranked
      .filter(col("pos") <= col("len") - ceil(lit(threshold) * col("len")).cast("long") + 1)
      .select(col("shingle"), col("doc_id"), col("len"), col("pos"))
    // POSITIONAL filter (the "P" of PPJoin, Xiao et al. §3.2), applied to
    // every matching prefix row BEFORE the pair groupBy: a pair meeting
    // at prefix positions (pos_a, pos_b) can reach overlap at most
    // 1 + min(n_a − pos_a, n_b − pos_b) (everything strictly after the
    // matched token on each side, in the same global order), and
    // J ≥ t needs overlap ≥ α = ⌈t/(1+t)·(n_a+n_b)⌉. Dropping rows whose
    // bound misses α is LOSSLESS for pairs: if every shared-prefix row
    // fails, the pair's FIRST shared token (no shared credit before it)
    // proves overlap < α.
    //
    // INDEXING-prefix reduction (Xiao et al. §4.1), stacked on top: the
    // self-join is restated asymmetrically as probe × index under the
    // (len, doc_id) processing order — the ordered-EARLIER side (the
    // shorter record) plays the indexed role and needs only the i-prefix
    // |d| − ⌈2t/(1+t)·|d|⌉ + 1 (for a qualifying pair with |y| ≤ |x|,
    // overlap ≥ ⌈2t/(1+t)·|y|⌉, so a shared token must land inside y's
    // first |y|−that+1 tokens), while the probing side keeps the full
    // p-prefix. Honest accounting: the positional filter SUBSUMES the
    // i-prefix at the pair level (for the shorter side, its row bound
    // implies pos_i ≤ i-prefix end), so the surviving pair set is
    // identical — what the i-prefix buys is JOIN INPUT volume: one whole
    // side's postings shrink ~35% (L/2+1 → L/3 at t=0.5) before any row
    // is materialized, which is the shuffle-bytes lever a 100 TB run
    // cares about even where fixture wall time is flat.
    //
    // Measured at sf0.1 (staged per barrier before each change;
    // survivors pinned at 256 throughout by the brute-force spec):
    // p×p join, no positional filter: 310k pairs, 4.6 s isolated;
    // + positional filter: 125k pairs, ~4.1 s; + i-prefix: 125k pairs
    // (subsumption above), join input −35%, wall flat — the remaining
    // floor was the window/df machinery (~2 s) + 125k array intersects
    // (~1.5 s). This was the round-10 "cut x106" ask; sharing the
    // shingle-array build (the first attempt) saved only a 0.4 s scan
    // because the real cost is pair-count × intersect. Round 12 cut the
    // machinery floor itself: the df window replacing the groupBy+join
    // (one corpus shuffle fewer) and the fused len/rank window (one
    // corpus sort fewer) took the candidate stage 2.1 → ~1.55 s and the
    // whole operator to ~3.0–3.4 s (BENCH_DETAIL's x106 `barrier_ms`
    // tracks this per round).
    //
    // SUFFIX FILTER (Xiao §4.2) — measured and REJECTED (round 13): the
    // round-12 verdict conditioned it on the verify stage still leading
    // after the window fusions; the round-13 stage data says it does not
    // (candidates 1.57–2.33 s vs verify 1.38–1.53 s per rep). And the
    // DataFrame restatement is structurally self-defeating: the suffix
    // filter's probe needs each candidate pair's TOKEN SUFFIXES, which
    // here means joining the pair frame to the per-doc arrays — exactly
    // the two joins the verify stage already pays, after which
    // size(array_intersect) per pair costs no more than the binary
    // descent it would replace. (In Xiao's record-at-a-time index the
    // arrays are already in hand when a candidate surfaces — the filter
    // is free to consult; across a shuffle boundary it is not.) A
    // cheaper pair-level tightening (accumulating shared-prefix counts
    // in the pair groupBy) is NOT lossless here because the i-prefix
    // asymmetry undercounts shared tokens — an undercounted overlap
    // upper bound prunes true pairs. Revisit only if the verify stage's
    // pair volume grows past the candidate stage at a real corpus.
    // Rejected: checkpointing
    // `prefix` for its two consumers — storing the corpus-scale frame
    // measured SLOWER (6.6 s) than recomputing the codegen'd lineage
    // twice.
    // The −1e-9 guards keep fp rounding from ever pushing a ⌈·⌉ ABOVE
    // its true ceiling (over-pruning = silent recall loss; one lower at
    // exact-integer boundaries merely prunes slightly less).
    val alphaFrac = threshold / (1.0 + threshold)
    val iPrefixEnd =
      col("len") - ceil(lit(2.0 * alphaFrac) * col("len") - lit(1e-9)).cast("long") + 1
    // pair-bounded barrier: cand feeds both the intersection join and
    // the final assembly — and the candidate self-join (the expensive
    // part) must not re-execute per consumer. Output canonicalizes to
    // doc_a < doc_b by ID (the probe/index asymmetry is by (len, id),
    // which is NOT the output order).
    val probeSide = prefix.select(
      col("shingle"), col("doc_id").as("doc_p"),
      col("len").as("n_p"), col("pos").as("pos_p"))
    val indexSide = prefix
      .filter(col("pos") <= iPrefixEnd)
      .select(
        col("shingle"), col("doc_id").as("doc_i"),
        col("len").as("n_i"), col("pos").as("pos_i"))
    val cand = probeSide
      .join(indexSide, Seq("shingle"))
      // processing order: index strictly before probe under (len, id)
      .filter(
        col("n_i") < col("n_p") ||
          (col("n_i") === col("n_p") && col("doc_i") < col("doc_p")))
      // length filter (n_i <= n_p by the order above)
      .filter(col("n_i").cast("double") >= ceil(lit(threshold) * col("n_p")))
      // positional filter, both positions inside their own prefixes
      .filter(
        lit(1) + least(col("n_p") - col("pos_p"), col("n_i") - col("pos_i")) >=
          ceil(lit(alphaFrac) * (col("n_p") + col("n_i")) - lit(1e-9)))
      .select(
        least(col("doc_p"), col("doc_i")).as("doc_a"),
        greatest(col("doc_p"), col("doc_i")).as("doc_b"),
        when(col("doc_p") < col("doc_i"), col("n_p")).otherwise(col("n_i")).as("n_a"),
        when(col("doc_p") < col("doc_i"), col("n_i")).otherwise(col("n_p")).as("n_b"))
      .groupBy("doc_a", "doc_b")
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .transform(Barrier(_, "ppjoin.cand"))
    cand
  }

  /** Stage 2 of [[ppjoinNearDups]]: the candidate-doc shingle-array
    * frame. The array frame is cut to CANDIDATE docs first (semi-join —
    * a set bounded by the pair frame, far below corpus cardinality) and
    * checkpointed, so the corpus array-build runs ONCE and the two
    * verify joins read a small materialized frame — the unshared form
    * rebuilt shingleFrame per join side, two extra corpus scans.
    */
  private def ppjoinArrs(
      docs: DataFrame,
      cand: DataFrame,
      n: Int): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    TextOps.shingleFrame(docs, n)
      .join(candDocs, Seq("doc_id"), "leftsemi")
      // sorted ONCE per candidate doc (round 16) so the verify stage's
      // per-pair intersection is an allocation-free merge instead of an
      // array_intersect hash-set build+materialize per pair — each doc
      // sits in ~dozens of pairs, so the per-doc sort amortizes across
      // every pair it joins (SortedIntersectCountExpr's contract)
      .select(col("doc_id"), sort_array(col("shingle_arr")).as("shingle_arr"))
      .transform(Barrier(_, "ppjoin.arrs"))
  }

  /** Stage 3 of [[ppjoinNearDups]]: exact |A∩B| — the pair-bounded frame
    * rejoins each side's shingle array (a per-row projection of the
    * source — no grouped state) and merge-counts once per pair (the
    * arrays arrive sorted+distinct from [[ppjoinArrs]]; the round-16
    * codegen expression replaces size(array_intersect), which built a
    * hash set and materialized the intersection array per pair only to
    * take its length — measured ~1.0 s of the verify stage at sf0.1);
    * the checkpoint makes the jaccard filter downstream a
    * plain-attribute predicate (HOF-in-Filter gate).
    */
  private def ppjoinScored(cand: DataFrame, arrs: DataFrame): DataFrame =
    cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("shingle_arr").as("arr_a")), Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"), col("shingle_arr").as("arr_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        graft.functions.SortedIntersectCountExpr
          .sortedIntersectCount(col("arr_a"), col("arr_b")).as("n_inter"))
      .transform(Barrier(_, "ppjoin.scored"))

  /** Containment near-dups: pairs where the SMALLER document's shingle
    * set is largely inside the other's — |A∩B| / min(|A|, |B|), the
    * Broder "containment" coefficient. This is the excerpt/quotation/
    * superset detector Jaccard structurally misses: a 50-shingle doc
    * fully embedded in a 5000-shingle doc has containment 1.0 but
    * Jaccard 0.01, so a Jaccard gate waves exactly the asymmetric
    * duplication a crawl corpus is fullest of (page + boilerplate
    * wrapper, article + quoting aggregator). Same exact df-capped
    * inverted-index machinery as [[jaccardNearDups]] — ONE shared core
    * ([[selfPairIntersections]]), only the closing score differs —
    * which keeps the two operators' candidate sets provably identical
    * and the scale posture (never all-pairs, bounded hot complement)
    * inherited rather than re-derived.
    */
  def containmentNearDups(
      docs: DataFrame,
      threshold: Double = 0.8,
      minShared: Int = 2,
      maxShingleDf: Int = 100,
      n: Int = 3,
      materialize: Option[graft.sources.VersionedTable] = None): DataFrame =
    selfPairIntersections(docs, minShared, maxShingleDf, n, materialize)
      .withColumn(
        "containment",
        col("n_inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")

  /** The exact pair-intersection core shared by [[jaccardNearDups]] and
    * [[containmentNearDups]]: all ordered pairs (doc_a < doc_b) with at
    * least `minShared` shared rare shingles, returned with their EXACT
    * intersection size and both set sizes — every set-overlap score is a
    * closed-form function of these three columns.
    */
  private def selfPairIntersections(
      docs: DataFrame,
      minShared: Int,
      maxShingleDf: Int,
      n: Int,
      materialize: Option[graft.sources.VersionedTable]): DataFrame = {
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val sh = graft.sources.VersionedTable.materialize(
      TextOps.shingles(docs, n).withColumn("df", count(lit(1)).over(byShingle)),
      materialize, "pairs.shingles")
    val idx = sh.filter(col("df") <= maxShingleDf).select("shingle", "doc_id")
    // a barrier, not just a val: cands feeds BOTH the final join and
    // hotInter, and column pruning specializes the two uses into
    // non-identical subtrees ReuseExchange cannot collapse — without the
    // materialization the whole candidate self-join + pair aggregation
    // (the expensive part) executes twice (plan-verified this round).
    // cands is pair-bounded (near-dup candidates), far smaller than sh.
    val cands = idx.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(idx.select(col("shingle"), col("doc_id").as("doc_b")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_rare_shared"))
      .filter(col("n_rare_shared") >= minShared)
      .transform(Barrier(_, "pairs.cand"))
    // intersection over the capped-out (hot) shingles only — exact
    // complement of the candidate join's rare-shared count
    val hotSh = sh.filter(col("df") > maxShingleDf)
    val hotInter = cands.select("doc_a", "doc_b")
      .join(hotSh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(hotSh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_hot_shared"))
    // set sizes by aggregating the MATERIALIZED frame — re-deriving them
    // as a projection from raw text re-tokenizes the corpus and measured
    // 2x slower than this one cheap aggregation over materialized rows
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    cands
      .join(hotInter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0, Seq("n_hot_shared"))
      .withColumn("n_inter", col("n_rare_shared") + col("n_hot_shared"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
  }

  /** Incremental exact-Jaccard near-dups: a NEW batch of documents
    * checked against an EXISTING corpus — the production daily-ingest
    * shape: dedup today's crawl against everything already ingested
    * without recomputing corpus self-pairs. Same df-capped inverted-index
    * algorithm as [[jaccardNearDups]], made asymmetric:
    *
    *   - the df cap is taken over the CORPUS shingle frequencies (the
    *     side large enough for document frequency to mean "boilerplate";
    *     a small daily batch's frequencies identify nothing),
    *   - candidates are batch x corpus only — no batch-batch and no
    *     corpus-corpus pairs are generated or scored,
    *   - the exact intersection decomposes identically: shared shingles
    *     with corpus-df <= cap are counted by the candidate join, the
    *     capped-out remainder by one bounded pass over the hot postings —
    *     so the cap prunes candidates without biasing any reported
    *     similarity.
    *
    * Scale posture: the corpus shingle frame shuffles once on shingle for
    * the window df (persist it via `materialize` across daily runs — it
    * only grows by each day's accepted batch); the batch frame is small
    * by definition and is localCheckpoint'ed for its three consumers.
    * That checkpoint is this primitive's CONTRACT: callers whose probe
    * side is corpus-scale (benchmark decontamination probes ~the whole
    * corpus against a tiny suite) must use [[jaccardDecontam]] instead,
    * which keeps the same semantics with the barrier on the small side.
    * Output: (batch_id, corpus_id, jaccard) for pairs >= threshold.
    */
  def jaccardNearDupsAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      threshold: Double = 0.5,
      minShared: Int = 2,
      maxShingleDf: Int = 100,
      n: Int = 3,
      materialize: Option[graft.sources.VersionedTable] = None): DataFrame = {
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val shC = graft.sources.VersionedTable.materialize(
      TextOps.shingles(corpus, n).withColumn("df", count(lit(1)).over(byShingle)),
      materialize, "against.corpus")
    jaccardAgainstCore(
      Barrier(TextOps.shingles(batch, n), "against.batch"), shC, threshold, minShared, maxShingleDf)
  }

  /** Fuzzy decontamination: every PROBE document scored for shingle-set
    * Jaccard against a small BENCHMARK suite — [[jaccardNearDupsAgainst]]
    * with the roles flipped to the decontam shape, where the probe side
    * is the 100 TB corpus and must never hit a corpus-scale barrier.
    * (`jaccardNearDupsAgainst` is built for incremental ingest: its
    * `batch` is small and checkpointing it for its consumers is right.
    * Decontam passes ~the whole corpus as the probe, and reusing that
    * primitive would materialize corpus-scale shingle rows to
    * executor-local storage — the exact trade [[ppjoinCand]]'s
    * flip-condition calculus measured as the losing side for
    * local/page-cached scans, plus localCheckpoint's fault-fragility:
    * one lost executor kills the lineage.)
    *
    * Same candidate semantics and same arithmetic as
    * [[jaccardNearDupsAgainst]] (df cap over BENCHMARK frequencies,
    * rare-shared counted by the candidate join, hot remainder by one
    * bounded pass, exact Jaccard from the decomposed intersection) — so
    * the same oracle grades both. What changes is purely the physical
    * posture:
    *
    *   - the BENCHMARK postings (tiny by definition: eval suites are
    *     thousands of documents against a corpus of billions) are the
    *     only corpus-independent checkpointed frame, and NO join in the
    *     operator carries a broadcast hint: every materialized input is
    *     checkpointed, so the planner sees true sizes and picks
    *     broadcast itself in the rare-hits regime the contract states —
    *     while a pathologically contaminated corpus (a mirror-heavy
    *     crawl of the benchmark), where the pair frame is NOT small,
    *     degrades to a shuffled join instead of a driver OOM (a forced
    *     broadcast has no such escape; the candidate pass documented
    *     this discipline first, the closing joins now follow it);
    *   - the PROBE side has no corpus-scale barrier: the corpus is
    *     tokenized ONCE (the candidate pass) and scanned once more (a
    *     broadcast semi-join cutting it to candidate docs — the only
    *     frames checkpointed on this side are pair-bounded), and the
    *     only corpus-scale shuffle in the whole plan is the candidate
    *     pair groupBy — map-side combined, output pair-bounded;
    *   - the hot-shingle complement and the per-doc set sizes are
    *     computed over the CANDIDATE docs only (set sizes as a pure
    *     array-size projection), where `jaccardAgainstCore` shuffles
    *     the exploded batch shingles for a groupBy count.
    *
    * Output: (batch_id = probe doc, corpus_id = benchmark doc, jaccard)
    * for pairs >= threshold — column-compatible with
    * [[jaccardNearDupsAgainst]] so callers and oracles swap freely.
    */
  def jaccardDecontam(
      probe: DataFrame,
      benchmark: DataFrame,
      threshold: Double = 0.5,
      minShared: Int = 2,
      maxShingleDf: Int = 100,
      n: Int = 3): DataFrame = {
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    // benchmark side: small — df-annotated once, checkpointed for its
    // three consumers (rare index, hot postings, per-doc counts)
    val shBench = TextOps.shingles(benchmark, n)
      .withColumn("df", count(lit(1)).over(byShingle))
      .transform(Barrier(_, "decontam.bench"))
    val idxBench = shBench.filter(col("df") <= maxShingleDf)
    val hotBench = shBench.filter(col("df") > maxShingleDf)
    // probe pass 1 — the ONLY corpus-scale tokenize: exploded probe
    // shingles meet the rare benchmark postings WITHOUT a join-strategy
    // hint, deliberately: a production benchmark (thousands of docs
    // against billions) sits far under the broadcast threshold and
    // auto-broadcasts — the corpus then streams map-side — while a
    // benchmark too big to broadcast falls back to a parallel shuffled
    // hash join, which is the RIGHT plan for that regime (forcing
    // broadcast there serializes the whole query behind a driver-side
    // hash build of the postings — measured 5x slower than the shuffle
    // at the fixture's deliberately-oversized 10% benchmark split).
    // Neither regime materializes a probe-side barrier; the pair
    // groupBy below stays map-side combined and pair-bounded.
    val cands = TextOps.shingles(probe, n)
      .select(col("doc_id").as("batch_id"), col("shingle"))
      .join(
        idxBench.select(col("shingle"), col("doc_id").as("corpus_id")),
        Seq("shingle"))
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("n_rare_shared"))
      .filter(col("n_rare_shared") >= minShared)
      .transform(Barrier(_, "decontam.cand")) // pair-bounded: decontam HITS are rare by design
    // probe pass 2 — a pure SCAN, no tokenize: everything downstream
    // (hot-shingle complement, per-doc set sizes) concerns CANDIDATE
    // docs only, so the corpus streams through one broadcast semi-join
    // on doc_id and only the surviving pair-bounded documents are ever
    // re-tokenized. (The first cut of this operator rebuilt the full
    // corpus shingle frame per consumer — three corpus tokenizes; the
    // bench caught it at 4.7x the x29-shaped baseline. One tokenize +
    // one scan is also the strictly better 100 TB shape.) Checkpointed:
    // candidate-bounded, two consumers.
    // n_b (per-doc distinct-shingle count) is computed HERE, inside the
    // checkpointed frame, for two reasons. (1) Inlining: left as a lazy
    // projection, CollapseProject folds the whole tokenize+gram+distinct
    // expression into every downstream reference — the final pair join
    // then re-evaluated it PER JOINED ROW instead of per doc (measured:
    // 7.8 s vs 0.6 s for the closing join at sf0.1). (2) Nullability:
    // tokens over coalesce(text, '') makes n_b NON-NULLABLE, so the
    // final jaccard filter's inferred isnotnull constraint is statically
    // true and InferFiltersFromConstraints does not push a Filter with
    // the re-inlined array expression down the lineage (the plan
    // audit's HOF-in-filter rule caught exactly that in the first cut).
    // Short/null-text docs get n_b = 0 instead of being filtered out:
    // they produce no shingle rows, so they are never candidates and
    // the output is row-identical (DedupSpec pins it against the
    // incremental primitive).
    // no hint on the semi-join build side (same discipline as the
    // candidate pass above): the candidate-id frame sits on a
    // checkpointed parent, so the planner reads its TRUE size —
    // broadcast under the rare-hits contract, a shuffled semi-join on a
    // pathologically contaminated corpus where the candidate set is
    // genuinely large (a forced broadcast there is a driver OOM, the
    // round-13 note this closes)
    val candDocs = probe
      .join(
        cands.select(col("batch_id").as("doc_id")).distinct(),
        Seq("doc_id"), "leftsemi")
      // token array as a NAMED COLUMN first, the shingleFrame rule:
      // handing tokens(…) to the gram lambda as an inline expression
      // re-evaluates the split inside EVERY element_at of the
      // interpreted HOF — O(tokens²) per doc, measured 6.5 s on the
      // fixture's 4k candidate docs vs 0.2 s for this two-step form
      // (CollapseProject keeps the steps apart because __toks is
      // referenced more than once)
      .select(col("doc_id"), col("text"),
        TextOps.tokens(coalesce(col("text"), lit(""))).as("__toks"))
      .select(
        col("doc_id"), col("text"),
        size(TextOps.shingleArrayFromTokens(col("__toks"), n, distinct = true))
          .cast("long").as("n_b"))
      .transform(Barrier(_, "decontam.docs"))
    val candSh = TextOps.shingles(candDocs, n)
      .select(col("doc_id").as("batch_id"), col("shingle"))
    // no hint here either: candSh is pair-bounded and hotBench scales
    // with the benchmark's boilerplate — whichever is smaller should
    // build, and the planner sees both sizes (candSh sits on a
    // checkpointed parent)
    val hotInter = candSh
      .join(
        hotBench.select(col("doc_id").as("corpus_id"), col("shingle")),
        Seq("shingle"))
      .join(cands.select("batch_id", "corpus_id"), Seq("batch_id", "corpus_id"), "leftsemi")
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("n_hot_shared"))
    val nBench = shBench.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val assembled = cands
      .join(hotInter, Seq("batch_id", "corpus_id"), "left")
      .na.fill(0, Seq("n_hot_shared"))
      .withColumn("n_inter", col("n_rare_shared") + col("n_hot_shared"))
      .join(nBench.select(col("doc_id").as("corpus_id"), col("n").as("n_c")), Seq("corpus_id"))
    // closing join over MATERIALIZED per-doc counts (see candDocs):
    // pair-bounded × pair-bounded, every referenced column a plain
    // attribute of a checkpointed frame — and hint-free like every
    // other join here: both inputs hang off checkpointed parents, so
    // the planner broadcasts whichever side is genuinely small and
    // degrades to a shuffle when contamination made neither small
    candDocs
      .select(col("doc_id").as("batch_id"), col("n_b"))
      .join(assembled, Seq("batch_id"))
      .withColumn(
        "jaccard",
        col("n_inter").cast("double") / (col("n_b") + col("n_c") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  /** [[jaccardNearDupsAgainst]] over PREBUILT corpus postings (doc_id,
    * shingle) — the incremental-ingest fast path: when the postings live
    * in a table that appends each accepted batch's shingles, the corpus
    * TEXT is never re-read or re-tokenized per batch; per-batch work is
    * the df annotation (one shuffle over compact postings) plus the
    * candidate joins. [[graft.streaming.Ingest.streamDedupedCorpus]]
    * maintains exactly such a table.
    */
  def jaccardNearDupsAgainstPostings(
      batch: DataFrame,
      postings: DataFrame,
      threshold: Double = 0.5,
      minShared: Int = 2,
      maxShingleDf: Int = 100,
      n: Int = 3): DataFrame = {
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    // df-annotated postings feed four consumers (rare index, hot side,
    // per-doc counts) — checkpoint so the window runs once per batch
    val shC = postings
      .withColumn("df", count(lit(1)).over(byShingle))
      .transform(Barrier(_, "postings.corpus"))
    jaccardAgainstCore(
      Barrier(TextOps.shingles(batch, n), "postings.batch"), shC, threshold, minShared, maxShingleDf)
  }

  /** Shared asymmetric inverted-index scorer: `shB`/`shC` are the batch
    * and corpus (doc_id, shingle) frames, `shC` df-annotated and already
    * materialized by the caller.
    */
  private def jaccardAgainstCore(
      shB: DataFrame,
      shC: DataFrame,
      threshold: Double,
      minShared: Int,
      maxShingleDf: Int): DataFrame = {
    val idxC = shC.filter(col("df") <= maxShingleDf)
    // multi-consumer: the final join and the hot-intersection pass (the
    // same ReuseExchange-defeated-by-pruning trap jaccardNearDups hit)
    val cands = shB.select(col("shingle"), col("doc_id").as("batch_id"))
      .join(idxC.select(col("shingle"), col("doc_id").as("corpus_id")), Seq("shingle"))
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("n_rare_shared"))
      .filter(col("n_rare_shared") >= minShared)
      .transform(Barrier(_, "against.cand"))
    val hotC = shC.filter(col("df") > maxShingleDf)
    // bound the batch-side re-expansion to hot shingles before fanning
    // out over candidate pairs
    val hotB = shB.join(hotC.select("shingle").distinct(), Seq("shingle"))
    val hotInter = cands.select("batch_id", "corpus_id")
      .join(hotB.select(col("doc_id").as("batch_id"), col("shingle")), Seq("batch_id"))
      .join(hotC.select(col("doc_id").as("corpus_id"), col("shingle")), Seq("corpus_id", "shingle"))
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("n_hot_shared"))
    val nB = shB.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val nC = shC.groupBy("doc_id").agg(count(lit(1)).as("n"))
    cands
      .join(hotInter, Seq("batch_id", "corpus_id"), "left")
      .na.fill(0, Seq("n_hot_shared"))
      .withColumn("n_inter", col("n_rare_shared") + col("n_hot_shared"))
      .join(nB.select(col("doc_id").as("batch_id"), col("n").as("n_b")), Seq("batch_id"))
      .join(nC.select(col("doc_id").as("corpus_id"), col("n").as("n_c")), Seq("corpus_id"))
      .withColumn(
        "jaccard",
        col("n_inter").cast("double") / (col("n_b") + col("n_c") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  /** Exact n-gram Jaccard for given pairs (verification-grade; join on the
    * exploded shingle sets, never materializing full sets on the driver).
    */
  def exactJaccard(pairs: DataFrame, shingleRows: DataFrame): DataFrame = {
    val counts = shingleRows.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shA = shingleRows.toDF("doc_a", "shingle")
    val shB = shingleRows.toDF("doc_b", "shingle")
    val inter = pairs
      .join(shA, Seq("doc_a"))
      .join(shB, Seq("doc_b", "shingle")) // intersection of the two shingle sets
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0, Seq("n_inter"))
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), Seq("doc_a"))
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), Seq("doc_b"))
      .withColumn(
        "jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .select("doc_a", "doc_b", "jaccard")
  }

  // -------------------------------------------------------------------
  // Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
  // algorithm): the minimum gram hash in each sliding window of w grams.
  // Guarantees any match of length >= w + n - 1 tokens shares at least one
  // fingerprint, with a bounded fingerprint density — the standard
  // rolling-hash document-fingerprint scheme.
  // -------------------------------------------------------------------

  /** (doc_id, fp) — distinct winnowed fingerprints per document. Pure
    * projection + explode over the long-space gram hashes; docs shorter
    * than n + w - 1 tokens produce no fingerprints.
    *
    * The short-doc guard lives INSIDE the projection (when/otherwise over
    * an empty array; explode of an empty array emits nothing) — a
    * `.filter(size(col("hs")) >= window)` here would be pushed by
    * PushDownPredicate below gramHashFrame's projections with the whole
    * tokenize+gram expression inlined, re-evaluating it per array element
    * (the quadratic trap documented at gramHashesFromTokenHashes; measured
    * 22x on this exact query before the guard moved in-projection).
    */
  def winnowFingerprints(docs: DataFrame, n: Int = 3, window: Int = 4): DataFrame =
    gramHashFrame(docs, n)
      .select(
        col("doc_id"),
        explode(
          when(
            size(col("hs")) >= window,
            array_distinct(
              transform(
                sequence(lit(1), size(col("hs")) - (window - 1)),
                i => array_min(slice(col("hs"), i, lit(window))))))
            .otherwise(array().cast("array<bigint>"))).as("fp"))

  /** Fingerprint-overlap near-dup candidates: docs sharing >= minShared
    * winnowed fingerprints. Inverted-index join on fp — shuffle-parallel,
    * candidate count bounded by fingerprint collisions, never all-pairs.
    * `saltBuckets > 1` opens the same hot-bucket-only salted-join skew
    * hatch as [[candidatePairs]] for a degenerate posting list.
    */
  def fingerprintCandidates(
      docs: DataFrame,
      minShared: Int = 2,
      saltBuckets: Int = 0,
      saltHotThreshold: Long = 1000L): DataFrame = {
    val fps = winnowFingerprints(docs)
    val a = fps.toDF("doc_a", "fp")
    val b = fps.toDF("doc_b", "fp")
    val joined =
      if (saltBuckets > 1)
        Skew.saltedJoinSkewed(a, b, Seq("fp"), saltBuckets, saltHotThreshold)
      else a.join(b, Seq("fp"))
    joined
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  // -------------------------------------------------------------------
  // Connected components: the clustering step a dedup pipeline runs AFTER
  // near-dup pair generation — every document in a component duplicates
  // the component's canonical (minimum-id) member, so "drop near-dups"
  // becomes "keep one row per component".
  // -------------------------------------------------------------------

  /** (node, component) for every node appearing in `pairs`, where
    * component = the minimum node id reachable through the pair graph.
    *
    * Min-label propagation: each iteration every node adopts the minimum
    * label in its closed neighborhood; converges in O(graph diameter)
    * iterations. Near-dup graphs are dense cliques with tiny diameter
    * (transitive duplicates share fingerprints), so 2-4 iterations is
    * typical; `maxIter` caps adversarial chain graphs, and the method
    * throws rather than return wrong labels if the cap is hit (callers
    * with pathological graphs should raise it — each extra iteration is
    * one bounded join, and the alternating-star algorithm of Kiveris et
    * al. 2014 is the published O(log n) upgrade if diameter ever matters).
    *
    * Scale posture: per iteration ONE shuffle join of labels against the
    * edge list (already bounded: pairs are threshold-filtered candidates,
    * not the corpus), plus a grouped min. Labels are localCheckpoint'ed
    * every iteration with the superseded generation unpersisted —
    * iterative lineage otherwise re-executes all prior rounds at every
    * action and overwhelms the planner.
    */
  /** Driver-side union-find over an ALREADY-BOUNDED edge frame (the
    * small-graph fast path of [[connectedComponents]]; the caller
    * enforces the edge cap before collecting). Union always keeps the
    * SMALLER root as the parent, so after all unions each tree's root is
    * exactly the minimum id of its component — the same labeling the
    * distributed min-label loop converges to. Returns a LocalRelation
    * (node, component) in the caller's original integral id type.
    */
  private def smallGraphComponents(
      edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    edges
      .select(col("u").cast("long"), col("v").cast("long"))
      .collect() // bounded: caller dispatches here only under the edge cap
      .foreach { row =>
        val u = row.getLong(0)
        val v = row.getLong(1)
        parent.putIfAbsent(u, u)
        parent.putIfAbsent(v, v)
        val ru = find(u)
        val rv = find(v)
        if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
      }
    val spark = edges.sparkSession
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    val nodes = parent.keySet().toArray(new Array[java.lang.Long](0)).map(_.longValue).sorted
    nodes.foreach(n => rows.add(org.apache.spark.sql.Row(n, find(n))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(rows, schema)
      .select(
        col("node").cast(idType).as("node"),
        col("component").cast(idType).as("component"))
  }

  /** `smallGraphMaxEdges`: when the deduplicated edge list is at most
    * this many rows, skip the distributed loop and solve with ONE
    * driver-side union-find over a bounded collect — the labels come
    * back as a LocalRelation, so every downstream label join broadcasts
    * for free and the per-iteration checkpoint barriers (2 + diameter
    * jobs) collapse to two jobs total. The default (2^20 edges = 16 MB
    * of longs) is bounded model-state-sized driver data, same class as
    * the ANN trainingSample; near-dup pair sets are threshold-filtered
    * candidates, so even 100 TB corpora commonly land under it. Larger
    * graphs take the loop path unchanged; 0 disables the fast path.
    * Both paths return the identical (node, min-reachable-id) labeling.
    */
  /** `durable`: iteration barriers default to [[graft.Barrier]] —
    * executor-local blocks, fastest, but an executor loss loses both the
    * blocks and the truncated lineage. Passing a
    * [[graft.sources.VersionedTable]] commits every barrier generation
    * (edges and each labels generation) as a table snapshot instead —
    * the fault-tolerant 100 TB posture; a lost executor re-reads the
    * snapshot and a restarted job can resume from the last committed
    * generation. The durable path pays one parquet write+read per
    * barrier plus one explicit aggregate job per iteration (the
    * synchronous `observe` metric only rides a checkpoint's own
    * execution, not a write command's); labels are exact integers, so
    * results are identical by construction (DedupSpec pins it). Callers
    * own vacuum on the table.
    */
  def connectedComponents(
      pairs: DataFrame,
      srcCol: String = "doc_a",
      dstCol: String = "doc_b",
      maxIter: Int = 25,
      smallGraphMaxEdges: Long = 1L << 20,
      durable: Option[graft.sources.VersionedTable] = None): DataFrame = {
    val fwd = pairs.select(col(srcCol).as("u"), col(dstCol).as("v"))
    // the label-sum convergence test below is exact only for integral
    // ids (cast to decimal is lossless and sums cannot overflow 38
    // digits at any feasible node count); other id types would cast to
    // null and silently "converge" after one round — refuse instead.
    // BOTH endpoint columns must be integral: an integral src with a
    // string dst would coerce the reversed-edge union to string and
    // null the decimal cast just the same.
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    Seq("u", "v").foreach { c =>
      require(
        integral.contains(fwd.schema(c).dataType),
        s"connectedComponents needs integral node ids, got ${fwd.schema(c).dataType} " +
          s"for ${if (c == "u") srcCol else dstCol}; " +
          "hash non-numeric ids to longs first (xxhash64)")
    }
    // localCheckpoint over persist, measured deliberately (round 8): a
    // persist-based loop halves the job count (the sum job doubles as
    // cache fill) but lands 40-70% SLOWER end-to-end — columnar
    // InMemoryRelation encode/decode on these string-free but wide-ish
    // label frames plus per-iteration growth of the analyzed plan cost
    // more than the extra materialization job saves.
    // the edge count rides the checkpoint job via `observe` (same
    // synchronous-accumulator trick as ckptWithSum below), deciding the
    // small-graph dispatch without a separate count job.
    //
    // DURABLE-MODE CAVEAT (found by the r11 durable spec): observe's
    // synchronous read works only when the action executes the observed
    // frame's OWN QueryExecution (localCheckpoint does; a snapshot
    // commit's write command spawns a fresh one). Worse than absent, the
    // un-executed accumulator reads back as a PRESENT row of zeros —
    // edgeCount 0 would silently take the small-graph path (and a zero
    // label-sum below would fake instant convergence: wrong labels, no
    // error). So the observe trick is local-mode only; the durable path
    // always pays the explicit count/aggregate job.
    val obsEdges = fwd
      .unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .observe("cc_edge_count", count(lit(1)).as("n"))
    val edges = graft.sources.VersionedTable.materialize(obsEdges, durable, "cc.edges") // reused every iteration; bounded by 2|pairs|
    val edgeCount =
      obsEdges.queryExecution.observedMetrics.get("cc_edge_count") match {
        case Some(r) if durable.isEmpty => r.getLong(0)
        case _ => edges.count()
      }
    if (edgeCount <= smallGraphMaxEdges) {
      val labels = smallGraphComponents(edges, fwd.schema("u").dataType)
      edges.unpersist()
      return labels
    }
    // (checkpointed frame, count, Σ label) in ONE job: the (n, Σ) pair
    // rides the checkpoint's own materialization via a named `observe`
    // node — CollectMetricsExec accumulates while the rows stream into
    // the checkpoint blocks, and `queryExecution.observedMetrics` reads
    // the accumulators SYNCHRONOUSLY after the action (no listener-bus
    // wait). The loop thus pays one job per iteration where a separate
    // post-checkpoint aggregate scan would pay two (the x53/x57
    // job-count finding: every extra barrier is scheduler-contention and
    // straggler surface). If the metric is ever absent (a future Spark
    // moving the node out of the checkpointed subtree), fall back to an
    // explicit aggregate over the checkpointed blocks — slower by one
    // cheap job, never wrong.
    //
    // A null sum over a NON-empty frame means the invariant broke (it
    // cannot, with the integral-id guard above, but a silent wrong-labels
    // return is the one failure mode this method must refuse) — throw,
    // never treat it as convergence. A null sum over an empty frame is
    // the legitimate no-edges case.
    def ckptWithSum(frame: DataFrame): (DataFrame, Long, java.math.BigDecimal) = {
      val observed = frame.observe(
        "cc_label_sum",
        count(lit(1)).as("n"),
        sum(col("label").cast("decimal(38,0)")).as("s"))
      val ck = graft.sources.VersionedTable.materialize(observed, durable, "cc.labels")
      val (n, s) = observed.queryExecution.observedMetrics.get("cc_label_sum") match {
        // local mode only — see the durable-mode caveat on the edge count
        // (a commit leaves the accumulator unexecuted and it reads back
        // as zeros, which here would fake instant convergence)
        case Some(r) if durable.isEmpty => (r.getLong(0), r.getDecimal(1))
        case _ =>
          val r = ck
            .agg(count(lit(1)).as("n"), sum(col("label").cast("decimal(38,0)")).as("s"))
            .head()
          (r.getLong(0), r.getDecimal(1))
      }
      require(n == 0L || s != null,
        "connectedComponents label sum is null over a non-empty labels frame — " +
          "label column lost its integral type")
      (ck, n, s)
    }
    // seed with the initial labels' sum so a graph already at its
    // fixpoint (next_1 == labels_0) is detected on iteration 1, not 2
    var (labels, nInit, prevSum) = ckptWithSum(
      edges
        .select(col("u").as("node"))
        .distinct()
        .withColumn("label", col("node")))
    var iter = 0
    var converged = nInit == 0L
    while (!converged && iter < maxIter) {
      val viaNeighbor = edges
        .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
        .select(col("u").as("node"), col("label"))
      // Convergence by the label-sum invariant: min-label propagation
      // only ever DECREASES a node's label (next = min(own, neighbors')),
      // so Σ label is strictly monotone until the fixpoint and "sum
      // unchanged" == "no label changed". decimal(38,0) keeps the sum
      // exact where sum(long) could wrap at large node counts.
      val (next, nNow, sumNow) = ckptWithSum(
        labels
          .unionByName(viaNeighbor)
          .groupBy("node")
          .agg(min(col("label")).as("label")))
      // `next` is materialized (its checkpoint is eager), so the
      // superseded generation's blocks are dead weight — unpersist them
      // here to bound the loop's footprint at TWO checkpointed frames
      // (edges + current labels) instead of one per iteration; a serving
      // session invoking dedup repeatedly would otherwise accumulate them
      labels.unpersist()
      labels = next
      converged =
        nNow == 0L || (prevSum != null && sumNow.compareTo(prevSum) == 0)
      prevSum = sumNow
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter iterations " +
      "(graph diameter exceeds the cap — raise maxIter)")
    edges.unpersist() // final labels stay cached — the caller consumes them
    labels.select(col("node"), col("label").as("component"))
  }

  /** One surviving row per near-dup component plus all never-paired rows:
    * the end-to-end "drop near-duplicates" convenience over
    * [[connectedComponents]].
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware retention: keep the BEST-scoring member of each
    * near-dup component instead of the minimum id — what a training-data
    * curation pipeline actually wants ("of these near-identical pages,
    * keep the cleanest"), with `scoreCol` typically
    * `TextOps.qualityScore`'s output joined onto the docs. Ties break on
    * id so the survivor is deterministic. Never-paired rows all survive.
    *
    * Scale posture: the component labels are pair-bounded (far smaller
    * than the corpus), so the label join broadcasts; the per-component
    * argmax is a window over that bounded frame, not the corpus.
    */
  def dropNearDuplicatesBy(
      docs: DataFrame,
      pairs: DataFrame,
      scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs) // (node, component), pair-bounded
    val member = docs
      .join(broadcast(comps.withColumnRenamed("node", idCol)), Seq(idCol))
      .select(col(idCol), col("component"), col(scoreCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col(scoreCol).desc, col(idCol))
    val losers = member
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------------
  // Duplicated-span removal (ExactSubstr restated at word grain —
  // Lee et al. 2021, "Deduplicating Training Data Makes Language Models
  // Better"): where the pair-level ops above DROP whole documents, this
  // REWRITES them, deleting repeated spans from every occurrence but the
  // corpus-first one.
  // -------------------------------------------------------------------

  /** Remove duplicated k-word spans from all but their first occurrence
    * and rebuild each document's text. A word position is deleted iff it
    * is covered by at least one k-gram window whose text also occurs at a
    * lexicographically earlier (doc_id, start) — each duplicated gram's
    * first occurrence is never deleted ON ITS OWN ACCOUNT, the
    * deterministic retention rule of the suffix-array ExactSubstr
    * procedure (reference pipeline has no dedup at all; this is
    * brief-extension surface). Caveat shared with ExactSubstr's greedy
    * behavior: when covers CHAIN — gram G's first occurrence overlaps a
    * non-first occurrence of a different gram H — G's first copy can be
    * clipped by H's cover, so "one intact copy of every span" is not
    * guaranteed under overlapping duplication, only per-gram
    * first-occurrence protection.
    *
    * Output: (doc_id, text_dedup, n_removed) — one row per input
    * document, including untouched ones (n_removed = 0).
    *
    * Shape: the k-gram windows are a projection + explode (no shuffle);
    * one grouped aggregation on gram finds the first occurrence of each
    * duplicated gram (map-side combinable — the partial min/count
    * collapses each partition's occurrences before the exchange); one
    * join back on gram marks non-first starts; the per-document rebuild
    * is array math over the collected start set (interval cover via
    * sequence/flatten, positional filter), NOT a per-word window — tail
    * positions never shuffle at all.
    *
    * Scale posture: shuffles are keyed on gram (corpus-scale but
    * uniform — a natural-language k-gram for k~15 is nearly a document
    * fingerprint; a degenerate boilerplate gram is AQE-skew-join
    * territory) and on doc_id (the non-first start sets, bounded by the
    * duplicated volume, far below corpus scale). The gram join carries
    * the gram STRING so the result is oracle-exact; a production corpus
    * would key both sides on sha2(gram, 256) to make the shuffle rows
    * fixed-width — same plan, collision risk 2^-128.
    */
  def spanDedup(docs: DataFrame, k: Int = 15): DataFrame = {
    // materialized: the token-array frame feeds BOTH the gram subtree
    // (itself consumed twice: firsts + the non-first join) and the final
    // rebuild join — unmaterialized, the corpus text is scanned and
    // re-split three times per run (the recurring multi-consumer rule)
    val base = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
      .transform(Barrier(_, "spandedup.base"))
    val grams = base
      .filter(size(col("ws")) >= k)
      .select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("ws")) - k),
          p => array_join(slice(col("ws"), p + lit(1), lit(k)), " "))).as(Seq("pos", "gram")))
    // first occurrence (lexicographic (doc_id, pos)) of every gram seen
    // more than once; grams seen once never leave the aggregate
    val firsts = grams
      .groupBy("gram")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"), count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select("gram", "first")
    val nonFirstStarts = grams
      .join(firsts, Seq("gram"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("starts"))
    // interval cover: position i is removed iff some non-first start s
    // has s <= i <= s+k-1; distinct union of the start intervals
    val starts = coalesce(col("starts"), array().cast("array<int>"))
    val removed = array_distinct(flatten(transform(starts, s => sequence(s, s + k - 1))))
    // kept = all positions minus removed, via array_except (hash-set
    // membership, O(n + |removed|), left order preserved) — a per-word
    // array_contains scan was O(n * |removed|), quadratic on the
    // boilerplate-heavy documents this operator exists for; element_at
    // by kept index is O(1)
    val kept = array_except(sequence(lit(0), size(col("ws")) - 1), col("removed"))
    base
      .join(nonFirstStarts, Seq("doc_id"), "left")
      .withColumn("removed", removed)
      .select(
        col("doc_id"),
        array_join(
          transform(kept, i => element_at(col("ws"), i + 1)), " ").as("text_dedup"),
        size(col("removed")).cast("long").as("n_removed"))
  }

  // -------------------------------------------------------------------
  // SimHash (Charikar 2002): 64-bit signature; near-dups have small
  // Hamming distance.
  // -------------------------------------------------------------------

  /** 64-bit SimHash over tokens: per bit, sum +1/-1 by token-hash bit,
    * sign gives the signature bit. One explode + one grouped aggregation
    * with 64 conditional sums — no UDF, no driver loop.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tokenRows = docs.select(
      col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("token"))
      .withColumn("th", xxhash64(col("token")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val summed = tokenRows.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64)
      .map(b => when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    summed.select(col("doc_id"), sig.as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs over ANY 64-bit signature column (SimHash, image
    * dHash) via hamming-banded candidates: split each signature into
    * `bands` contiguous bit ranges, self-join on (band, band-value),
    * then exact-hamming filter — the pigeonhole guarantee that two
    * signatures within `maxHamming < bands` bits of each other agree on
    * at least one whole band, so the equi-join misses nothing under the
    * threshold while never going all-pairs. (For maxHamming >= bands the
    * guarantee lapses into best-effort recall — the standard
    * multi-index hamming trade. The candidate rule is part of the
    * operator's CONTRACT either way: x60's oracle restates band
    * agreement AND the hamming filter, so engine and oracle agree on
    * exactly which above-pigeonhole pairs surface.)
    *
    * Scale posture: the banded frame is 4 rows per signature keyed by a
    * 16-bit value + band id; the join shuffles on that compound key and
    * each bucket's pair work is quadratic only in ITS size. A degenerate
    * bucket (monochrome images all hashing to 0L is the classic one) is
    * the same salting territory as [[candidatePairs]]:
    * `saltBuckets > 1` routes buckets past `saltHotThreshold` through
    * [[Skew.saltedJoinSkewed]] — results identical, placement spread.
    *
    * @param sigs (idCol, hashCol) rows, one 64-bit signature per id
    * @return (doc_a, doc_b, hamming), doc_a < doc_b, hamming <= maxHamming
    */
  def hammingNearDupPairs(
      sigs: DataFrame,
      idCol: String = "doc_id",
      hashCol: String = "simhash",
      maxHamming: Int = 3,
      bands: Int = 4,
      saltBuckets: Int = 0,
      saltHotThreshold: Long = 1000L): DataFrame = {
    require(bands > 0 && 64 % bands == 0, "bands must divide 64")
    require(maxHamming >= 0, "maxHamming must be non-negative")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandCols = (0 until bands).map(b =>
      shiftrightunsigned(col(hashCol), b * width).bitwiseAND(lit(mask)))
    val banded = sigs.select(
      col(idCol).as("__id"), col(hashCol).as("__sig"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bv")))
    val left = banded.select(
      col("band"), col("bv"), col("__id").as("doc_a"), col("__sig").as("sig_a"))
    val right = banded.select(
      col("band"), col("bv"), col("__id").as("doc_b"), col("__sig").as("sig_b"))
    val joined =
      if (saltBuckets > 1)
        Skew.saltedJoinSkewed(left, right, Seq("band", "bv"), saltBuckets, saltHotThreshold)
      else left.join(right, Seq("band", "bv"))
    joined
      .filter(col("doc_a") < col("doc_b"))
      // dedup pairs found in several bands BEFORE the hamming filter so
      // the popcount runs once per pair; sig cols ride along (id -> sig
      // is functional, so they don't widen the distinct key space)
      .select("doc_a", "doc_b", "sig_a", "sig_b")
      .distinct()
      .select(
        col("doc_a"), col("doc_b"),
        hamming(col("sig_a"), col("sig_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------------------------
  // Fuzzy (edit-distance) dedup for SHORT keys — titles, headers, URLs.
  // A different similarity class from everything above: character-level
  // and order-sensitive, so it catches typo/OCR variants ("Teh Anual
  // Report") that token-shingle Jaccard calls disjoint and embedding
  // cosine calls unrelated-magnitude noise.
  // -------------------------------------------------------------------

  /** The normalized short key: first `nTokens` whitespace tokens,
    * lowercased, space-joined — the standard title normalization.
    */
  def titleKey(text: Column, nTokens: Int = 5): Column =
    lower(concat_ws(" ", slice(TextOps.tokens(text), 1, nTokens)))

  /** Fuzzy near-dup pairs: documents whose [[titleKey]]s are within
    * `maxEdits` Levenshtein edits. Candidates come from a BLOCKING
    * equi-join on the title's first `prefixLen` characters — never
    * all-pairs; the shuffle is keyed on the block and each block's pair
    * work is quadratic only in ITS size (the standard record-linkage
    * blocking design). `levenshtein` evaluates inside codegen on the
    * candidate pairs only, and a cheap length-difference filter (length
    * delta > maxEdits implies edit distance > maxEdits) prunes before
    * the DP runs.
    *
    * `dedupeTitles = true` runs the quadratic stage over DISTINCT titles
    * instead of documents — the dedup-before-quadratic-work move the
    * gram pipeline makes with distinct shingles: boilerplate corpora
    * repeat a small title set across many documents, and title-level
    * pairs expand back to document pairs through two equi-joins
    * (identical-title documents pair through the title's 0-edit
    * self-pair), cutting DP work by the square of the repetition factor.
    * The default is the direct doc-level join: on a mostly-unique-title
    * corpus the distinct pass plus two expansion joins is pure overhead
    * (measured ~2x slower on the near-unique fixture corpus). Both paths
    * are result-identical — DedupSpec pins byte-equality.
    *
    * Recall contract, stated not hidden: an edit INSIDE the blocking
    * prefix escapes its block (the classic blocking tradeoff) — lower
    * `prefixLen`, or set `suffixBlock = true` to union a SECOND pass
    * blocked on the title's first `prefixLen` characters REVERSED-from-
    * the-end (reverse-then-prefix, so titles shorter than the key block
    * on their whole reversal — no negative-index edge case): a pair
    * whose edits all sit in the prefix still agrees on the suffix key
    * and vice versa, so only pairs edited at BOTH ends within maxEdits
    * of each other remain out of reach. Both passes produce canonical
    * (doc_a, doc_b, edits) rows and the union dedups exactly. A
    * degenerately hot block (boilerplate titles) is the same salting
    * territory as [[candidatePairs]]: `saltBuckets > 1` routes the
    * block self-join through [[Skew.saltedJoinSkewed]], spreading only
    * blocks past `saltHotThreshold`.
    *
    * @return (doc_a, doc_b, edits), doc_a < doc_b, edits <= maxEdits
    */
  def fuzzyTitlePairs(
      docs: DataFrame,
      maxEdits: Int = 2,
      prefixLen: Int = 4,
      nTokens: Int = 5,
      saltBuckets: Int = 0,
      saltHotThreshold: Long = 1000L,
      dedupeTitles: Boolean = false,
      suffixBlock: Boolean = false): DataFrame = {
    require(maxEdits >= 0 && prefixLen >= 1, "maxEdits >= 0, prefixLen >= 1")
    val titled = docs
      .select(col("doc_id"), titleKey(col("text"), nTokens).as("title"))
      .filter(length(col("title")) > 0)
    val prefixPass = onePassFuzzy(
      titled.withColumn("blk", substring(col("title"), 1, prefixLen)),
      maxEdits, saltBuckets, saltHotThreshold, dedupeTitles)
    if (!suffixBlock) prefixPass
    else prefixPass
      .unionByName(onePassFuzzy(
        titled.withColumn("blk", substring(reverse(col("title")), 1, prefixLen)),
        maxEdits, saltBuckets, saltHotThreshold, dedupeTitles))
      // a pair caught by both keys carries identical (doc_a, doc_b,
      // edits) from each pass — set union, nothing weaker
      .distinct()
  }

  /** One blocked fuzzy pass over pre-keyed (doc_id, title, blk) rows —
    * the body [[fuzzyTitlePairs]] runs once per blocking key.
    */
  private def onePassFuzzy(
      keyed: DataFrame,
      maxEdits: Int,
      saltBuckets: Int,
      saltHotThreshold: Long,
      dedupeTitles: Boolean): DataFrame = {
    def blockJoin(a: DataFrame, b: DataFrame): DataFrame =
      if (saltBuckets > 1) Skew.saltedJoinSkewed(a, b, Seq("blk"), saltBuckets, saltHotThreshold)
      else a.join(b, Seq("blk"))
    def lenPrune(df: DataFrame): DataFrame =
      df.filter(abs(length(col("title_a")) - length(col("title_b"))) <= maxEdits)
    if (!dedupeTitles) {
      lenPrune(blockJoin(
        keyed.select(col("blk"), col("doc_id").as("doc_a"), col("title").as("title_a")),
        keyed.select(col("blk"), col("doc_id").as("doc_b"), col("title").as("title_b"))))
        .filter(col("doc_a") < col("doc_b"))
        // banded DP: the threshold overload early-exits (returns -1) once
        // the distance provably exceeds maxEdits — O(maxEdits * len)
        // instead of O(len^2) per candidate pair
        .select(
          col("doc_a"), col("doc_b"),
          levenshtein(col("title_a"), col("title_b"), maxEdits).cast("long").as("edits"))
        .filter(col("edits") >= 0 && col("edits") <= maxEdits)
    } else {
      val titles = keyed.select("blk", "title").distinct()
      // unordered distinct-title pairs, INCLUDING the 0-edit self-pair
      // (title_a = title_b) — that row is what pairs identical-title docs
      val titlePairs = lenPrune(blockJoin(
        titles.select(col("blk"), col("title").as("title_a")),
        titles.select(col("blk"), col("title").as("title_b"))))
        .filter(col("title_a") <= col("title_b"))
        .select(
          col("title_a"), col("title_b"),
          levenshtein(col("title_a"), col("title_b"), maxEdits).cast("long").as("edits"))
        .filter(col("edits") >= 0 && col("edits") <= maxEdits)
      // expand titles back to documents. Orientation is exact, no
      // distinct pass needed: across DIFFERENT titles each unordered doc
      // pair appears once (a document has ONE title) and least/greatest
      // canonicalizes it; within the self-pair, doc_a < doc_b dedups the
      // symmetric expansion
      titlePairs
        .join(keyed.select(col("title").as("title_a"), col("doc_id").as("da")), Seq("title_a"))
        .join(keyed.select(col("title").as("title_b"), col("doc_id").as("db")), Seq("title_b"))
        .filter(col("title_a") < col("title_b") || col("da") < col("db"))
        .select(
          least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"),
          col("edits"))
    }
  }
}

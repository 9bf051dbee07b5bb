package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Barrier

/** Similarity search over an embedding column (`embeddings.embedding`,
  * array<float> — FIXTURES.md §2).
  *
  * Two paths, per the brief:
  *   - exact brute-force cosine top-k — the correctness baseline. The probe
  *     set broadcasts against the corpus, so the "cross join" is a broadcast
  *     nested loop over |probes| x |corpus| with NO shuffle of the corpus;
  *     right for few-query/any-corpus-size workloads.
  *   - random-hyperplane LSH bucketing — the scale path: corpus is bucketed
  *     once (pure column math, no shuffle), queries probe only their own
  *     buckets across T tables, and only candidates get exact scoring.
  *
  * All dot products cast elements to double BEFORE multiplying and fold
  * sequentially (functions.aggregate), so Spark and the DuckDB oracle
  * compute bit-identical sums.
  */
object Similarity {

  /** Sequential-fold dot product in double precision — the fused native
    * expression (graft.functions.DotProductExpr): one codegen'd loop with
    * the same products and summation order as the
    * `aggregate(zip_with(...))` formulation, so results (and DuckDB oracle
    * parity) are unchanged while skipping the interpreted-lambda dispatch
    * and intermediate array per row.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each probe vector.
    *
    * @param probes (q_id, q_emb) — small; broadcast
    * @param corpus (vec_id, embedding)
    * @return (q_id, rank, vec_id, sim) — rank 1..k by cosine desc; ties
    *         broken on (round(sim, 6), vec_id) so ordering is deterministic
    *         across engines
    */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // norms hoisted to one evaluation per vector (identical doubles to the
    // per-pair form — same expression, so oracle parity is unaffected)
    val corpusN = corpus.withColumn("nrm_c", norm(col("embedding")))
    val probesN = probes.withColumn("nrm_q", norm(col("q_emb")))
    val scored = corpusN
      .crossJoin(broadcast(probesN))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim", dot(col("q_emb"), col("embedding")) / (col("nrm_q") * col("nrm_c")))
      // CrossRound.r so the rank bucketing matches the oracle's multiply-
      // based round(sim, 6) on repr-tie values (the 12.34565 class)
      .withColumn("sim_r", CrossRound.r(col("sim"), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim_r").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("sim"))
  }

  /** Hard-negative mining for contrastive/embedding-model training
    * data: for each anchor, the k MOST similar vectors that are valid
    * negatives — a different label than the anchor (same-label hits
    * are positives) and below the near-duplicate ceiling (a ~0.95+
    * cosine "negative" is almost always a mislabeled duplicate, the
    * classic false-negative trap in contrastive sampling). What
    * remains, ranked by similarity desc, is exactly the semi-hard band
    * that makes triplet/InfoNCE training effective.
    *
    * Both cuts compare the ROUNDED similarity (CrossRound.r, the
    * shared rank convention) so the dup boundary and the k boundary
    * are engine-stable. Corpus rows with a NULL label are never
    * negatives (the label comparison is null — a row of unknown class
    * cannot be certified as a different class). Exhaustive corpus × broadcast(anchors) scoring
    * like [[bruteForceTopK]] — the documented baseline; at corpus
    * scale mine from [[ivfTopK]]/[[annTopK]] candidates instead (same
    * filters over a bounded candidate set).
    */
  def hardNegatives(
      probes: DataFrame,
      corpus: DataFrame,
      k: Int,
      dupThreshold: Double = 0.95): DataFrame = {
    val corpusN = corpus.withColumn("nrm_c", norm(col("embedding")))
    val probesN = probes.withColumn("nrm_q", norm(col("q_emb")))
    val scored = corpusN
      .crossJoin(broadcast(probesN))
      .filter(col("q_id") =!= col("vec_id") && col("label") =!= col("q_label"))
      .withColumn("sim", dot(col("q_emb"), col("embedding")) / (col("nrm_q") * col("nrm_c")))
      .withColumn("sim_r", CrossRound.r(col("sim"), 6))
      .filter(col("sim_r") < dupThreshold)
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim_r").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("label"), col("sim"))
  }

  /** Threshold pairs restricted to a blocking key (equi-join instead of a
    * cross join): the standard scale pattern when a cheap partition key
    * (label, language, cluster id) bounds where near-dups can live —
    * pair count drops from n^2 to sum of block sizes squared.
    */
  def blockedThresholdPairs(emb: DataFrame, blockKey: String, threshold: Double): DataFrame = {
    // norm per vector, not per pair: |pairs| >> |vectors| inside any block
    val withNorm = emb.withColumn("nrm", norm(col("embedding")))
    val a = withNorm.select(
      col(blockKey), col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"))
    val b = withNorm.select(
      col(blockKey), col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"))
    a.join(b, Seq(blockKey))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("sim") >= threshold)
      .select(col(blockKey), col("vec_a"), col("vec_b"), col("sim"))
  }

  /** Embedding-space decontamination: drop every corpus vector whose
    * cosine to ANY banned (benchmark/eval-set) vector reaches
    * `threshold` — the SEMANTIC sibling of TextOps.decontaminate, which
    * only catches verbatim n-gram overlap; a paraphrased eval item
    * passes the exact check and leaks anyway (the contamination class
    * the GPT-3 appendix and every since-published decontam writeup
    * worries about).
    *
    * Scale posture: the banned side is a benchmark suite — thousands of
    * rows, BOUNDED — so it broadcasts and the corpus NEVER shuffles:
    * scoring is a map-only pass of |banned| fused dot products per
    * corpus row, and the kill set comes back as a broadcast semi-join.
    * The threshold compares at round(sim, 6) on both engines (the
    * x44 threshold rule). Zero-norm rows cannot match (guarded — NaN
    * would satisfy no comparison but still poisons plans elsewhere).
    *
    * @return the surviving corpus rows, schema unchanged
    */
  def semanticDecontaminate(
      corpus: DataFrame,
      banned: DataFrame,
      threshold: Double): DataFrame = {
    val bannedN = broadcast(
      banned.select(col("q_emb"), norm(col("q_emb")).as("nrm_b")))
    val contaminated = corpus
      .withColumn("nrm_c", norm(col("embedding")))
      .crossJoin(bannedN)
      .withColumn("sim",
        when(col("nrm_c") * col("nrm_b") > 0,
          dot(col("embedding"), col("q_emb")) / (col("nrm_c") * col("nrm_b")))
          .otherwise(lit(Double.NegativeInfinity)))
      .filter(CrossRound.r(col("sim"), 6) >= threshold)
      .select(col("vec_id"))
      .distinct()
    corpus.join(contaminated, Seq("vec_id"), "left_anti")
  }

  // -------------------------------------------------------------------
  // int8 quantization: the standard 4x memory/shuffle compression for
  // embedding corpora at 100 TB — float32 vectors dominate scan and
  // shuffle bytes in every ANN path above, and symmetric per-vector
  // int8 keeps cosine error negligible relative to LSH/IVF's own
  // approximation. Pure column math, no UDF.
  // -------------------------------------------------------------------

  /** Per-vector symmetric int8 quantization: scale = max|x| / 127,
    * q_i = round(x_i / scale) in [-127, 127]. The scale stays a DOUBLE so
    * max|x|/scale lands on exactly 127 +- 1 ulp (a float-rounded scale
    * could push the ratio past 127.5 and overflow the tinyint). All-zero
    * vectors quantize to zeros with scale 0.
    * Output: (vec_id, q: array<tinyint>, scale: double).
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val maxAbs = aggregate(
      col("embedding"), lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double"))))
    emb
      .withColumn("scale", maxAbs / 127.0)
      .select(
        col("vec_id"),
        when(col("scale") === 0.0, transform(col("embedding"), _ => lit(0)))
          .otherwise(
            transform(col("embedding"), x => round(x.cast("double") / col("scale"))))
          .cast("array<tinyint>").as("q"),
        col("scale"))
  }

  /** Reconstruct approximate float vectors from int8 codes — the read
    * side of [[quantizeInt8]]; feeds any operator above that expects an
    * `embedding` column.
    */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => (x.cast("double") * scale).cast("float"))

  /** The embeddings frame with vectors round-tripped through int8 — the
    * corpus an ANN pipeline actually serves from at scale. Deterministic
    * column math end to end, so downstream top-k stays rows-stable.
    */
  def quantizedCorpus(emb: DataFrame): DataFrame =
    quantizeInt8(emb)
      .select(col("vec_id"), dequantize(col("q"), col("scale")).as("embedding"))

  /** Retrieval-quality metrics — the evaluation harness every ANN/
    * compression trade-off decision needs: per probe, recall@k (what
    * fraction of the exact top-k the candidate system returned) and
    * MRR (1 / rank of its first truly-relevant result; 0 when none
    * is). `truth` and `approx` are top-k frames in the
    * [[bruteForceTopK]] shape (q_id, rank, vec_id) — compose any two
    * retrieval paths (exact vs int8, exact vs IVF, BM25 vs reranked)
    * into one scored report.
    *
    * All arithmetic is exact-integer-fed (hit counts, min ranks), so
    * the metrics are drift-free; probes with zero overlap surface as
    * explicit 0.0 rows (a silent dropout would read as "not
    * evaluated"). Shapes: the inputs are probe×k-bounded — every join
    * here is q_id-keyed over frames ALREADY reduced from the corpus,
    * so the report costs nothing at any scale.
    */
  def retrievalMetrics(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // both inputs are probe×k-bounded BY CONTRACT, but the stats
    // estimator cannot see that through the upstream aggregates —
    // explicit broadcast hints keep these joins off the SMJ path
    val hits = approx.select(col("q_id"), col("rank"), col("vec_id"))
      .join(broadcast(truth.select(col("q_id"), col("vec_id"))), Seq("q_id", "vec_id"))
    truth.select("q_id").distinct()
      .join(
        broadcast(hits.groupBy("q_id").agg(
          (count(lit(1)).cast("double") / k).as("recall_at_k"),
          (lit(1.0) / min(col("rank"))).as("mrr"))),
        Seq("q_id"), "left")
      .na.fill(0.0, Seq("recall_at_k", "mrr"))
  }

  // -------------------------------------------------------------------
  // Product quantization (Jegou, Douze, Schmid 2011, "Product
  // quantization for nearest neighbor search"): split each vector into m
  // subvectors, k-means each subspace to ksub centroids, store a vector
  // as m sub-byte codes. Where int8 compresses 4x, PQ compresses
  // dim*4 bytes -> m bytes (32x at dim=64, m=8) plus one shared
  // m x ksub x (dim/m) codebook — the difference between an embedding
  // corpus that fits executor memory and one that doesn't at 100 TB.
  // Training state is bounded (codebooks), encode/decode are pure
  // projections (NO shuffle), and search reuses the exact brute-force
  // scorer over reconstructed vectors.
  // -------------------------------------------------------------------

  /** |c|^2 for a literal centroid, folded in index order — matches
    * `dot(centroid, centroid)`'s sequential sum bit-exactly.
    */
  private def norm2Lit(centroid: Array[Float]): Double =
    centroid.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)

  /** Per-subspace centroid lookup tables, one literal nested array each —
    * shared by every ADC consumer so code indexing lives in ONE place.
    */
  private def pqTables(cb: Array[Array[Array[Float]]]): IndexedSeq[Column] =
    cb.toIndexedSeq.map(book =>
      array(book.map(c => array(c.toIndexedSeq.map(lit): _*)).toIndexedSeq: _*))

  /** The 1-based lookup index for subspace s, from a bound `codes` column. */
  private def pqCodeAt(s: Int): Column = element_at(col("codes"), s + 1).cast("int") + 1

  /** ADC approximate dot(q, decode(codes)): per-subspace codegen'd dots of
    * the q slice against the code's centroid lookup, summed — reads the
    * bound `codes` column, never a decode expression.
    */
  private def pqAdcDot(qEmb: Column, cb: Array[Array[Array[Float]]]): Column = {
    val dsub = cb(0)(0).length
    val tables = pqTables(cb)
    cb.indices
      .map(s => dot(slice(qEmb, s * dsub + 1, dsub), element_at(tables(s), pqCodeAt(s))))
      .reduce(_ + _)
  }

  /** Default model-fitting sample size: FAISS's ballpark (max_points_per_
    * centroid x the largest ksub this engine uses) — big enough that the
    * tiny harness corpora are sampled in FULL (training is then identical
    * to full-corpus training), small enough that driver Lloyd is
    * millisecond arithmetic at any corpus size.
    */
  val DefaultTrainSample = 16384

  /** Bounded deterministic model-fitting sample: the `maxTrain` corpus
    * vectors with smallest (xxhash64(vec_id), vec_id) — ONE TakeOrdered
    * job, the same ordering as [[ivfCentroids]] and the codebook seeding
    * rule, so the first c (ksub) sample rows ARE the coarse-centroid
    * (seed) choice the distributed recipes make. This is the FAISS
    * posture: model fitting reads a fixed-size sample no matter the
    * corpus size. At 100 TB the sample costs one scan + top-maxTrain
    * (combinable per partition), and every Lloyd iteration is driver
    * arithmetic over maxTrain x dim floats instead of a corpus-wide
    * shuffle per iteration; at harness scale it collapses ~20 scheduling
    * barriers per ANN query into one job (measured: the entire gap
    * between IVFADC and the other ANN paths was fixed per-job overhead,
    * not data).
    */
  def trainingSample(
      corpus: DataFrame, maxTrain: Int = DefaultTrainSample): Array[Array[Float]] =
    corpus
      // cast up front: codebooks are float by contract (PQ is lossy);
      // for the float testdata the cast is a no-op
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(maxTrain)
      .collect()
      .map(_.getSeq[Float](1).toArray)

  /** Driver-side per-subspace PQ Lloyd over a bounded sample — the same
    * math the distributed loop ran, in sample (hash) order: seeds are the
    * first min(ksub, n) sample rows' subvectors; assignment is
    * argmin |c|^2 - 2 sv.c in double with ties to the smallest code
    * (exactly [[pqEncodeCol]]'s rule, so encode reproduces training
    * assignments bit-for-bit); non-empty cells re-center on the member
    * mean pre-rounded through CrossRound.raD(7) before the float cast
    * (the same drift collapse the distributed aggregation used — here it
    * keeps driver- and cluster-trained codebooks on one lattice); empty
    * cells keep their centroid. Subspaces are independent, so the
    * per-sub loop equals the old all-subs-per-shuffle schedule.
    */
  private def lloydCodebooksLocal(
      sample: Array[Array[Float]],
      m: Int,
      ksub: Int,
      iters: Int,
      dim: Int): Array[Array[Array[Float]]] = {
    val dsub = dim / m
    val k = math.min(ksub, sample.length)
    val cb: Array[Array[Array[Float]]] =
      Array.tabulate(m)(s => Array.tabulate(k)(i => sample(i).slice(s * dsub, (s + 1) * dsub)))
    for (_ <- 0 until iters; s <- 0 until m) {
      val sums = Array.fill(k, dsub)(0.0)
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          val cent = cb(s)(c)
          var cn2 = 0.0
          var d = 0.0
          var t = 0
          while (t < dsub) {
            val x = cent(t).toDouble
            cn2 += x * x
            d += v(s * dsub + t).toDouble * x
            t += 1
          }
          val score = cn2 - 2.0 * d
          if (score < bestD) { bestD = score; best = c } // strict: ties keep the smaller code
          c += 1
        }
        counts(best) += 1
        var t = 0
        while (t < dsub) { sums(best)(t) += v(s * dsub + t).toDouble; t += 1 }
      }
      for (c <- 0 until k if counts(c) > 0; t <- 0 until dsub)
        cb(s)(c)(t) = CrossRound.raD(sums(c)(t) / counts(c), 7).toFloat
    }
    cb
  }

  /** Driver-side cosine k-means over a bounded sample (the coarse-
    * quantizer twin of [[lloydCodebooksLocal]]): init is the first
    * min(c, n) sample rows ([[ivfCentroids]]' choice), assignment is
    * argmax cosine with ties to the smaller centroid id, means
    * pre-round through raD(7) before the float cast, empty cells keep
    * their centroid.
    */
  private def lloydRefineLocal(
      sample: Array[Array[Float]], c: Int, iters: Int): Array[Array[Float]] = {
    val k = math.min(c, sample.length)
    val cents = Array.tabulate(k)(i => sample(i).clone())
    val dim = if (sample.isEmpty) 0 else sample(0).length
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0
        var bestSim = Double.NegativeInfinity
        var i = 0
        while (i < k) {
          val sim = cosineLocal(v, cents(i))
          if (sim > bestSim) { bestSim = sim; best = i } // strict: ties keep the smaller id
          i += 1
        }
        counts(best) += 1
        var t = 0
        while (t < dim) { sums(best)(t) += v(t).toDouble; t += 1 }
      }
      for (i <- 0 until k if counts(i) > 0; t <- 0 until dim)
        cents(i)(t) = CrossRound.raD(sums(i)(t) / counts(i), 7).toFloat
    }
    cents
  }

  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Driver-built centroid relation: (centroid_id, centroid) as a
    * LocalRelation, ordinal ids in sample (hash) order. Broadcasting a
    * LocalRelation is a driver-side copy — NO Spark job — so every
    * downstream broadcast argmax join costs zero scheduling barriers.
    */
  private def centroidsDF(
      spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Float]]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("centroid_id", LongType, nullable = false),
      StructField("centroid", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    cents.zipWithIndex.foreach { case (v, i) =>
      rows.add(org.apache.spark.sql.Row(i.toLong, v.toSeq))
    }
    spark.createDataFrame(rows, schema)
  }

  /** Train per-subspace PQ codebooks on a bounded deterministic sample.
    *
    * Fitting = [[trainingSample]] (one TakeOrdered job) +
    * [[lloydCodebooksLocal]] (driver arithmetic): the distributed
    * two-shuffles-per-iteration Lloyd this replaces spent its whole cost
    * on scheduling at harness scale and would spend it on corpus-wide
    * shuffles at 100 TB — sample-trained codebooks with one full encode
    * pass are the standard recipe (FAISS trains on a bounded sample
    * regardless of index size). Squared L2 is the PQ metric (cosine is
    * wrong on subvectors, whose norms carry signal). Training is
    * trivially width-deterministic: the sample is hash-ordered and the
    * driver loop is sequential.
    *
    * The return is bounded MODEL state (m x ksub x dim/m floats, the
    * same class as [[hyperplanes]]' literals), not data.
    *
    * @return codebooks(sub)(code) = centroid of length dim/m
    */
  def pqCodebooks(
      corpus: DataFrame,
      m: Int,
      ksub: Int,
      iters: Int = 2,
      dim: Int = 64,
      maxTrain: Int = DefaultTrainSample): Array[Array[Array[Float]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(ksub >= 1 && ksub <= 128, "ksub must fit a tinyint code in [1, 128]")
    val sample = trainingSample(corpus, maxTrain)
    require(sample.nonEmpty,
      "PQ training requires a non-empty corpus (no codebook seeds found)")
    lloydCodebooksLocal(sample, m, ksub, iters, dim)
  }

  /** PQ-encode an embedding column: per subspace, the argmin code over
    * the codebook, as ONE fused native expression
    * ([[graft.functions.PqEncodeExpr]] — codegen'd loop; the literal-
    * expanded Column composition was ~10k interpreted nodes per row and
    * dominated the whole search). Same |c|^2 - 2 sv.c score and fold
    * order as training's assignment, so codes reproduce the trained
    * partition bit-exactly. Pure projection — the 100 TB encode pass is
    * map-only, no shuffle.
    */
  def pqEncodeCol(emb: Column, codebooks: Array[Array[Array[Float]]]): Column =
    graft.functions.PqEncodeExpr.pqEncode(emb, codebooks)

  /** Reconstruct the approximate vector from PQ codes: codebook lookups
    * into ONE literal m x ksub x dsub table, flattened. The codes column
    * is referenced exactly once (the transform lambda binds it), so
    * composing decode over [[pqEncodeCol]]'s tree — as [[pqCorpus]] does
    * in a single projection — cannot duplicate the encode expression
    * m times into the task binary. Pure projection, the read side of
    * [[pqEncodeCol]].
    */
  def pqDecodeCol(codes: Column, codebooks: Array[Array[Array[Float]]]): Column = {
    val table = array(codebooks.map(book =>
      array(book.map(c => array(c.toIndexedSeq.map(lit): _*)).toIndexedSeq: _*)).toIndexedSeq: _*)
    flatten(transform(codes, (c, s) =>
      element_at(element_at(table, s + 1), c.cast("int") + 1)))
  }

  /** The embeddings frame round-tripped through PQ codes — the corpus an
    * ANN pipeline serves from when even int8 is too big ([[quantizedCorpus]]'s
    * 32x sibling). Encode + decode fuse into ONE scan-side projection.
    */
  def pqCorpus(
      emb: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 2, dim: Int = 64): DataFrame = {
    val cb = pqCodebooks(emb, m, ksub, iters, dim)
    emb.select(
      col("vec_id"),
      pqDecodeCol(pqEncodeCol(col("embedding"), cb), cb).as("embedding"))
  }

  /** Asymmetric-distance top-k over the PQ corpus (ADC — Jegou et al.
    * §4.2): queries stay exact; each candidate's score is assembled from
    * its codes alone — per subspace, dot(q_s, codebook[s][code_s]) via
    * literal table lookups, and |x̂|^2 = Σ_s |c_{s,code_s}|^2 from a
    * literal norm table (exact, since x̂ is the concatenation). The
    * corpus side is first MATERIALIZED as (vec_id, codes, nrm) — m bytes
    * + one double per vector, the form a PQ system stores at rest (and
    * 32x smaller than the floats, so the checkpoint is cheap). This also
    * pins encode to ONE evaluation per corpus row: left lazy under the
    * cross join, CollapseProject inlines the whole argmin-encode tree
    * into every per-pair score reference (measured 5x slower).
    */
  def pqTopK(
      probes: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2,
      dim: Int = 64): DataFrame =
    pqTopKWith(probes, corpus, k, pqCodebooks(corpus, m, ksub, iters, dim))

  /** [[pqTopK]] against PRECOMPUTED codebooks — the model-state split
    * ([[ivfTopKWith]]'s rationale): the ADC search plan is identical,
    * the codebooks are whatever the caller fitted or loaded.
    */
  def pqTopKWith(
      probes: DataFrame,
      corpus: DataFrame,
      k: Int,
      cb: Array[Array[Array[Float]]]): DataFrame = {
    val m = cb.length
    val norm2Tables = cb.map(book =>
      array(book.map(c => lit(norm2Lit(c))).toIndexedSeq: _*))
    val codedN = corpus
      .select(col("vec_id"), pqEncodeCol(col("embedding"), cb).as("codes"))
      .withColumn(
        "nrm_c",
        sqrt((0 until m).map(s => element_at(norm2Tables(s), pqCodeAt(s))).reduce(_ + _)))
      // lazy persist: the cache boundary still blocks CollapseProject from
      // inlining the encode into per-pair references (the 5x class above),
      // but materialization folds into the search job instead of paying
      // its own eager-barrier round-trip
      .persist()
    val probesN = probes.withColumn("nrm_q", norm(col("q_emb")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(CrossRound.r(col("sim"), 6).desc, col("vec_id"))
    codedN
      .crossJoin(broadcast(probesN))
      .filter(col("q_id") =!= col("vec_id"))
      // a zero reconstruction (every chosen code a zero vector) makes the
      // cosine 0/0 = NaN, and Spark sorts NaN ABOVE every double — under
      // the descending rank window a degenerate candidate would top every
      // list. Sink it to -Inf instead so it ranks last.
      .withColumn("sim",
        when(col("nrm_q") * col("nrm_c") > 0,
          pqAdcDot(col("q_emb"), cb) / (col("nrm_q") * col("nrm_c")))
          .otherwise(lit(Double.NegativeInfinity)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("sim"))
  }

  /** IVF + PQ composite (IVFADC — Jegou et al. 2011 §IV, the FAISS
    * billion-vector layout): coarse IVF cells bound WHICH vectors a probe
    * scores (nprobe cells of ~|corpus|/c), PQ codes bound the BYTES each
    * candidate costs (m + 9 per vector at rest vs dim*4 floats). True
    * RESIDUAL encoding: codes quantize x - centroid(cell), so codebook
    * precision is spent on within-cell variance rather than re-describing
    * the coarse structure — reconstruction is centroid + decode(codes).
    *
    * Scoring is ADC split along the residual decomposition:
    * dot(q, x̂) = dot(q, centroid) + dot(q, r̂). The first term is
    * computed once per (probe, cell) — nprobe rows per probe, already in
    * hand when probes pick their cells; the second assembles from the
    * residual-codebook literal tables like [[pqTopK]]. |x̂| is exact,
    * computed once at encode time and stored beside the codes.
    *
    * At-rest state: the coded corpus (cell, vec_id, codes, nrm — the
    * lazy-persisted frame below; a production pipeline persists it as a
    * table) plus bounded model state (c coarse centroids + m x ksub
    * residual codebooks), all fit driver-side from one bounded sample
    * job — see [[trainingSample]] for the 100 TB argument.
    */
  def ivfPqTopK(
      probes: DataFrame,
      corpus: DataFrame,
      k: Int,
      c: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 1,
      refineIters: Int = 0,
      dim: Int = 64,
      maxTrain: Int = DefaultTrainSample): DataFrame = {
    val (cents, cb) = ivfPqModel(corpus, c, m, ksub, iters, refineIters, dim, maxTrain)
    ivfPqTopKWith(probes, corpus, k, cents, cb, nprobe)
  }

  /** Fit the IVFADC model state — coarse centroids + RESIDUAL codebooks
    * — from ONE bounded sample job (the [[trainingSample]] doc has the
    * 100 TB argument). Driver fitting replays the exact cluster rules:
    * cell assignment is argmax cosine with ties to the smaller id
    * ([[ivfAssign]]), residuals subtract in FLOAT (the zip_with lattice
    * the encode pass uses), and PQ seeds are the first ksub hash-ordered
    * residuals (the old seeding rule, inherited from the sample order).
    * Exposed (the [[kmeansCentroidArrays]] pattern) so a caller or an
    * external oracle can capture the exact state a search ran with.
    */
  def ivfPqModel(
      corpus: DataFrame,
      c: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 1,
      refineIters: Int = 0,
      dim: Int = 64,
      maxTrain: Int = DefaultTrainSample): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(ksub >= 1 && ksub <= 128, "ksub must fit a tinyint code in [1, 128]")
    val sample = trainingSample(corpus, maxTrain)
    require(sample.nonEmpty,
      "PQ training requires a non-empty corpus (no codebook seeds found)")
    val cents: Array[Array[Float]] =
      if (refineIters > 0) lloydRefineLocal(sample, c, refineIters)
      else sample.take(c).map(_.clone())
    val resid: Array[Array[Float]] = sample.map { v =>
      var best = 0
      var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < cents.length) {
        val sim = cosineLocal(v, cents(i))
        if (sim > bestSim) { bestSim = sim; best = i }
        i += 1
      }
      val r = new Array[Float](v.length)
      var t = 0
      while (t < v.length) { r(t) = v(t) - cents(best)(t); t += 1 }
      r
    }
    (cents, lloydCodebooksLocal(resid, m, ksub, iters, dim))
  }

  /** [[ivfPqTopK]] against PRECOMPUTED model state from [[ivfPqModel]]
    * — the same split as [[pqTopKWith]]; the search plan is identical.
    */
  def ivfPqTopKWith(
      probes: DataFrame,
      corpus: DataFrame,
      k: Int,
      cents: Array[Array[Float]],
      cb: Array[Array[Array[Float]]],
      nprobe: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    val m = cb.length
    val stride = cb(0).length
    val dsub = cb.head.head.length
    // |x̂|^2 decomposed along the residual split, all terms precomputable
    // from bounded model state: |x̂|^2 = |centroid|^2
    //   + 2 Σ_s dot(centroid_s, c_{s,code_s})   (per-cell m x ksub table)
    //   + Σ_s |c_{s,code_s}|^2                  (cell-independent table)
    // — so the at-rest norm assembles from the codes by table lookups and
    // the reconstruction (the 64-wide decode the old path materialized
    // per row) never exists.
    val n2Table: Array[Double] = cb.flatMap(book => book.map(norm2Lit))
    val cdotTables: Array[Array[Double]] = cents.map { ctr =>
      cb.indices.flatMap { s =>
        cb(s).map { code =>
          var d = 0.0
          var t = 0
          while (t < dsub) { d += ctr(s * dsub + t).toDouble * code(t).toDouble; t += 1 }
          d
        }
      }.toArray
    }
    val centroids = centroidsDF(spark, cents)
    // per-cell meta beside the centroid, one LocalRelation (broadcast =
    // driver-side copy, no job): the centroid feeds the residual
    // projection, cn2c/cdot feed the norm assembly
    val cellMeta = {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("cell", LongType, nullable = false),
        StructField("centroid", ArrayType(FloatType, containsNull = false), nullable = false),
        StructField("cn2c", DoubleType, nullable = false),
        StructField("cdot", ArrayType(DoubleType, containsNull = false), nullable = false)))
      val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
      cents.zipWithIndex.foreach { case (v, i) =>
        rows.add(org.apache.spark.sql.Row(i.toLong, v.toSeq, norm2Lit(v), cdotTables(i).toSeq))
      }
      spark.createDataFrame(rows, schema)
    }
    val n2Lit = array(n2Table.toIndexedSeq.map(lit): _*)
    // Σ_s table[s * stride + code_s]: an m-element lookup fold over the
    // codes column against either the literal norm table or the row's
    // cell table
    def codeTableSum(table: Column): Column =
      aggregate(
        transform(col("codes"), (cd, s) =>
          element_at(table, s * stride + cd.cast("int") + 1)),
        lit(0.0), (acc, x) => acc + x)
    // the at-rest form: m residual codes + the reconstruction norm.
    // persist (lazy) rather than checkpoint (eager): the cache boundary
    // still pins the encode to ONE evaluation per corpus row — an
    // InMemoryRelation cannot be projection-collapsed into the per-pair
    // score references above the join (the 5x duplication class pqTopK
    // documents) — but the materialization happens inside the final
    // query job instead of its own barrier. Cache-lifetime trade-off
    // (the TextOps.tfidfTopTerms note, inverted): entries outlive the
    // returned frame until clearCache()/unpersist — fine for the
    // query-at-a-time harness and notebooks; a long-lived service
    // materializes the coded corpus into a VersionedTable instead (the
    // documented at-rest path), which removes the cache AND the refit.
    val coded = ivfAssign(corpus, centroids)
      .join(broadcast(cellMeta), Seq("cell"))
      .select(
        col("cell"), col("vec_id"),
        pqEncodeCol(
          zip_with(col("embedding"), col("centroid"), (x, y) => x - y), cb).as("codes"),
        col("cn2c"), col("cdot"))
      .select(
        col("cell"), col("vec_id"), col("codes"),
        // clamp before sqrt: the analytic value is >= 0 but the regrouped
        // table sum can land at -1ulp for a zero reconstruction, and
        // sqrt(-1e-18) = NaN would rank FIRST under the desc window
        sqrt(greatest(
          lit(0.0),
          col("cn2c") + lit(2.0) * codeTableSum(col("cdot")) + codeTableSum(n2Lit))).as("nrm_c"))
      .persist()
    val probeCells = nearestCells(probes, centroids, nprobe)
      .select(
        col("cell"), col("q_id"), col("q_emb"),
        dot(col("q_emb"), col("centroid")).as("qc_dot"),
        norm(col("q_emb")).as("nrm_q"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(CrossRound.r(col("sim"), 6).desc, col("vec_id"))
    // probe side is |probes| x nprobe rows — broadcast so the coded corpus
    // never shuffles (the ivfTopK rule); each (q, vec) meets at most once
    broadcast(probeCells)
      .join(coded, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      // same NaN sink as pqTopK: a zero residual reconstruction in a zero
      // cell gives nrm_c = 0 and NaN would rank FIRST under desc ordering
      .withColumn("sim",
        when(col("nrm_q") * col("nrm_c") > 0,
          (col("qc_dot") + pqAdcDot(col("q_emb"), cb)) / (col("nrm_q") * col("nrm_c")))
          .otherwise(lit(Double.NegativeInfinity)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("sim"))
  }

  // -------------------------------------------------------------------
  // Random-hyperplane LSH (Charikar 2002): sign-bit buckets, T tables.
  // -------------------------------------------------------------------

  /** Deterministic Gaussian hyperplanes: T tables x nBits planes x dim. */
  def hyperplanes(tables: Int, bits: Int, dim: Int, seed: Long = 11L): Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian())))
  }

  private def planeLit(p: Array[Double]): Column = array(p.toIndexedSeq.map(lit): _*)

  /** Packed sign-bit bucket id for one table — pure column math, shuffle-free. */
  def bucketCol(emb: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex
      .map { case (p, i) =>
        when(dot(emb, planeLit(p)) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
      }
      .reduce((a, b) => a.bitwiseOR(b))

  /** Corpus bucketed across T tables: (vec_id, embedding, table_id, bucket). */
  def bucketize(emb: DataFrame, planes: Seq[Seq[Array[Double]]]): DataFrame = {
    val buckets = array(planes.map(t => bucketCol(col("embedding"), t)): _*)
    emb.select(col("*"), posexplode(buckets).as(Seq("table_id", "bucket")))
  }

  // -------------------------------------------------------------------
  // IVF (inverted-file) coarse quantization — the other scale path the
  // brief names. Centroids are a deterministic hash-ordered sample of the
  // corpus (a k-means refinement drops in without changing the layout);
  // each vector lives in exactly one cell, queries probe the nprobe
  // nearest cells.
  // -------------------------------------------------------------------

  /** Deterministic centroid sample: the c corpus vectors with smallest
    * xxhash64(vec_id) — stable across runs, uniform over the corpus.
    */
  def ivfCentroids(corpus: DataFrame, c: Int): DataFrame =
    corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(c)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))

  /** Lloyd refinement of the hash-sampled centroids — the standard IVF
    * training step (the sample is the init, k-means tightens it), fit
    * driver-side from [[trainingSample]]'s bounded sample (one job; the
    * doc there has the 100 TB argument — sampled training + one full
    * assignment pass is the standard recipe, and the distributed
    * corpus-scan-per-iteration loop this replaces paid a localCheckpoint
    * barrier per iteration). Assignment is argmax cosine with ties to
    * the smaller centroid id, empty cells keep their previous centroid
    * so c never shrinks, and means pre-round through CrossRound.raD(7)
    * BEFORE the float cast — the same drift-collapse lattice the
    * distributed aggregation used, kept so sample-trained and any
    * cluster-trained centroids stay comparable (the cast alone is only
    * probabilistic: a mean within ~1e-12 of a float rounding boundary
    * flips bits; 7 dp is within float precision near unit-scale
    * embeddings, so the round costs no real signal). Returns a
    * LocalRelation — broadcasting it downstream is job-free.
    */
  def kmeansCentroids(
      corpus: DataFrame,
      c: Int,
      iters: Int = 3,
      maxTrain: Int = DefaultTrainSample): DataFrame =
    centroidsDF(
      corpus.sparkSession,
      kmeansCentroidArrays(corpus, c, iters, maxTrain))

  /** The fitted centroids as driver arrays — the bounded MODEL STATE
    * behind [[kmeansCentroids]], exposed so a caller (or a correctness
    * oracle) can capture the exact values a query ran with and restate
    * the assignment arithmetic outside Spark. Same fit, same
    * determinism arguments.
    */
  def kmeansCentroidArrays(
      corpus: DataFrame,
      c: Int,
      iters: Int = 3,
      maxTrain: Int = DefaultTrainSample): Array[Array[Float]] =
    lloydRefineLocal(trainingSample(corpus, maxTrain), c, iters)

  /** The nprobe nearest centroids per probe (broadcast argmax, the probe-
    * side mirror of [[ivfAssign]]): (cell, q_id, q_emb, centroid) — shared
    * by [[ivfTopK]] and [[ivfPqTopK]] so the tie-break rule lives once.
    */
  private def nearestCells(probes: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("centroid_id"))
    probes
      .crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("q_emb"), col("centroid")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col("centroid_id").as("cell"), col("q_id"), col("q_emb"), col("centroid"))
  }

  /** Assign every vector to its nearest centroid (cosine): broadcast
    * nested loop over |corpus| x c, then a per-vector argmax — one shuffle
    * on vec_id at scale, cells come out hash-partitioned by centroid.
    */
  /** [[ivfAssign]] against captured centroid ARRAYS (committed model
    * state) — the committed-corpus materialization step of the
    * incremental SemDeDup shape: (cell, vec_id, embedding).
    */
  def assignCells(corpus: DataFrame, cents: Array[Array[Float]]): DataFrame =
    ivfAssign(corpus, centroidsDF(corpus.sparkSession, cents))
      .select(col("cell"), col("vec_id"), col("embedding"))

  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    corpus
      .crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("embedding"), col("centroid")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("centroid_id").as("cell"), col("vec_id"), col("embedding"))
  }

  /** Sign-bit binary quantization of an embedding column: dimension i
    * contributes bit (i mod 32) of limb ⌊i/32⌋ when the component is
    * ≥ 0 — 32 dims per long (limb width 32, not 64, is deliberate: the
    * oracle engine refuses 1<<63, and 32-bit limbs generalize past 64
    * dims with no sign-bit edge cases). 32× smaller than float32 and
    * distance becomes XOR+popcount — the memory/bandwidth trade modern
    * vector stores ship as "binary embeddings".
    */
  def signBits(embCol: String): Column = {
    // a SQL-string expression, not the Column DSL: the per-bit shift
    // amount is itself a column (the lambda variable i), and the
    // functions API types shiftleft's shift as a plain Int
    require(embCol.matches("[A-Za-z_][A-Za-z0-9_]*"), s"plain column name required: $embCol")
    expr(
      s"""transform(
         |  sequence(0, CAST(ceil(size($embCol) / 32.0) AS INT) - 1),
         |  l -> aggregate(sequence(0, 31), CAST(0 AS BIGINT),
         |    (acc, i) -> CASE
         |      WHEN l * 32 + i < size($embCol)
         |           AND element_at($embCol, l * 32 + i + 1) >= CAST(0.0 AS FLOAT)
         |      THEN acc + shiftleft(CAST(1 AS BIGINT), i)
         |      ELSE acc END))""".stripMargin)
  }

  /** Hamming distance between two limb arrays from [[signBits]]. */
  def hammingLimbs(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L),
      (acc, v) => acc + v)

  /** Binary-quantized ANN: Hamming pre-ranking over [[signBits]] packs,
    * exact cosine rerank of the per-probe pool — the two-stage shape
    * binary-embedding deployments run (scan the 32×-smaller bit index
    * with XOR+popcount, touch float vectors only for the top `rerank`
    * candidates). Returns (q_id, rank, vec_id, hamming, sim), top `k`
    * per probe by exact cosine.
    *
    * Scale shape: probes broadcast against the packed corpus (the
    * documented exhaustive class-(b) cross — at 100 TB the packed side
    * is the 32×-reduced bit table, which is the point), Hamming pool
    * bounded per probe by `rerank` through a WindowGroupLimit-pinned
    * row_number, exact cosine only on pool×probe rows. Recall contract:
    * a true top-k neighbor outside the Hamming top-`rerank` is missed —
    * raise `rerank` to trade scan cost for recall.
    *
    * Determinism: Hamming is integral (ties to the smaller vec_id);
    * rerank order keys on the 6-dp-rounded cosine then vec_id — the
    * x14 convention.
    */
  def binaryTopK(
      probes: DataFrame,
      corpus: DataFrame,
      k: Int,
      rerank: Int = 50): DataFrame = {
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1: k=$k rerank=$rerank")
    val packedCorpus = corpus.select(
      col("vec_id"), col("embedding"), signBits("embedding").as("bits"))
    val packedProbes = probes.select(
      col("q_id"), col("q_emb"), signBits("q_emb").as("q_bits"))
    val wPool = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(CrossRound.r(col("sim"), 6).desc, col("vec_id"))
    packedCorpus
      .crossJoin(broadcast(packedProbes))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("hamming", hammingLimbs(col("q_bits"), col("bits")))
      .withColumn("pool_rn", row_number().over(wPool))
      .filter(col("pool_rn") <= rerank)
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(
        col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"),
        col("hamming"), col("sim"))
  }

  /** Commit the binary-ANN SERVING index — (vec_id, bits, embedding) as a
    * VersionedTable snapshot. [[binaryTopK]] derives the sign-bit limbs
    * from the float embeddings inside every run, which confines the 32×
    * scan advantage to a single query's lifetime; at 100 TB the entire
    * point of binary quantization is that the packed limbs are the
    * AT-REST layout (the x63/x29b serve-from-committed-artifact
    * convention — the same move PQ/IVF make via ModelStore for their
    * fits). The float vector rides in the SAME table purely for the
    * rerank fetch: parquet is columnar, so the corpus-scale Hamming scan's
    * (vec_id, bits) projection never reads the float column (pinned by
    * BinaryIndexSpec's ReadSchema check), while rerank stays one
    * pool-bounded equi-join away without a second table. Returns the
    * committed version. Packing is a projection — no shuffle; the commit
    * is the only job.
    */
  def buildBinaryIndex(corpus: DataFrame, sink: graft.sources.VersionedTable): Long =
    sink.commit(corpus.select(
      col("vec_id"), signBits("embedding").as("bits"), col("embedding")))

  /** Append a batch to a committed binary index — O(batch): packing is a
    * projection over the new rows only, and
    * [[graft.sources.VersionedTable.appendCommit]] writes just the
    * batch's files, carrying the prior manifest untouched. The committed
    * corpus is never re-packed or re-read.
    */
  def appendBinaryIndex(batch: DataFrame, sink: graft.sources.VersionedTable): Long =
    sink.appendCommit(batch.select(
      col("vec_id"), signBits("embedding").as("bits"), col("embedding")))

  /** [[binaryTopK]] served from a COMMITTED [[buildBinaryIndex]] snapshot:
    * Hamming pre-rank scans the STORED (vec_id, bits) columns — the
    * 32×-smaller projection that is the operator's 100 TB rationale —
    * and float vectors are fetched only for the pool-bounded rerank
    * (≤ |probes|·rerank rows) via a broadcast equi-join back to the same
    * table's (vec_id, embedding) projection. Bit-for-bit the same result
    * as [[binaryTopK]] over the index's source corpus (floats round-trip
    * parquet exactly; Hamming/pool/rerank orderings are identical), so
    * the SAME oracle gates both layouts — the x29/x29b convention.
    */
  def binaryTopKIndexed(
      probes: DataFrame,
      index: DataFrame,
      k: Int,
      rerank: Int = 50): DataFrame = {
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1: k=$k rerank=$rerank")
    val packedProbes = probes.select(
      col("q_id"), col("q_emb"), signBits("q_emb").as("q_bits"))
    val wPool = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(CrossRound.r(col("sim"), 6).desc, col("vec_id"))
    // stage 1: XOR+popcount over the stored bit table; the projection is
    // (vec_id, bits) ONLY, so parquet column pruning never touches the
    // float column on the corpus-scale path
    val pool = index.select("vec_id", "bits")
      .crossJoin(broadcast(packedProbes.select(col("q_id"), col("q_bits"))))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("hamming", hammingLimbs(col("q_bits"), col("bits")))
      .withColumn("pool_rn", row_number().over(wPool))
      .filter(col("pool_rn") <= rerank)
      .select("q_id", "vec_id", "hamming")
    // stage 2: exact-cosine rerank — floats touched only for pool rows
    // (broadcast the bounded pool at the float projection, never the
    // reverse)
    index.select(col("vec_id"), col("embedding"))
      .join(broadcast(pool), Seq("vec_id"))
      .join(broadcast(packedProbes.select(col("q_id"), col("q_emb"))), Seq("q_id"))
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(
        col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"),
        col("hamming"), col("sim"))
  }

  /** Commit the IVF-ROUTED binary serving index: (cell, vec_id, bits,
    * embedding), each vector under its [[ivfAssign]] cell, laid out
    * range-partitioned on cell with per-file cell min/max in the
    * snapshot's `_stats` sidecar. This closes the one exhaustive class
    * the binary-ANN family had left: [[binaryTopKIndexed]] still scans
    * EVERY stored bit row per query (the documented class-(b)
    * allowance); with the committed centroids the repo already owns
    * routing the probes, [[ivfBinaryTopKIndexed]] reads only the probed
    * cells' FILES — file-level data skipping composed with the bit
    * table's 32× column advantage, so query IO scales with
    * nprobe/|cells| of 1/32nd of the corpus. Same recall contract as
    * classical IVF (x14): candidates are the probed cells' members, an
    * approximation the caller states, NOT a silent result change —
    * nprobe = |cells| reproduces the exhaustive scan row for row.
    */
  def buildBinaryIvfIndex(
      corpus: DataFrame,
      cents: Array[Array[Float]],
      sink: graft.sources.VersionedTable): Long = {
    val assigned = ivfAssign(corpus, centroidsDF(corpus.sparkSession, cents))
      .select(col("cell"), col("vec_id"), signBits("embedding").as("bits"), col("embedding"))
    // one file per cell-range: repartitionByRange gives each output file
    // a tight [min,max] on cell, which is exactly what pruneFilesIn eats
    Barrier.named(corpus, "ivfbin.index")(sink.commit(
      assigned.repartitionByRange(cents.length, col("cell"), col("vec_id")),
      statsColumns = Seq("cell")))
  }

  /** Binary ANN served from a [[buildBinaryIvfIndex]] snapshot with IVF
    * cell routing: each probe's nprobe nearest cells (same cosine +
    * tie-break as [[ivfTopKWith]]) bound BOTH the file set read — the
    * probed-cell union prunes the manifest through the `_stats` sidecar
    * before any task launches — and the per-probe candidate set (an
    * equi-join on cell replaces [[binaryTopKIndexed]]'s exhaustive
    * cross). Hamming pre-rank then exact-cosine rerank are unchanged, so
    * with nprobe = |cells| the result is row-identical to the exhaustive
    * serve (IvfBinaryIndexSpec pins it).
    *
    * The probe→cell routing is COLLECTED (|probes| × nprobe pairs): file
    * pruning needs the probed-cell set on the driver at plan time, and
    * the probe side of a serving query is bounded by the same contract
    * that lets every binary/IVF variant broadcast it.
    */
  def ivfBinaryTopKIndexed(
      probes: DataFrame,
      table: graft.sources.VersionedTable,
      cents: Array[Array[Float]],
      k: Int,
      rerank: Int = 50,
      nprobe: Int = 4): DataFrame = {
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1: k=$k rerank=$rerank")
    require(nprobe >= 1, s"need nprobe >= 1: $nprobe")
    val spark = probes.sparkSession
    val packedProbes = probes.select(
      col("q_id"), col("q_emb"), signBits("q_emb").as("q_bits"))
    val routing = Barrier.named(probes, "ivfbin.route") {
      nearestCells(
          probes.select(col("q_id"), col("q_emb")), centroidsDF(spark, cents), nprobe)
        .select(col("q_id"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val cellSet = routing.map(_._2).distinct.sorted.toSeq
    import spark.implicits._
    val routed = routing.toSeq.toDF("q_id", "cell")
    // pruned read: the pushed IN reaches the snapshot's file index, so
    // only files whose cell range meets a probed cell are opened; the
    // exact filter re-applies on the survivors
    val idx = table.read(spark).filter(col("cell").isin(cellSet: _*))
    val wPool = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(CrossRound.r(col("sim"), 6).desc, col("vec_id"))
    // stage 1: Hamming over the probed cells' stored bits — projection
    // is (cell, vec_id, bits), the float column stays untouched on the
    // corpus-scale path (IvfBinaryIndexSpec's ReadSchema pin)
    val pool = idx.select("cell", "vec_id", "bits")
      .join(
        broadcast(routed.join(packedProbes.select("q_id", "q_bits"), Seq("q_id"))),
        Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("hamming", hammingLimbs(col("q_bits"), col("bits")))
      .withColumn("pool_rn", row_number().over(wPool))
      .filter(col("pool_rn") <= rerank)
      .select("q_id", "vec_id", "hamming")
    // stage 2: floats fetched only for the pool-bounded rerank, from the
    // same pruned file set (pool members live in probed cells by
    // construction)
    idx.select(col("vec_id"), col("embedding"))
      .join(broadcast(pool), Seq("vec_id"))
      .join(broadcast(packedProbes.select(col("q_id"), col("q_emb"))), Seq("q_id"))
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(
        col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"),
        col("hamming"), col("sim"))
  }

  /** Per-cell clustering-quality profile against COMMITTED centroids —
    * the report an IVF/SemDeDup deployment reads before trusting its
    * cells: size balance (one mega-cell = a degenerate fit and a
    * quadratic SemDeDup block; see semanticDedupWith's cap) and cohesion
    * (mean / worst cosine of members to their centroid — a cell whose
    * min_sim is near 0 is a junk drawer, not a cluster). Returns
    * (cell, n_vecs, min_sim, mean_sim); cells that attracted no member
    * are absent (their absence IS the finding).
    *
    * Shape: the [[ivfAssign]] broadcast argmax (corpus × c, the
    * documented exhaustive class-(b) cross) keeping the winning cosine,
    * then ONE |c|-bounded groupBy. Per-row cosines are deterministic
    * (sequential fold, bit-equal cross-engine), so min_sim needs only
    * the signed-zero guard; mean_sim is an aggregate double and takes
    * the CrossRound collapse.
    */
  def clusterProfile(
      corpus: DataFrame,
      cents: Array[Array[Float]],
      collapseScale: Int = 6): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    corpus
      .crossJoin(broadcast(centroidsDF(corpus.sparkSession, cents)))
      .withColumn("csim", cosine(col("embedding"), col("centroid")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("centroid_id").as("cell"))
      .agg(
        count(lit(1)).as("n_vecs"),
        (CrossRound.r(min(col("csim")), 4) + lit(0.0)).as("min_sim"),
        (CrossRound.ra(sum(col("csim")) / count(lit(1)), collapseScale) + lit(0.0))
          .as("mean_sim"))
  }

  /** Per-cell label-purity report against COMMITTED centroids — the
    * external-validation companion of [[clusterProfile]]: where the
    * profile measures geometry (size balance, cohesion), purity measures
    * AGREEMENT with a labeled column — the standard clustering-eval
    * number ("do the cells mean anything"), and in a curation pipeline
    * the pre-flight for label-stratified semantic dedup or cell-routed
    * classification. Returns (cell, n_vecs, top_label, top_n, purity):
    * the cell's majority label (ties to the SMALLER label — the
    * deterministic pick), its member count, and the exact-integer-ratio
    * purity. Cells that attracted no member are absent.
    *
    * Shape: the same [[ivfAssign]]-style broadcast argmax cross
    * (class (b), the x124 allowance) and then TWO bounded aggregations —
    * everything past the assignment operates on ≤ |cells|×|labels| rows,
    * so the windows below are cell-keyed and tiny, never corpus-keyed.
    */
  def clusterPurity(
      corpus: DataFrame,
      cents: Array[Array[Float]]): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    val counts = corpus
      .crossJoin(broadcast(centroidsDF(corpus.sparkSession, cents)))
      .withColumn("csim", cosine(col("embedding"), col("centroid")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("centroid_id").as("cell"), col("label"))
      .agg(count(lit(1)).as("n"))
    val wTop = Window.partitionBy(col("cell")).orderBy(col("n").desc, col("label"))
    val wCell = Window.partitionBy(col("cell"))
    counts
      .withColumn("top_rn", row_number().over(wTop))
      .withColumn("n_vecs", sum(col("n")).over(wCell))
      .filter(col("top_rn") === 1)
      .select(
        col("cell"), col("n_vecs"),
        col("label").as("top_label"), col("n").as("top_n"),
        (CrossRound.r(col("n").cast("double") / col("n_vecs"), 4) + lit(0.0)).as("purity"))
  }

  /** PCA fit over the bounded deterministic [[trainingSample]] — the
    * dimensionality-reduction model every embedding pipeline keeps next
    * to its ANN index (project-then-index, drift dashboards, whitening).
    * Standard published method (Pearson 1901; Jolliffe, "Principal
    * Component Analysis"); the eigensolve is textbook cyclic Jacobi
    * (Golub & Van Loan, "Matrix Computations" §8.5).
    * Returns a (k+1) × dim float matrix in the [[ModelStore.FloatMatrix]]
    * layout: row 0 = the sample mean, rows 1..k = the top-k principal
    * components (unit eigenvectors of the sample covariance).
    *
    * Determinism contract (what the cross-engine gate needs): the sample
    * is hash-ordered and bounded; mean/covariance accumulate in FIXED
    * sample order in doubles on the driver; the eigensolve is cyclic
    * Jacobi (fixed (p,q) sweep order, fixed convergence threshold — no
    * randomness); components order by (eigenvalue desc, index asc) and
    * take a sign convention (the largest-|entry| coordinate positive,
    * first index on ties) so the fit is a pure function of the sample.
    * The FAISS-posture scale argument of [[trainingSample]] applies
    * verbatim: fitting reads one bounded sample regardless of corpus
    * size; the projection is then a per-row expression over literals —
    * one scan, zero joins, zero shuffles at ANY scale.
    */
  def pcaFit(
      corpus: DataFrame,
      k: Int,
      maxTrain: Int = DefaultTrainSample): Array[Array[Float]] = {
    val sample = trainingSample(corpus, maxTrain)
    require(sample.nonEmpty, "pcaFit: empty corpus")
    val dim = sample(0).length
    require(k >= 1 && k <= dim, s"pcaFit: k=$k outside [1, $dim]")
    val n = sample.length
    val mean = new Array[Double](dim)
    sample.foreach { x =>
      var j = 0
      while (j < dim) { mean(j) += x(j).toDouble; j += 1 }
    }
    var j = 0
    while (j < dim) { mean(j) /= n; j += 1 }
    val cov = Array.ofDim[Double](dim, dim)
    val d = new Array[Double](dim)
    sample.foreach { x =>
      var a = 0
      while (a < dim) { d(a) = x(a).toDouble - mean(a); a += 1 }
      a = 0
      while (a < dim) {
        var b = a
        while (b < dim) { cov(a)(b) += d(a) * d(b); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < dim) {
      var b = a
      while (b < dim) {
        cov(a)(b) /= n
        cov(b)(a) = cov(a)(b)
        b += 1
      }
      a += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov)
    val order = eigVals.indices.sortBy(i => (-eigVals(i), i)).take(k)
    val comps = order.map { i =>
      val v = Array.tabulate(dim)(r => eigVecs(r)(i))
      // sign convention: the largest-|entry| coordinate positive
      var best = 0
      var bi = 1
      while (bi < dim) { if (math.abs(v(bi)) > math.abs(v(best))) best = bi; bi += 1 }
      if (v(best) < 0) { var m = 0; while (m < dim) { v(m) = -v(m); m += 1 } }
      v.map(_.toFloat)
    }
    (mean.map(_.toFloat) +: comps).toArray
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — fixed
    * upper-triangle sweep order, deterministic rotations, converges when
    * the off-diagonal Frobenius mass drops below 1e-12 (or 50 sweeps).
    * Returns (eigenvalues, eigenvector matrix with vectors in COLUMNS).
    * Pure driver arithmetic: dim ≤ a few hundred by the pcaFit contract
    * (the engine's embedding dim is 64), so this is millisecond work.
    */
  private def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val dim = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-12 && sweep < 50) {
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var r = 0
            while (r < dim) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < dim) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(dim)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  /** The per-component centering constants mean·v_c, folded in the SAME
    * sequential double order [[dot]] (and the oracle's dotSql) use —
    * shared by [[pcaProject]] and the generated oracle so the two
    * engines subtract the identical double.
    */
  def pcaMeanDots(model: Array[Array[Float]]): Array[Double] = {
    val mean = model(0)
    model.drop(1).map { v =>
      var acc = 0.0
      var i = 0
      while (i < mean.length) { acc += mean(i).toDouble * v(i).toDouble; i += 1 }
      acc
    }
  }

  /** Project embeddings onto the fitted components: pc_c(x) = x·v_c −
    * mean·v_c (the centered projection, expanded so the per-row work is
    * ONE [[dot]] against a literal array plus an exact IEEE subtraction
    * of the precomputed constant — no per-row mean subtraction loop, no
    * join). One corpus scan, pure projection. Rounding is the ra(4)
    * DOUBLE-round collapse + signed-zero guard, NOT plain r(4): the
    * projections are arbitrary doubles (unlike the small-integer ratios
    * the per-row r4 convention grew up on), and at sf0.1 one of 20k
    * values landed within an ulp of a 4th-decimal half boundary where
    * Spark's round(x·10⁴)/10⁴ and the oracle's exact-value round
    * disagree — the round-to-8-first collapse makes both engines decide
    * the boundary on the SAME double. (Signed zero: centering guarantees
    * both signs exist, so −0.0 is reachable.)
    */
  def pcaProject(corpus: DataFrame, model: Array[Array[Float]]): DataFrame = {
    require(model.length >= 2, "pcaProject: model must carry mean + >=1 component")
    val muDots = pcaMeanDots(model)
    val cols = model.drop(1).zipWithIndex.map { case (v, i) =>
      (CrossRound.ra(dot(col("embedding"), lit(v)) - lit(muDots(i)), 4) + lit(0.0))
        .as(s"pc${i + 1}")
    }
    corpus.select(col("vec_id") +: cols.toSeq: _*)
  }

  /** IVF approximate top-k: probes are scored only against the vectors in
    * their nprobe nearest cells. Recall/latency trades on (c, nprobe);
    * candidates per probe ~ nprobe x |corpus| / c. `refineIters` > 0 runs
    * [[kmeansCentroids]] Lloyd steps over the sampled init — tighter cells
    * for the same (c, nprobe) budget.
    */
  def ivfTopK(
      probes: DataFrame,
      corpus: DataFrame,
      k: Int,
      c: Int = 16,
      nprobe: Int = 4,
      refineIters: Int = 0): DataFrame = {
    // bounded: c rows, fit driver-side (one sample job; a LocalRelation,
    // so the assignment broadcasts below are job-free — trainingSample
    // has the 100 TB argument). The unrefined path samples exactly c
    // vectors: the first c of the hash order ARE ivfCentroids' choice.
    val cents =
      if (refineIters > 0) kmeansCentroidArrays(corpus, c, refineIters)
      else trainingSample(corpus, c)
    ivfTopKWith(probes, corpus, k, cents, nprobe)
  }

  /** [[ivfTopK]] against PRECOMPUTED coarse centroids — the split that
    * lets a caller capture the fitted model state (for reuse across
    * queries, persistence, or an external oracle restating the search
    * from the same literals) while the search plan stays identical.
    */
  def ivfTopKWith(
      probes: DataFrame,
      corpus: DataFrame,
      k: Int,
      cents: Array[Array[Float]],
      nprobe: Int = 4): DataFrame = {
    val centroids = centroidsDF(corpus.sparkSession, cents)
    val cells = ivfAssign(corpus, centroids)
    val probeCells = nearestCells(probes, centroids, nprobe)
      .select("cell", "q_id", "q_emb")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(CrossRound.r(col("sim"), 6).desc, col("vec_id"))
    // probe side is |probes| x nprobe rows — broadcast it so the corpus-
    // sized cell table never shuffles (plan audit caught Spark defaulting
    // to a sort-merge join here). No candidate dedup needed: ivfAssign
    // puts each vector in exactly ONE cell (rn === 1) and a probe's
    // nprobe cells are distinct, so a (q, vec) pair meets at most once —
    // round 4 paid a corpus-wide distinct over (q_emb, embedding) rows
    // here for pairs that were already unique.
    broadcast(probeCells)
      .join(cells, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "q_emb", "vec_id", "embedding")
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding corpus, score exact
    * cosine only WITHIN each cluster, and drop every vector that is
    * >= threshold-similar to a lower-id vector in its cluster. The paper
    * keeps the cluster item farthest from the centroid; any deterministic
    * representative rule works, and keep-smallest-id matches this
    * engine's exact-dedup convention with no extra scoring pass.
    *
    * Scale posture: the clustering IS the blocking key — the pair space
    * is the sum of squared cluster sizes, never corpus squared (reuses
    * [[blockedThresholdPairs]]); k-means state is c x dim per iteration
    * and assignment is one broadcast argmax per scan. Near-dup pairs
    * split across cluster boundaries are missed by construction — the
    * documented SemDeDup approximation; fewer, larger clusters trade
    * pair-scoring work for recall.
    *
    * @return the kept rows of `emb` (schema unchanged)
    */
  def semanticDedup(
      emb: DataFrame,
      threshold: Double,
      c: Int = 16,
      iters: Int = 2,
      maxCellSize: Option[Int] = None): DataFrame =
    semanticDedupWith(emb, threshold, kmeansCentroidArrays(emb, c, iters), maxCellSize)

  /** [[semanticDedup]] against PRECOMPUTED k-means centroids — the same
    * model-state split as [[ivfTopKWith]]: capture the fitted cells once,
    * dedup (and oracle-restate) against exactly those.
    */
  def semanticDedupWith(
      emb: DataFrame,
      threshold: Double,
      cents: Array[Array[Float]],
      maxCellSize: Option[Int] = None): DataFrame = {
    // materialized: blockedThresholdPairs self-joins this frame, and an
    // unmaterialized frame with two consumers re-executes the whole
    // cross-join + argmax assignment once PER SIDE (verified in the
    // executed plan — the recurring multi-consumer rule). Corpus-scale
    // like x24's shingle frame; a production pipeline persists the
    // assignment as a table instead (VersionedTable sink pattern).
    val assigned = ivfAssign(emb, centroidsDF(emb.sparkSession, cents))
      .select(col("cell"), col("vec_id"), col("embedding"))
      .transform(Barrier(_, "semdedup.assigned"))
    // pair work is sum of SQUARED cell sizes, so one degenerate cluster
    // (a mass of near-identical boilerplate — the common real-world
    // corpus pathology) turns quadratic. The opt-in cap hash-splits any
    // oversized cell into ceil(n/cap) sub-cells, bounding every block at
    // ~cap rows; pairs across sub-cells of the same hot cluster are
    // missed (each sub-cell keeps its own representative) — the same
    // recall-for-boundedness trade as LSH banding, and exactly what
    // SemDeDup wants in a cluster that IS one giant duplicate class.
    val cells = maxCellSize match {
      case None => assigned
      case Some(cap) =>
        require(cap > 0, "maxCellSize must be positive")
        // bounded: c rows
        val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("__n"))
        val nSubs = greatest(
          lit(1L), floor((col("__n") + (cap - 1)) / cap).cast("long"))
        assigned
          .join(broadcast(sizes), Seq("cell"))
          .select(
            concat(
              col("cell").cast("string"), lit("#"),
              pmod(xxhash64(col("vec_id")), nSubs).cast("string")).as("cell"),
            col("vec_id"), col("embedding"))
    }
    // every pair has vec_a < vec_b, so the dropped set = distinct right
    // sides; anything never similar to a lower id survives
    val dropped = blockedThresholdPairs(cells, "cell", threshold)
      .select(col("vec_b").as("vec_id"))
      .distinct()
    emb.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Incremental SemDeDup — the daily-ingest shape ([[semanticDedup]] is
    * the whole-corpus batch job; this is its x29b analog for embeddings):
    * assign only the NEW batch against COMMITTED k-means centroids
    * (`cents`, persisted model state — e.g. a
    * [[graft.sources.ModelStore]] snapshot), pair batch rows against the
    * COMMITTED cell-assigned corpus within cells only, and dedup within
    * the batch itself. A batch row is dropped when it is within
    * `threshold` cosine of ANY committed corpus row in its cell
    * (committed rows always win — they are already published) or of a
    * LOWER-id batch row in its cell (the x34 keep-smallest rule applied
    * inside the batch). Returns the surviving batch rows.
    *
    * Equivalence contract (SimilaritySpec pins it): when every corpus id
    * is below every batch id and the corpus is internally deduped at
    * `threshold` — both true by construction when the corpus is the
    * accumulated output of this operator — survivors(batch) ∪ corpus
    * equals [[semanticDedupWith]] of the union under the same centroids.
    *
    * 100 TB posture: the corpus side is a committed (cell, vec_id,
    * embedding) table that is SCANNED, never shuffled — the batch
    * (daily-sized by definition) broadcasts into the cell join, so
    * per-batch cost scales with the batch and the one corpus scan, with
    * ZERO corpus exchanges; the corpus is never re-assigned and never
    * self-paired. Centroid state is c x dim driver literals, job-free to
    * broadcast.
    *
    * @param batch          new rows: (vec_id, embedding)
    * @param corpusAssigned committed corpus WITH its committed cell
    *                       assignment: (cell, vec_id, embedding)
    * @return surviving batch rows (schema of `batch`)
    */
  def semanticDedupIncremental(
      batch: DataFrame,
      corpusAssigned: DataFrame,
      threshold: Double,
      cents: Array[Array[Float]]): DataFrame = {
    // materialized: three consumers (corpus join, in-batch self-join both
    // sides) — same multi-consumer rule as semanticDedupWith's assignment
    val b = ivfAssign(batch, centroidsDF(batch.sparkSession, cents))
      .select(col("cell"), col("vec_id"), col("embedding"))
      .transform(Barrier(_, "semdedup.batch"))
    val vsCorpus = broadcast(b)
      .join(
        corpusAssigned.select(col("cell"), col("embedding").as("c_emb")),
        Seq("cell"))
      .filter(cosine(col("embedding"), col("c_emb")) >= threshold)
      .select("vec_id")
    // both remaining joins keep a broadcast-sized side by CONTRACT (the
    // batch is daily-sized; dropped is a subset of its ids) — hint them
    // so the plan never falls back to shuffling either
    val lo = b.select(col("cell"), col("vec_id").as("lo_id"), col("embedding").as("lo_emb"))
    val hi = b.select(col("cell"), col("vec_id").as("hi_id"), col("embedding").as("hi_emb"))
    val inBatch = broadcast(lo).join(hi, Seq("cell"))
      .filter(col("lo_id") < col("hi_id"))
      .filter(cosine(col("lo_emb"), col("hi_emb")) >= threshold)
      .select(col("hi_id").as("vec_id"))
    batch.join(
      broadcast(vsCorpus.unionByName(inBatch).distinct()), Seq("vec_id"), "left_anti")
  }

  /** Embedding near-dup pairs via LSH buckets (the scale path for
    * threshold pairing when no cheap blocking key exists): only vectors
    * sharing a (table, bucket) cell are paired and exactly scored.
    */
  def lshNearDupPairs(
      emb: DataFrame,
      threshold: Double,
      tables: Int = 4,
      bits: Int = 10,
      dim: Int = 64): DataFrame = {
    val planes = hyperplanes(tables, bits, dim)
    // id-only bucket join + dedup: a pair colliding in several tables used
    // to carry BOTH embedding payloads through the distinct's shuffle —
    // now the T-fold bucket join and the dedup move only (table, bucket,
    // id) rows, and each embedding is re-attached once afterwards (two
    // equi-joins on vec_id, each shuffling the vector table once instead
    // of per-collision)
    // barrier: both sides of the self-join read this frame, and lazily
    // each side would recompute the T x bits signature dots over the
    // whole corpus. An eager barrier computes them once; a lazy persist()
    // did not, because AQE submits both sides' map stages at once and
    // both computed the uncached partition. The id-only rows are small
    // (3 longs/row x T).
    val bucketedIds = Barrier(
      bucketize(emb, planes).select("table_id", "bucket", "vec_id"), "lsh.buckets")
    val pairs = bucketedIds.toDF("table_id", "bucket", "vec_a")
      .join(bucketedIds.toDF("table_id", "bucket", "vec_b"), Seq("table_id", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    pairs
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), Seq("vec_a"))
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), Seq("vec_b"))
      .withColumn("sim", cosine(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
  }

  /** Approximate top-k: probes meet the corpus only inside shared
    * (table_id, bucket) cells; candidates are deduped then scored exactly.
    * Bucket-join cardinality ~ |corpus| x T / 2^bits per probe — tune bits
    * to corpus size; skewed cells are AQE skew-join territory.
    */
  def annTopK(
      probes: DataFrame,
      corpus: DataFrame,
      k: Int,
      tables: Int = 4,
      bits: Int = 10,
      dim: Int = 64): DataFrame = {
    val planes = hyperplanes(tables, bits, dim)
    // same id-only dedup as lshNearDupPairs: the bucket join and the
    // cross-table distinct move (table, bucket, id) rows only; q_emb
    // re-attaches from the (small, broadcast) probe table and the corpus
    // embedding from ONE equi-join — round 4 shuffled both payloads
    // per-collision through the distinct
    val corpusIds = bucketize(corpus, planes).select("table_id", "bucket", "vec_id")
    val probeIds = bucketize(
      probes.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")), planes)
      .select(col("table_id"), col("bucket"), col("vec_id").as("q_id"))
    val candidates = probeIds
      .join(corpusIds, Seq("table_id", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id")
      .distinct() // same pair can collide in several tables
      .join(broadcast(probes), Seq("q_id"))
      .join(corpus, Seq("vec_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(CrossRound.r(col("sim"), 6).desc, col("vec_id"))
    candidates
      .withColumn("nrm_q", norm(col("q_emb")))
      .withColumn("nrm_c", norm(col("embedding")))
      .withColumn("sim", dot(col("q_emb"), col("embedding")) / (col("nrm_q") * col("nrm_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("sim"))
  }

  /** Johnson–Lindenstrauss random projection: compress `dim`-d embeddings
    * to `k` dims with a dense ±1/√k sign matrix (Achlioptas 2003 — the
    * database-friendly JL variant: iid signs preserve pairwise distances
    * within (1±ε) at k = O(ln n / ε²), no Gaussian sampling needed). The
    * sign matrix is DERIVED, not drawn: entry (i,j)'s sign is the low
    * bit of `xxhash64(seed, i·k + j)`, so the projection is a pure
    * function of (seed, dim, k) — reproducible on any engine that
    * mirrors the hash, no stored model, no RNG state.
    *
    * Shape: the dim×k sign matrix is a bounded `range(dim·k)` frame that
    * BROADCASTS; the corpus explodes once to (vec_id, i, v) cells and
    * equi-joins the matrix on i (map-side, k-fanout), then ONE shuffle
    * folds the (vec_id, j) partial sums — corpus scanned once, never
    * shuffled at full width. Output is long-format (vec_id, j, proj):
    * the join-ready layout for downstream banded indexing.
    */
  def jlProject(emb: DataFrame, dim: Int, k: Int, seed: Long): DataFrame = {
    require(dim >= 1 && k >= 1 && k <= dim, "need 1 <= k <= dim")
    val signs = emb.sparkSession.range(dim.toLong * k).select(
      expr(s"id div $k").as("i"),
      (col("id") % k).as("j"),
      when(xxhash64(lit(seed), col("id")).bitwiseAND(lit(1L)) === 1L, lit(1.0))
        .otherwise(lit(-1.0)).as("sgn"))
    emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("i", col("i").cast("long"))
      .join(broadcast(signs), Seq("i"))
      .groupBy("vec_id", "j")
      .agg((sum(col("v").cast("double") * col("sgn")) / math.sqrt(k.toDouble))
        .as("proj"))
  }
}

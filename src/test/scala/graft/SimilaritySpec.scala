package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Property tests for similarity search: planted near-neighbor recovery,
  * LSH recall vs the exact baseline, candidate pruning.
  */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val Dim = 32

  /** 60 random unit-ish vectors; ids < 20 get a planted near-twin at
    * id + 1000 (small perturbation => cosine ~0.99).
    */
  def corpus(): DataFrame = {
    val rnd = new scala.util.Random(3)
    def vec() = Array.fill(Dim)(rnd.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec()))
    val twins = base.take(20).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    (base ++ twins).toDF("vec_id", "embedding")
  }

  def probes(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  test("brute-force top-k: the planted twin is rank 1 for every probe") {
    val emb = corpus()
    val top = Similarity.bruteForceTopK(probes(emb), emb, 3).cache()
    val rank1 = top.filter(col("rank") === 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    (0L until 20L).foreach { q =>
      assert(rank1(q) === q + 1000L, s"probe $q: expected twin ${q + 1000}, got ${rank1(q)}")
    }
    // ranks strictly ordered by similarity within each probe
    val bad = top.as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).values
      .count { rows =>
        val sorted = rows.sortBy(_._2).toSeq
        sorted.sliding(2).exists {
          case Seq(a, b) => a._4 + 1e-9 < b._4
          case _ => false
        }
      }
    assert(bad === 0, "similarity not monotone in rank")
    top.unpersist()
  }

  test("LSH ANN recalls the planted twins") {
    val emb = corpus()
    val ann = Similarity.annTopK(probes(emb), emb, 3, tables = 4, bits = 8, dim = Dim)
    val hits = ann.filter(col("vec_id") === col("q_id") + 1000L).count()
    assert(hits >= 16, s"LSH recall too low: $hits/20 twins found")
  }

  test("LSH buckets prune the candidate space") {
    val emb = corpus()
    val planes = Similarity.hyperplanes(4, 8, Dim)
    val corpusB = Similarity.bucketize(emb, planes)
    val probesB = Similarity.bucketize(
      probes(emb).select(col("q_id").as("vec_id"), col("q_emb").as("embedding")), planes)
      .select(col("table_id"), col("bucket"), col("vec_id").as("q_id"))
    val candidates = probesB.join(corpusB, Seq("table_id", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id").distinct().count()
    val allPairs = 20L * (emb.count() - 1)
    assert(candidates < allPairs / 2, s"$candidates candidates vs $allPairs all-pairs — not pruning")
  }

  test("threshold pairs find exactly the planted twins at 0.9") {
    val emb = corpus().withColumn("label", lit(0))
    val pairs = Similarity.blockedThresholdPairs(emb, "label", 0.9)
    val found = pairs.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    (0L until 20L).foreach { q =>
      assert(found.contains((q, q + 1000L)), s"twin pair ($q, ${q + 1000}) missed")
    }
    // random unrelated pairs at dim=32 essentially never reach 0.9
    assert(pairs.count() === 20)
  }

  test("IVF top-k recalls most planted twins and prunes the space") {
    val emb = corpus()
    val ivf = Similarity.ivfTopK(probes(emb), emb, 3, c = 8, nprobe = 3).cache()
    val hits = ivf.filter(col("vec_id") === col("q_id") + 1000L).count()
    assert(hits >= 14, s"IVF recall too low: $hits/20 twins found")
    // candidates bounded by probed cells, so results exist for every probe
    assert(ivf.select("q_id").distinct().count() === 20)
    ivf.unpersist()
  }

  test("kmeans refinement: deterministic, shape-preserving, tightens cells") {
    val emb = corpus()
    val sampled = Similarity.ivfCentroids(emb, 6).localCheckpoint()
    val refined = Similarity.kmeansCentroids(emb, 6, iters = 3)
    // shape: c centroids survive (empty cells keep their previous vector)
    assert(refined.count() === 6)
    refined.collect().foreach(r => assert(r.getSeq[Float](1).length === Dim))
    // deterministic: a second run yields bit-identical centroids
    val again = Similarity.kmeansCentroids(emb, 6, iters = 3)
    assert(refined.orderBy("centroid_id").collect().map(_.toString).toSeq ===
      again.orderBy("centroid_id").collect().map(_.toString).toSeq)
    // tightens cells: mean best-centroid cosine strictly improves over the
    // raw hash sample on this clusterable corpus
    def meanBest(cents: DataFrame): Double =
      emb.crossJoin(broadcast(cents))
        .withColumn("csim", Similarity.cosine(col("embedding"), col("centroid")))
        .groupBy("vec_id").agg(max(col("csim")).as("best"))
        .agg(avg(col("best"))).head().getDouble(0)
    val before = meanBest(sampled)
    val after = meanBest(refined)
    assert(after > before, s"refinement did not tighten cells: $before -> $after")
    // and recall through the full IVF path does not degrade
    val hits = Similarity.ivfTopK(probes(emb), emb, 3, c = 8, nprobe = 3, refineIters = 2)
      .filter(col("vec_id") === col("q_id") + 1000L).count()
    assert(hits >= 14, s"refined-IVF recall too low: $hits/20 twins found")
  }

  test("int8 quantization: codes in range, cosine error tiny, top-k recall holds") {
    val emb = corpus()
    // codes bounded and scale consistent with the max channel
    val quantized = Similarity.quantizeInt8(emb).cache()
    quantized.collect().foreach { r =>
      val q = r.getSeq[Byte](1)
      assert(q.forall(v => v >= -127 && v <= 127), "int8 code out of symmetric range")
      assert(r.getDouble(2) >= 0.0)
    }
    // cosine of every planted (probe, twin) pair survives within 0.01
    val deq = Similarity.quantizedCorpus(emb)
    val origSims = Similarity.bruteForceTopK(probes(emb), emb, 1)
      .select("q_id", "sim").as[(Long, Double)].collect().toMap
    val deqSims = Similarity.bruteForceTopK(probes(emb), deq, 1)
      .select("q_id", "sim").as[(Long, Double)].collect().toMap
    origSims.foreach { case (q, s) =>
      assert(math.abs(deqSims(q) - s) < 0.01, s"probe $q cosine drifted: $s -> ${deqSims(q)}")
    }
    // top-3 membership is stable through quantization for >= 90% of probes
    def top3(corpusDf: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(probes(emb), corpusDf, 3)
        .select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val a = top3(emb); val b = top3(deq)
    // keys.toSeq, NOT keys: mapping a Set of keys to overlap VALUES would
    // collapse equal fractions before the sum
    val overlap = a.keys.toSeq.map(q => (a(q) intersect b(q)).size.toDouble / 3).sum / a.size
    assert(overlap >= 0.9, s"quantized top-3 overlap $overlap")
    quantized.unpersist()
  }

  test("semanticDedup: drops planted twins, keeps originals, deterministic") {
    val emb = corpus() // 60 base vectors + 20 near-twins at id+1000
    val kept = Similarity.semanticDedup(emb, threshold = 0.95, c = 8, iters = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // every base vector survives: random gaussians in dim 32 never reach
    // cosine 0.95, and each twin has the HIGHER id so the base is kept
    (0L until 60L).foreach(i => assert(kept.contains(i), s"base $i dropped"))
    // twins are dropped wherever they share their base's cluster; a few
    // may straddle a cell boundary (the documented SemDeDup miss class)
    val survivingTwins = (0 until 20).count(i => kept.contains(i + 1000L))
    assert(survivingTwins <= 3, s"$survivingTwins of 20 twins survived dedup")
    // retention is a pure function of the data — partitioning-independent
    val again = Similarity
      .semanticDedup(emb.repartition(7), threshold = 0.95, c = 8, iters = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again === kept)
  }

  test("semanticDedup cell cap: hot duplicate cluster stays bounded, still collapses") {
    // a degenerate corpus: 120 near-identical vectors (one giant duplicate
    // class that k-means will put in ONE cell) + 30 spread vectors
    val rnd = new scala.util.Random(9)
    val base = Array.fill(Dim)(rnd.nextGaussian().toFloat)
    val hot = (0 until 120).map(i =>
      (i.toLong, base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)))
    val rest = (200 until 230).map(i => (i.toLong, Array.fill(Dim)(rnd.nextGaussian().toFloat)))
    val emb = (hot ++ rest).toDF("vec_id", "embedding")
    // uncapped: the hot mass collapses to one representative per k-means
    // cell it lands in (a couple of cells at most — near-identical points
    // can straddle a cell boundary)
    val open = Similarity.semanticDedup(emb, 0.95, c = 4, iters = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(open.count(_ < 200L) <= 3, s"${open.count(_ < 200L)} uncapped hot survivors")
    // capped at 12: the 120-row cell splits into ~10 sub-cells, each
    // keeping ONE representative — block size (and pair work) bounded at
    // ~cap^2 instead of 120^2, survivors = number of sub-cells
    val capped = Similarity
      .semanticDedup(emb, 0.95, c = 4, iters = 1, maxCellSize = Some(12))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val hotSurvivors = capped.count(_ < 200L)
    assert(hotSurvivors >= 2 && hotSurvivors <= 15,
      s"$hotSurvivors hot survivors — expected ~one per sub-cell")
    // spread vectors are untouched by the cap
    assert(capped.count(_ >= 200L) === 30)
    // deterministic under repartitioning
    val again = Similarity
      .semanticDedup(emb.repartition(7), 0.95, c = 4, iters = 1, maxCellSize = Some(12))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again === capped)
  }

  test("LSH near-dup pairs find the planted twins without all-pairs scoring") {
    val emb = corpus()
    val pairs = Similarity.lshNearDupPairs(emb, 0.9, tables = 4, bits = 8, dim = Dim).cache()
    val found = pairs.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val twinHits = (0L until 20L).count(q => found.contains((q, q + 1000L)))
    assert(twinHits >= 18, s"LSH near-dup recall too low: $twinHits/20")
    // at 0.9 threshold nothing else should pair up
    assert(pairs.count() === twinHits)
    pairs.unpersist()
  }

  test("LSH near-dup pairs compute the bucket signatures once, in one named barrier") {
    val (n, barriers) = SparkJobs.barriers(spark)(
      Similarity.lshNearDupPairs(corpus(), 0.9, tables = 4, bits = 8, dim = Dim).count())
    assert(n >= 18L)
    assert(barriers === Map("lsh.buckets" -> 1))
  }

  test("native dot product matches the higher-order-function formulation bitwise") {
    val emb = corpus().limit(20)
    val pairs = emb.toDF("ia", "ea").crossJoin(emb.toDF("ib", "eb"))
    val hof = aggregate(
      zip_with(
        transform(col("ea"), x => x.cast("double")),
        transform(col("eb"), x => x.cast("double")),
        (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val diffs = pairs
      .select(Similarity.dot(col("ea"), col("eb")).as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof")) // bitwise: no tolerance
      .count()
    assert(diffs === 0)
  }

  test("native dot product nulls on length mismatch or null elements") {
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),
      (Seq(1.0f, 2.0f), Seq(3.0f))).toDF("a", "b")
    val out = df.select(Similarity.dot(col("a"), col("b")).as("d")).collect()
    assert(out(0).getDouble(0) === 11.0)
    assert(out(1).isNullAt(0))
  }

  test("cosine is symmetric and self-similarity is 1") {
    val emb = corpus().limit(5).cache()
    val self = emb.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .as[Double].collect()
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
    emb.unpersist()
  }

  test("PQ: codes in range, decode has full dimension") {
    val emb = corpus()
    val cb = Similarity.pqCodebooks(emb, m = 4, ksub = 8, iters = 1, dim = Dim)
    assert(cb.length === 4)
    cb.foreach { book =>
      assert(book.length === 8)
      book.foreach(c => assert(c.length === Dim / 4))
    }
    val coded = emb.select(
      col("vec_id"),
      Similarity.pqEncodeCol(col("embedding"), cb).as("codes"))
    val rows = coded.collect()
    assert(rows.length === 80)
    rows.foreach { r =>
      val codes = r.getSeq[Byte](1)
      assert(codes.length === 4)
      codes.foreach(c => assert(c >= 0 && c < 8, s"code $c out of [0, 8)"))
    }
    val decodedLen = emb.select(
      size(Similarity.pqDecodeCol(
        Similarity.pqEncodeCol(col("embedding"), cb), cb)).as("n"))
      .as[Int].collect()
    decodedLen.foreach(n => assert(n === Dim))
  }

  test("PQ encode (native expression): every code is the true argmin of its subspace") {
    val emb = corpus()
    val cb = Similarity.pqCodebooks(emb, m = 4, ksub = 8, iters = 1, dim = Dim)
    val rows = emb.select(
      col("vec_id"), col("embedding"),
      Similarity.pqEncodeCol(col("embedding"), cb).as("codes")).collect()
    val dsub = Dim / 4
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      val codes = r.getSeq[Byte](2)
      (0 until 4).foreach { s =>
        // same |c|^2 - 2 sv.c score and fold order as the expression
        val scores = cb(s).map { c =>
          val cn2 = c.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
          var dot = 0.0
          (0 until dsub).foreach(t => dot += v(s * dsub + t).toDouble * c(t).toDouble)
          cn2 - 2.0 * dot
        }
        val expect = scores.zipWithIndex.minBy { case (d, j) => (d, j) }._2
        assert(codes(s).toInt === expect,
          s"vec ${r.getLong(0)} sub $s: code ${codes(s)}, argmin $expect")
      }
    }
  }

  test("PQ ADC scoring agrees with cosine over the decoded corpus") {
    val emb = corpus()
    val top = Similarity.pqTopK(probes(emb), emb, 3, m = 4, ksub = 8, iters = 1, dim = Dim)
      .select("q_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // independent path: reconstruct the corpus, score with the exact
    // cosine — the lookup-table split (per-subspace dots + norm table)
    // regroups the same products, so values agree to addition-order noise
    val cb = Similarity.pqCodebooks(emb, m = 4, ksub = 8, iters = 1, dim = Dim)
    val decoded = emb.select(
      col("vec_id"),
      Similarity.pqDecodeCol(Similarity.pqEncodeCol(col("embedding"), cb), cb).as("embedding"))
    val reference = probes(emb).crossJoin(decoded)
      .filter(col("q_id") =!= col("vec_id"))
      .select(
        col("q_id"), col("vec_id"),
        Similarity.cosine(col("q_emb"), col("embedding")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(top.nonEmpty)
    top.foreach { case (pair, adc) =>
      assert(math.abs(adc - reference(pair)) < 1e-9,
        s"$pair: ADC $adc vs decoded-cosine ${reference(pair)}")
    }
  }

  test("PQ top-k recalls the planted twins") {
    val emb = corpus()
    val top = Similarity.pqTopK(probes(emb), emb, 3, m = 4, ksub = 16, iters = 2, dim = Dim)
    val hits = top.filter(col("vec_id") === col("q_id") + 1000L).count()
    assert(hits >= 16, s"PQ recall too low: $hits/20 twins found")
  }

  test("IVF+PQ (IVFADC) recalls the planted twins; deterministic across widths") {
    val emb = corpus()
    def run(frame: DataFrame) =
      Similarity.ivfPqTopK(
        probes(frame), frame, 3, c = 8, nprobe = 3, m = 4, ksub = 16, iters = 1, dim = Dim)
    val top = run(emb).cache()
    // double approximation (cell pruning + residual codes): twins are at
    // cosine ~0.99 vs ~0 background, so both layers should keep most
    val hits = top.filter(col("vec_id") === col("q_id") + 1000L).count()
    assert(hits >= 14, s"IVFADC recall too low: $hits/20 twins found")
    val a = top.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    top.unpersist()
    val b = run(emb.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b, "IVFADC result depends on input partitioning")
  }

  test("PQ: Lloyd iterations do not worsen reconstruction; deterministic across widths") {
    val emb = corpus()
    def mse(iters: Int, frame: DataFrame): Double = {
      val cb = Similarity.pqCodebooks(frame, m = 4, ksub = 8, iters = iters, dim = Dim)
      val err = aggregate(
        zip_with(
          col("embedding"),
          Similarity.pqDecodeCol(Similarity.pqEncodeCol(col("embedding"), cb), cb),
          (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
      frame.select(avg(err).as("mse")).as[Double].collect().head
    }
    val sampled = mse(0, emb)
    val refined = mse(2, emb)
    assert(refined <= sampled + 1e-9, s"Lloyd worsened PQ distortion: $sampled -> $refined")
    // codebooks (and thus the whole search) identical at different widths
    val cbA = Similarity.pqCodebooks(emb.repartition(3), m = 4, ksub = 8, iters = 2, dim = Dim)
    val cbB = Similarity.pqCodebooks(emb.repartition(7), m = 4, ksub = 8, iters = 2, dim = Dim)
    assert(cbA.map(_.map(_.toSeq).toSeq).toSeq === cbB.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("semanticDecontaminate: planted benchmark twins are removed, the rest survive") {
    val emb = corpus() // ids < 20 have near-twins at id+1000 (cos ~0.99)
    val banned = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val survivors = Similarity.semanticDecontaminate(emb, banned, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    // the banned vectors themselves (cos = 1) and their planted twins go
    (0L until 5L).foreach { i =>
      assert(!survivors.contains(i), s"banned $i survived")
      assert(!survivors.contains(i + 1000L), s"twin of banned $i survived")
    }
    // unrelated vectors and the OTHER twins stay (random gaussians in
    // 32-d are nowhere near cos 0.95 of each other)
    (5L until 20L).foreach { i =>
      assert(survivors.contains(i), s"unbanned $i was dropped")
      assert(survivors.contains(i + 1000L), s"unbanned twin ${i + 1000} was dropped")
    }
    assert(survivors.size === 80 - 10)
  }

  test("semanticDecontaminate: zero-norm corpus rows never match (no NaN leak)") {
    val emb = corpus()
      .union(Seq((9000L, Array.fill(Dim)(0.0f))).toDF("vec_id", "embedding"))
    val banned = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val survivors = Similarity.semanticDecontaminate(emb, banned, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors.contains(9000L)) // NaN cosine must not count as a hit
    assert(!survivors.contains(0L) && !survivors.contains(1000L))
  }

  test("semanticDedupIncremental: committed rows win, planted batch twins drop") {
    val emb = corpus() // ids 0..59 + twins 1000..1019 of ids 0..19
    val cents = Similarity.kmeansCentroidArrays(emb, 8, 2)
    // corpus = the base vectors (low ids, internally non-dup at 0.9);
    // batch = the twins (high ids) plus one genuinely new vector
    val corpusSide = emb.filter(col("vec_id") < 100)
    val rnd = new scala.util.Random(17)
    val fresh = Seq((5000L, Array.fill(Dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val batch = emb.filter(col("vec_id") >= 1000).unionByName(fresh)
    val survivors = Similarity.semanticDedupIncremental(
      batch, Similarity.assignCells(corpusSide, cents), threshold = 0.9, cents)
      .select("vec_id").as[Long].collect().toSet
    // every twin shares its base's cell (cosine ~0.99 >> any other
    // centroid) and drops against the committed corpus; the fresh
    // vector survives
    assert(survivors.contains(5000L))
    assert((1000L until 1020L).forall(id => !survivors.contains(id)))
  }

  test("semanticDedupIncremental: in-batch twins dedup to the smallest id") {
    val rnd = new scala.util.Random(23)
    val v = Array.fill(Dim)(rnd.nextGaussian().toFloat)
    val batch = Seq(
      (10L, v),
      (11L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)),
      (12L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)),
      (20L, Array.fill(Dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val corpusSide = Seq((1L, Array.fill(Dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroidArrays(batch.unionByName(corpusSide), 2, 1)
    val survivors = Similarity.semanticDedupIncremental(
      batch, Similarity.assignCells(corpusSide, cents), threshold = 0.9, cents)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors === Set(10L, 20L)) // 11, 12 lose to 10; 20 unrelated
  }

  test("semanticDedupIncremental: union with corpus equals whole-corpus SemDeDup") {
    // contract preconditions by construction: corpus ids below batch ids,
    // corpus internally deduped at the threshold (it IS SemDeDup output)
    val emb = corpus()
    val cents = Similarity.kmeansCentroidArrays(emb, 8, 2)
    val corpusRaw = emb.filter(col("vec_id") < 100)
    val corpusSide = Similarity.semanticDedupWith(corpusRaw, 0.9, cents)
    val batch = emb.filter(col("vec_id") >= 1000)
    val incremental = Similarity.semanticDedupIncremental(
      batch, Similarity.assignCells(corpusSide, cents), threshold = 0.9, cents)
      .select("vec_id").as[Long].collect().toSet ++
      corpusSide.select("vec_id").as[Long].collect().toSet
    val whole = Similarity.semanticDedupWith(
      corpusSide.unionByName(batch), 0.9, cents)
      .select("vec_id").as[Long].collect().toSet
    assert(incremental === whole)
  }

  test("jlProject: k cells per vector, linear, seed-determined, partition-width deterministic") {
    val d = 16
    val k = 4
    def vecs(rows: Seq[(Long, Seq[Float])]): DataFrame =
      rows.toDF("vec_id", "embedding")
    val a = Seq.tabulate(d)(i => (i + 1).toFloat)
    val b = Seq.tabulate(d)(i => (2 * i - 5).toFloat)
    val sum = a.zip(b).map { case (x, y) => x + y }
    val base = vecs(Seq((1L, a), (2L, b), (3L, sum)))
    def projMap(df: DataFrame, seed: Long) =
      Similarity.jlProject(df, d, k, seed).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val p = projMap(base, seed = 96L)
    // exactly k cells per vector
    assert(p.size === 3 * k && (0L until k).forall(j => p.contains((1L, j))))
    // linearity: proj(a + b) == proj(a) + proj(b) (exact small-int doubles)
    (0L until k).foreach { j =>
      assert(math.abs(p((3L, j)) - (p((1L, j)) + p((2L, j)))) < 1e-9,
        s"projection not linear at dim $j")
    }
    // the same seed reproduces across partition widths; a different seed differs
    val wide = projMap(vecs(Seq((1L, a), (2L, b), (3L, sum))).repartition(7), 96L)
    assert(wide === p)
    val other = projMap(base, seed = 97L)
    assert(other !== p, "different seed must give a different projection")
    // ±1/√k scaling: each cell is a signed sum of the inputs over √k —
    // |proj| is bounded by Σ|v|/√k
    val bound = a.map(v => math.abs(v.toDouble)).sum / math.sqrt(k.toDouble)
    (0L until k).foreach(j => assert(math.abs(p((1L, j))) <= bound + 1e-9))
  }

  test("hardNegatives: same-label positives and near-dup twins are excluded, hardest first") {
    // anchor 0 (label 0); 1 = same-label positive (must be excluded even
    // though it is the most similar); 2 = cross-label near-twin above
    // the dup ceiling (excluded); 3/4 = valid negatives at decreasing
    // similarity; 5 = orthogonal noise
    val a = Array.fill(8)(0f); a(0) = 1f
    def mix(w: Float, alt: Int): Array[Float] = {
      val v = a.clone(); v(0) = w; v(alt) = math.sqrt(1.0 - w * w).toFloat; v
    }
    val rows = Seq(
      (0L, 0L, a),
      (1L, 0L, mix(0.99f, 1)),
      (2L, 1L, mix(0.999f, 2)),
      (3L, 1L, mix(0.90f, 3)),
      (4L, 2L, mix(0.70f, 4)),
      (5L, 1L, { val v = Array.fill(8)(0f); v(7) = 1f; v }))
      .toDF("vec_id", "label", "embedding")
    val probes = rows.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    val got = Similarity.hardNegatives(probes, rows, k = 2, dupThreshold = 0.95)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 3L), (2L, 4L)),
      s"expected the two semi-hard negatives ranked hardest-first, got ${got.toSeq}")
  }

  test("retrievalMetrics: hand-computed recall@k and MRR, zero-overlap explicit") {
    import org.apache.spark.sql.functions.col
    def tk(rows: (Long, Long, Long)*) = rows.toDF("q_id", "rank", "vec_id")
    val truth = tk((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L),
      (2L, 1L, 20L), (2L, 2L, 21L), (2L, 3L, 22L))
    // q1: hits at ranks 2 (11) and 3 (12) -> recall 2/3, MRR 1/2
    // q2: no overlap -> 0.0 / 0.0 (row still present)
    val approx = tk((1L, 1L, 99L), (1L, 2L, 11L), (1L, 3L, 12L),
      (2L, 1L, 98L), (2L, 2L, 97L), (2L, 3L, 96L))
    val got = Similarity.retrievalMetrics(truth, approx, k = 3)
      .orderBy("q_id").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Double]("recall_at_k"), r.getAs[Double]("mrr")))
    assert(got.toSeq === Seq((1L, 2.0 / 3, 0.5), (2L, 0.0, 0.0)))
    // identical lists score perfectly
    val perfect = Similarity.retrievalMetrics(truth, truth, k = 3)
      .collect().map(r => (r.getAs[Double]("recall_at_k"), r.getAs[Double]("mrr")))
    assert(perfect.forall(_ == ((1.0, 1.0))))
  }

  test("signBits/hammingLimbs: hand-computed packing; binaryTopK with full pool equals brute cosine") {
    import spark.implicits._
    // packing: bit i set iff component i >= 0 (zero counts as positive);
    // 34 dims → two limbs, second limb holds bits 32..33
    val v = (0 until 34).map(i => if (i % 3 == 0) -1.0f else 1.0f)
    val packed = Seq(Tuple1(v)).toDF("embedding")
      .select(Similarity.signBits("embedding").as("bits"))
      .head().getAs[scala.collection.Seq[Long]]("bits")
    val expected0 = (0 until 32).filter(_ % 3 != 0).map(1L << _).sum
    val expected1 = Seq(32, 33).filter(_ % 3 != 0).map(i => 1L << (i - 32)).sum
    assert(packed.toSeq === Seq(expected0, expected1))
    // hamming counts differing sign bits
    val hd = Seq((Seq(5L, 1L), Seq(6L, 1L))).toDF("a", "b")
      .select(Similarity.hammingLimbs(col("a"), col("b")).as("h"))
      .head().getLong(0)
    assert(hd === 2L) // 5 xor 6 = 3 → two bits
    // with a rerank pool covering the whole corpus, binaryTopK must equal
    // the exact brute-force cosine top-k (the pool cut is the ONLY
    // approximation)
    val rnd = new scala.util.Random(7)
    val emb = (1L to 40L).map(id =>
      (id, Seq.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") <= 3L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val fast = Similarity.binaryTopK(probes, emb, k = 4, rerank = 100)
      .select("q_id", "rank", "vec_id").orderBy("q_id", "rank")
      .collect().toSeq
    val brute = Similarity.bruteForceTopK(probes, emb, k = 4)
      .select("q_id", "rank", "vec_id").orderBy("q_id", "rank")
      .collect().toSeq
    assert(fast === brute)
    // and the pool cut genuinely bounds candidates: tiny pool still
    // returns k rows per probe
    val small = Similarity.binaryTopK(probes, emb, k = 2, rerank = 2)
    assert(small.groupBy("q_id").count().collect().forall(_.getLong(1) === 2L))
    intercept[IllegalArgumentException](Similarity.binaryTopK(probes, emb, 5, rerank = 3))
  }

  test("clusterProfile: hand-computed sizes and cohesion; empty cells absent; width-stable") {
    import spark.implicits._
    // centroids along +x and +y; vectors cluster around them
    val cents = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)),   // exactly centroid 0 → sim 1.0
      (2L, Seq(1.0f, 1.0f)),   // ties cos=0.7071 both → tie-break to cell 0
      (3L, Seq(0.0f, 2.0f)),   // centroid 1 → sim 1.0
      (4L, Seq(-0.1f, 1.0f)))  // nearer +y
      .toDF("vec_id", "embedding")
    val got = Similarity.clusterProfile(emb, cents)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got(0L)._1 === 2L) // vecs 1 and 2
    assert(got(0L)._2 === 0.7071) // worst member: the tie vector, r4
    assert(got(1L)._1 === 2L) // vecs 3 and 4
    assert(got(1L)._3 > 0.99) // both nearly aligned with +y
    assert(got.size === 2)
    // a centroid nothing chose is absent
    val lonely = Similarity.clusterProfile(
      Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .collect()
    assert(lonely.length === 1 && lonely.head.getLong(0) === 0L)
    // partitioning invariance (the ra collapse + deterministic fold)
    val one = Similarity.clusterProfile(emb.coalesce(1), cents).orderBy("cell").collect().toSeq
    val many = Similarity.clusterProfile(emb.repartition(7), cents).orderBy("cell").collect().toSeq
    assert(one === many)
  }

  test("clusterPurity: hand-computed majorities, smaller-label ties, exact ratios") {
    import spark.implicits._
    val cents = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0),   // cell 0, label 0
      (2L, Seq(1.0f, 0.1f), 0),   // cell 0, label 0
      (3L, Seq(1.0f, -0.1f), 1),  // cell 0, label 1 → majority 0, purity 2/3
      (4L, Seq(0.0f, 1.0f), 7),   // cell 1, label 7
      (5L, Seq(0.1f, 1.0f), 9))   // cell 1, label 9 → 1-vs-1 tie → smaller label 7
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.clusterPurity(emb, cents)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got(0L) === ((3L, 0, 2L, 0.6667)))
    assert(got(1L) === ((2L, 7, 1L, 0.5)))
    assert(got.size === 2)
  }

  test("pcaFit recovers a planted dominant direction; projection matches the hand fold") {
    import spark.implicits._
    // variance concentrated on axis 2 (sigma 10), noise on the others
    val rnd = new scala.util.Random(11)
    val emb = (0 until 200).map { i =>
      val v = Array.fill(8)(0.1f * rnd.nextGaussian().toFloat)
      v(2) = (10.0 * rnd.nextGaussian()).toFloat
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val model = Similarity.pcaFit(emb, k = 2, maxTrain = 1024)
    assert(model.length === 3) // mean + 2 components
    val pc1 = model(1)
    // dominant component is ±e2; the sign convention makes it +e2
    assert(math.abs(pc1(2)) > 0.99f)
    assert(pc1(2) > 0, "sign convention: largest-|entry| coordinate positive")
    // unit norm
    val n1 = math.sqrt(pc1.map(x => x.toDouble * x.toDouble).sum)
    assert(math.abs(n1 - 1.0) < 1e-5)
    // projection = x·v − mean·v with the sequential double fold
    val muDot = Similarity.pcaMeanDots(model)(0)
    val x0 = emb.orderBy("vec_id").head().getSeq[Float](1).toArray
    val want = BigDecimal({
      var acc = 0.0; var i = 0
      while (i < x0.length) { acc += x0(i).toDouble * pc1(i).toDouble; i += 1 }
      acc - muDot
    }).setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    val gotPc1 = Similarity.pcaProject(emb, model).orderBy("vec_id").head().getDouble(1)
    assert(math.abs(gotPc1 - want) < 2e-4, s"$gotPc1 vs $want")
    // fit is a pure function of the sample: partition-width invariant
    val m2 = Similarity.pcaFit(emb.repartition(7), k = 2, maxTrain = 1024)
    assert(model.map(_.toSeq).toSeq === m2.map(_.toSeq).toSeq)
  }

  test("pcaFit: a planted exact eigenbasis is recovered within fp tolerance") {
    import spark.implicits._
    // two clusters along +x / −x in 3D: top component must be ±e1 → +e1
    val emb = ((0 until 50).map(i => (i.toLong, Seq(5.0f, 0.01f * i, 0.0f))) ++
      (50 until 100).map(i => (i.toLong, Seq(-5.0f, 0.01f * (i - 50), 0.0f))))
      .toDF("vec_id", "embedding")
    val model = Similarity.pcaFit(emb, k = 1, maxTrain = 1024)
    val v = model(1)
    assert(v(0) > 0.999f && math.abs(v(2)) < 1e-4f)
  }
}

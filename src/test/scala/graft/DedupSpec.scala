package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextOps}

/** Property tests for the dedup family: planted near-duplicates must be
  * found, unrelated docs must not collide, and the banded-LSH candidate
  * count must stay far below all-pairs.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** 40 random-word docs + one planted near-dup pair (ids 1000/1001: 50
    * tokens, one substituted) + one exact dup pair (ids 2000/2001).
    */
  def corpus(): DataFrame = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 200).map(i => s"w$i")
    def doc(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, doc(50)))
    val near = doc(50)
    val nearToks = near.split(" ")
    val nearMod = (nearToks.take(25) ++ Array("CHANGED") ++ nearToks.drop(26)).mkString(" ")
    val exact = doc(50)
    (base ++ Seq((1000L, near), (1001L, nearMod), (2000L, exact), (2001L, exact)))
      .toDF("doc_id", "text")
  }

  test("exact dedup collapses planted exact duplicates and keeps everything else") {
    val docs = corpus()
    val deduped = Dedup.exactDedup(docs).cache()
    assert(deduped.count() === docs.count() - 1) // one collapsed pair
    val pair = deduped.filter(col("doc_id") === 2000L).head()
    assert(pair.getAs[Long]("dup_count") === 2L)
    assert(deduped.filter(col("doc_id") === 2001L).count() === 0) // min id kept
    deduped.unpersist()
  }

  test("minhash LSH finds the planted near-dup pair with high estimated jaccard") {
    val pairs = Dedup.nearDupPairs(corpus(), threshold = 0.5).cache()
    val hit = pairs.filter(col("doc_a") === 1000L && col("doc_b") === 1001L)
    assert(hit.count() === 1, "planted near-dup not found")
    assert(hit.head().getAs[Double]("est_jaccard") >= 0.5)
    // the exact-dup pair is also a (trivial) near-dup
    assert(pairs.filter(col("doc_a") === 2000L && col("doc_b") === 2001L).count() === 1)
    pairs.unpersist()
  }

  test("jaccardNearDups: inverted index finds planted pairs exactly, df cap prunes boilerplate") {
    val pairs = Dedup.jaccardNearDups(corpus(), threshold = 0.5, maxShingleDf = 100).cache()
    // the exact-dup pair scores exactly 1.0; the near-dup pair is high
    val exact = pairs.filter(col("doc_a") === 2000L && col("doc_b") === 2001L)
    assert(exact.count() === 1 && exact.head().getAs[Double]("jaccard") === 1.0)
    val near = pairs.filter(col("doc_a") === 1000L && col("doc_b") === 1001L)
    assert(near.count() === 1 && near.head().getAs[Double]("jaccard") >= 0.5)
    pairs.unpersist()

    // a shingle above the df cap is excluded from candidate generation:
    // docs that ONLY share boilerplate produce no pair
    val boiler = "the same header line appears everywhere"
    val docs = (0L until 10L).map(i => (i, s"$boiler unique$i tail$i mark$i"))
      .toDF("doc_id", "text")
    assert(Dedup.jaccardNearDups(docs, threshold = 0.01, maxShingleDf = 5).count() === 0)
    // with a cap above their df the same docs DO pair (recall contract)
    assert(Dedup.jaccardNearDups(docs, threshold = 0.3, maxShingleDf = 100).count() > 0)
  }

  test("ppjoinNearDups: lossless — equals the brute threshold join, including x24's blind spot") {
    // brute-force truth over the planted corpus
    def brute(docs: DataFrame, t: Double): Set[(Long, Long, Double)] = {
      val sh = TextOps.shingles(docs, 3).filter(col("shingle").isNotNull)
      val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      sh.select(col("shingle"), col("doc_id").as("doc_a"))
        .join(sh.select(col("shingle"), col("doc_id").as("doc_b")), Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
        .join(n.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(n.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .withColumn("j", col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
        .filter(col("j") >= t)
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("j")))
        .toSet
    }
    def got(docs: DataFrame, t: Double): Set[(Long, Long, Double)] =
      Dedup.ppjoinNearDups(docs, t).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
        .toSet
    val c = corpus()
    assert(got(c, 0.5) === brute(c, 0.5))
    assert(got(c, 0.5).exists { case (a, b, j) => a == 2000L && b == 2001L && j == 1.0 })

    // the pair class jaccardNearDups structurally misses: overlap all
    // ABOVE the df cap (boilerplate-only twins) — the prefix filter has
    // no cap, so PPJoin still finds them
    val boiler = "the same header line appears everywhere in this corpus"
    val docs = (0L until 8L).map(i => (i, s"$boiler unique$i"))
      .toDF("doc_id", "text")
    val t = 0.4
    assert(Dedup.jaccardNearDups(docs, t, maxShingleDf = 5).count() === 0)
    assert(got(docs, t) === brute(docs, t))
    assert(got(docs, t).nonEmpty)
  }

  test("ppjoinNearDups is invariant to the input partitioning") {
    val c = corpus()
    val one = Dedup.ppjoinNearDups(c.coalesce(1), 0.5).orderBy("doc_a", "doc_b").collect().toSeq
    val many = Dedup.ppjoinNearDups(c.repartition(7), 0.5).orderBy("doc_a", "doc_b").collect().toSeq
    assert(one === many)
  }

  test("sortedIntersectCount equals size(array_intersect) on sorted distinct arrays (round-16 verify expr)") {
    import graft.functions.SortedIntersectCountExpr.sortedIntersectCount
    // randomized sorted-distinct pairs + planted edges: empty sides,
    // disjoint, identical, subset, null arrays
    val rnd = new scala.util.Random(7)
    def arr(): Seq[String] =
      (0 until rnd.nextInt(20)).map(_ => s"tok${rnd.nextInt(30)}").distinct.sorted
    val rows = (0 until 200).map(_ => (arr(), arr())) ++ Seq(
      (Seq.empty[String], Seq("a")), (Seq("a"), Seq.empty[String]),
      (Seq("a", "b"), Seq("a", "b")), (Seq("a"), Seq("b")),
      (Seq("a", "b", "c"), Seq("b")))
    val df = rows.toDF("a", "b")
    val both = df.select(
      sortedIntersectCount(col("a"), col("b")).as("merged"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
    assert(both.filter(col("merged") =!= col("builtin")).count() === 0)
    // null array -> null, both paths
    val nulls = Seq((Seq("a"), null.asInstanceOf[Seq[String]])).toDF("a", "b")
    assert(nulls.select(sortedIntersectCount(col("a"), col("b"))).collect().head.isNullAt(0))
  }

  test("ppjoinNearDups runs each of its three named barriers once; result count unchanged") {
    val c = corpus()
    val (pairs, barriers) = SparkJobs.barriers(spark)(Dedup.ppjoinNearDups(c, 0.5).count())
    assert(barriers === Map("ppjoin.cand" -> 1, "ppjoin.arrs" -> 1, "ppjoin.scored" -> 1))
    // the planted near-dup and exact-dup pairs (the brute-force spec above)
    assert(pairs === 2L)
  }

  test("containmentNearDups: an embedded excerpt scores 1.0 where jaccard waves it through") {
    // doc 2 = a 6-token excerpt of doc 1's 60 tokens: every excerpt
    // shingle is in the big doc, so containment = 1.0 while jaccard
    // = 4/58 ≈ 0.07 — the asymmetric-duplication case this operator
    // exists for (the sf fixture's planted dups are symmetric copies)
    val big = (0 until 60).map(i => s"w$i").mkString(" ")
    val excerpt = (20 until 26).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, big), (2L, excerpt), (3L, (100 until 160).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentNearDups(docs, threshold = 0.9, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq === Seq((1L, 2L, 1.0)))
    assert(Dedup.jaccardNearDups(docs, threshold = 0.5, minShared = 2).count() === 0)
    // same candidate core: below minShared rare shingles, no pair forms
    assert(Dedup.containmentNearDups(docs, threshold = 0.9, minShared = 10).count() === 0)
  }

  test("jaccardNearDupsAgainst: batch x corpus pairs only, exact scores") {
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 300).map(i => s"v$i")
    def doc(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpusDoc = doc(60)
    val toks = corpusDoc.split(" ")
    val nearDup = (toks.take(30) ++ Array("EDITED") ++ toks.drop(31)).mkString(" ")
    val twin = doc(50) // identical pair WITHIN the batch — must NOT be reported
    val corpus = ((0 until 20).map(i => (100L + i, doc(60))) :+ (200L, corpusDoc))
      .toDF("doc_id", "text")
    val batch = Seq((1L, nearDup), (2L, twin), (3L, twin)).toDF("doc_id", "text")
    val out = Dedup.jaccardNearDupsAgainst(batch, corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet === Set((1L, 200L)), s"expected only the planted cross pair, got $out")
    assert(out((1L, 200L)) >= 0.5)
    // exactness: matches the verification-grade pair scorer
    val exact = Dedup.exactJaccard(
      Seq((1L, 200L)).toDF("doc_a", "doc_b"),
      TextOps.shingles(batch.unionByName(corpus)))
      .head().getDouble(2)
    assert(out((1L, 200L)) === exact)
  }

  test("jaccardDecontam: row-identical to jaccardNearDupsAgainst on the same split") {
    // the decontam-facing restatement changes ONLY the physical posture
    // (barrier on the benchmark side, probe side streamed) — same
    // candidate semantics, same arithmetic, so the two must agree pair
    // for pair and score for score on any input, including pairs that
    // need the hot-shingle complement (df cap forced low here so capped
    // shingles actually occur)
    val docs = corpus()
    val probe = docs.filter(col("doc_id") % 3 =!= 0)
    val bench = docs.filter(col("doc_id") % 3 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incremental = rows(Dedup.jaccardNearDupsAgainst(
      probe, bench, threshold = 0.3, minShared = 2, maxShingleDf = 5))
    val decontam = rows(Dedup.jaccardDecontam(
      probe, bench, threshold = 0.3, minShared = 2, maxShingleDf = 5))
    assert(decontam === incremental)
    assert(decontam.nonEmpty, "fixture produced no cross pairs — test is vacuous")
  }

  test("jaccardNearDups: VersionedTable path is row-identical to the checkpoint path") {
    // the 100 TB materialization hook must not change a single row — the
    // same contract the x24/x24t oracle pair pins at fixture scale
    val docs = corpus()
    val viaCheckpoint = Dedup.jaccardNearDups(docs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sink = graft.sources.VersionedTable(
      java.nio.file.Files.createTempDirectory("graft_jaccard_vt_").toString)
    val viaTable = Dedup.jaccardNearDups(docs, threshold = 0.3, materialize = Some(sink))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaTable === viaCheckpoint)
    assert(viaTable.nonEmpty)
    // and the intermediate really landed as a committed snapshot
    assert(sink.latestVersion().contains(0L))
  }

  test("planted hot band bucket: salted candidatePairs matches unsalted and spreads the rows") {
    // 60 docs with IDENTICAL text -> identical signatures -> every band
    // hashes to ONE bucket: a degenerate posting list of 60 docs (1770
    // pairs), the boilerplate-corpus skew the salt hatch exists for.
    val hotText = (0 until 30).map(i => s"tok$i").mkString(" ")
    val rnd = new scala.util.Random(13)
    val docs = ((0L until 60L).map(i => (i, hotText)) ++
      (100L until 140L).map(i => (i, (0 until 30).map(_ => s"w${rnd.nextInt(500)}").mkString(" "))))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignaturesRowwise(docs).localCheckpoint()
    val plain = Dedup.candidatePairs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.count(p => p._1 < 60 && p._2 < 60) === 60 * 59 / 2, "hot clique missing")
    // threshold 30: the 60-row degenerate bucket salts, the singleton
    // buckets of the normal docs stay on the unsalted cold branch — the
    // hot/cold split is the point (salting everything would multiply the
    // whole join's shuffle volume by the bucket count)
    val salted = Dedup.candidatePairs(sigs, saltBuckets = 8, saltHotThreshold = 30L)
    assert(salted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === plain,
      "salting must not change the candidate set")
    // the executed hot branch really joins on the salted compound key
    assert(salted.queryExecution.executedPlan.toString.contains("__salt"))

    // spread evidence on the join itself. Two confs pinned for the probe:
    // coalescing off (or everything merges to 1 partition at fixture scale
    // regardless of salting) and auto-broadcast off (or this tiny fixture
    // broadcasts and never shuffles at all — at the scale the hatch is for,
    // the bucket join is shuffle-bound by definition)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      import graft.operators.Skew
      val hot = (0 until 60).map(i => ("bucket0", i.toLong)).toDF("k", "id")
      def nonEmptyParts(df: org.apache.spark.sql.DataFrame): Int =
        df.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0)
      val unsalted = hot.join(hot.toDF("k", "id2"), Seq("k"))
      assert(nonEmptyParts(unsalted) === 1, "one key = one shuffle partition unsalted")
      val opened = Skew.saltedJoin(hot, hot.toDF("k", "id2"), Seq("k"), buckets = 8)
      assert(nonEmptyParts(opened) > 1, "salt hatch did not spread the hot key")
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("candidate-pair count is far below all-pairs") {
    val docs = corpus()
    val sigs = Dedup.minhashSignatures(TextOps.shingles(docs))
    val n = docs.count()
    val candidates = Dedup.candidatePairs(sigs).count()
    assert(candidates < n * (n - 1) / 2 / 10, s"$candidates candidates for n=$n — LSH not pruning")
  }

  test("minhash estimate tracks exact jaccard on the planted pair") {
    val docs = corpus()
    val sh = TextOps.shingles(docs)
    val pairs = Dedup.nearDupPairs(docs, threshold = 0.3)
    val joined = Dedup.exactJaccard(pairs, sh)
      .join(pairs, Seq("doc_a", "doc_b"))
      .withColumn("err", abs(col("jaccard") - col("est_jaccard")))
    // 32 hash functions => standard error ~ sqrt(J(1-J)/32) ~ 0.09
    assert(joined.filter(col("err") > 0.3).count() === 0)
  }

  test("simhash: near-dups are close in Hamming distance, unrelated docs are far") {
    val sigs = Dedup.simhash(corpus()).cache()
    def sig(id: Long): Long =
      sigs.filter(col("doc_id") === id).head().getAs[Long]("simhash")
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1000L), sig(1001L)) <= 6, "near-dup pair too far in simhash space")
    assert(ham(sig(2000L), sig(2001L)) === 0, "exact dup must have identical simhash")
    val farCount = (0L until 10L)
      .map(i => ham(sig(1000L), sig(i)))
      .count(_ <= 10)
    assert(farCount === 0, "unrelated docs too close in simhash space")
    sigs.unpersist()
  }

  test("row-wise minhash signatures are identical to the exploded-path signatures") {
    val docs = corpus()
    val exploded = Dedup.minhashSignaturesFromHashes(
      Dedup.gramHashFrame(docs).select(col("doc_id"), explode(col("hs")).as("h")))
    val rowwise = Dedup.minhashSignaturesRowwise(docs)
    assert(exploded.exceptAll(rowwise).count() === 0 && rowwise.exceptAll(exploded).count() === 0)
  }

  test("winnowing: near-dups share most fingerprints, unrelated docs almost none") {
    val docs = corpus()
    val candidates = Dedup.fingerprintCandidates(docs, minShared = 2).cache()
    val planted = candidates.filter(col("doc_a") === 1000L && col("doc_b") === 1001L)
    assert(planted.count() === 1, "planted near-dup pair shares too few fingerprints")
    // exact dups share ALL fingerprints
    val exactPair = candidates.filter(col("doc_a") === 2000L && col("doc_b") === 2001L).head()
    val fps2000 = Dedup.winnowFingerprints(docs).filter(col("doc_id") === 2000L).count()
    assert(exactPair.getAs[Long]("shared_fps") === fps2000)
    // candidate set stays sparse (inverted index, not all-pairs)
    val n = docs.count()
    assert(candidates.count() < n * (n - 1) / 2 / 5)
    candidates.unpersist()
  }

  test("shingles: short documents yield no shingles, no descending-sequence bug") {
    val tiny = Seq((1L, "only two"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = TextOps.shingles(tiny).collect()
    assert(!sh.exists(_.getLong(0) == 1L))
    assert(sh.count(_.getLong(0) == 2L) === 2) // "a b c", "b c d"
  }

  test("connected components: two cliques and a chain resolve to min-id labels") {
    import spark.implicits._
    // clique {1,2,3}, chain 10-11-12-13-14 (diameter 4, exercises iteration),
    // isolated pair {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L)
    // default dispatch (small graph -> driver union-find) ...
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === expected)
    // ... and the distributed min-label loop must produce the IDENTICAL
    // labeling (the fast path's equivalence contract)
    val loop = Dedup.connectedComponents(pairs, smallGraphMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loop === expected)
    // ... and the DURABLE-barrier loop (every generation committed as a
    // VersionedTable snapshot — the fault-tolerant 100 TB posture) must
    // again be identical: labels are exact integers, so the parquet
    // round-trip cannot move anything
    val tmp = java.nio.file.Files.createTempDirectory("graft_cc_durable_").toString
    val vt = graft.sources.VersionedTable(s"$tmp/labels")
    val durable = Dedup.connectedComponents(
      pairs, smallGraphMaxEdges = 0, durable = Some(vt))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(durable === expected)
    // the loop really committed through the table: edges + initial labels
    // + one snapshot per iteration until convergence (>= 3 versions)
    assert(vt.versions().size >= 3)
  }

  test("connected components: refuses non-integral node ids up front") {
    import spark.implicits._
    // string ids would cast to null in the label-sum convergence test
    // and silently "converge" after one round — the operator must refuse
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq(("a", "b"), ("b", "c")).toDF("doc_a", "doc_b"))
    }
    assert(e.getMessage.contains("integral node ids"))
  }

  test("connected components: refuses integral-src / non-integral-dst pairs too") {
    import spark.implicits._
    // with only the src column checked, unionByName would coerce the
    // reversed edges to string and the decimal cast would null the sum
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq((1L, "b"), (2L, "c")).toDF("doc_a", "doc_b"))
    }
    assert(e.getMessage.contains("integral node ids"))
  }

  test("connected components: a fixpoint-at-init graph converges on iteration 1") {
    import spark.implicits._
    // self-loop graph: no label ever changes, so the seeded initial sum
    // must let maxIter = 1 suffice (unseeded, detection needed iter 2)
    val comps = Dedup
      .connectedComponents(
        Seq((5L, 5L)).toDF("doc_a", "doc_b"), maxIter = 1, smallGraphMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(5L -> 5L))
  }

  test("connected components: refuses to return wrong labels past maxIter") {
    import spark.implicits._
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 2, smallGraphMaxEdges = 0)
    }
    // and with enough iterations the same chain is one component
    val ok = Dedup.connectedComponents(chain, smallGraphMaxEdges = 0)
      .collect().map(_.getLong(1)).distinct
    assert(ok.toSeq === Seq(0L))
  }

  test("dropNearDuplicatesBy keeps the best-scoring member of each component") {
    // component {1,2,3} (chain) with scores favoring 2; pair {10,11} with
    // scores favoring 11; 20 unpaired
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),
      (10L, 0.4), (11L, 0.8),
      (20L, 0.1))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dropNearDuplicatesBy(docs, pairs, "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 11L, 20L), s"got $kept")
    // score tie: the smaller id survives deterministically
    val tied = Seq((1L, 0.5), (2L, 0.5)).toDF("doc_id", "quality")
    val keptTied = Dedup.dropNearDuplicatesBy(tied, Seq((1L, 2L)).toDF("doc_a", "doc_b"), "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(keptTied === Set(1L))
  }

  test("dropNearDuplicates keeps one row per component plus unpaired rows") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dropNearDuplicates(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    // {1,2,4} -> keep 1; {5,6} -> keep 5; 3 unpaired -> kept
    assert(kept.toSeq === Seq(1L, 3L, 5L))
  }

  test("spanDedup removes the later copy of a planted span and keeps the first") {
    import spark.implicits._
    val span = (0 until 6).map(i => s"dup$i").mkString(" ") // k = 6
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, words("a", 4) + " " + span + " " + words("b", 4)), // first occurrence
      (2L, words("c", 5) + " " + span),                       // later copy -> removed
      (3L, words("d", 10))                                    // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, k = 6).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    assert(out(0) === ((1L, words("a", 4) + " " + span + " " + words("b", 4), 0L)))
    assert(out(1) === ((2L, words("c", 5), 6L)))
    assert(out(2) === ((3L, words("d", 10), 0L)))
  }

  test("spanDedup: overlapping duplicated windows cover their union, once each") {
    import spark.implicits._
    // doc 2 repeats a 7-word run from doc 1; with k = 6 that is TWO
    // overlapping duplicated windows (starts 0 and 1) whose cover is the
    // union [0, 6] — 7 words removed, not 12
    val run = (0 until 7).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, run + " " + (0 until 3).map(i => s"x$i").mkString(" ")),
      (2L, run + " " + (0 until 3).map(i => s"y$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, k = 6).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    assert(out(0)._3 === 0L)
    assert(out(1) === ((2L, "y0 y1 y2", 7L)))
  }

  test("spanDedup: within-document repeats also dedup to the first occurrence") {
    import spark.implicits._
    val span = (0 until 6).map(i => s"s$i").mkString(" ")
    val docs = Seq((1L, span + " mid " + span)).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, k = 6).as[(Long, String, Long)].head()
    assert(out === ((1L, span + " mid", 6L)))
  }

  test("spanDedup: documents shorter than k pass through untouched") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, k = 6).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    assert(out.toSeq === Seq((1L, "a b c", 0L), (2L, "a b c", 0L)))
  }

  test("dedupLines: corpus-wide boilerplate lines leave every doc; order preserved") {
    import spark.implicits._
    val banner = "accept cookies to continue"
    val docs = Seq(
      (1L, s"intro one\n$banner\nbody text one"),
      (2L, s"$banner\nbody text two\nfooter two"),
      (3L, s"body text three\n$banner"),
      (4L, banner), // nothing left -> dropped entirely
      (5L, "unique only"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupLines(docs, minOccurrences = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out.contains(4L))
    assert(out(1L).getAs[String]("clean_text") === "intro one\nbody text one")
    assert(out(1L).getAs[Long]("n_lines_raw") === 3L)
    assert(out(1L).getAs[Long]("n_lines_kept") === 2L)
    assert(out(2L).getAs[String]("clean_text") === "body text two\nfooter two")
    assert(out(3L).getAs[String]("clean_text") === "body text three")
    assert(out(5L).getAs[String]("clean_text") === "unique only")
    // below the floor: a line seen only twice stays
    val out2 = graft.operators.Dedup.dedupLines(
      Seq((1L, "twice\na"), (2L, "twice\nb")).toDF("doc_id", "text"),
      minOccurrences = 3).collect()
    assert(out2.forall(_.getAs[Long]("n_lines_kept") === 2L))
  }

  test("fuzzy title pairs: planted typos found with exact edit counts; blocking contract pinned") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the annual report volume nine extra words here"),
      (2L, "the anual report volume nine different tail"), // 1 deletion
      (3L, "the annuel report volume nine"), // 1 substitution
      (4L, "The ANNUAL Report Volume Nine"), // case only -> 0 edits
      (5L, "qhe annual report volume nine"), // typo in the BLOCKING prefix
      (6L, "completely unrelated title text"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.fuzzyTitlePairs(docs, maxEdits = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("edits")).toMap
    assert(pairs((1L, 2L)) === 1L)
    assert(pairs((1L, 3L)) === 1L)
    assert(pairs((1L, 4L)) === 0L)
    assert(pairs((2L, 3L)) === 2L)
    // the blocking contract, stated in the scaladoc: a prefix edit
    // escapes the block — doc 5 pairs with nothing despite edit
    // distance 1 to doc 1's title
    assert(!pairs.keySet.exists { case (a, b) => a == 5L || b == 5L })
    assert(!pairs.keySet.exists { case (a, b) => a == 6L || b == 6L })
    // canonical orientation, no self-pairs
    assert(pairs.keySet.forall { case (a, b) => a < b })
    // the salt hatch changes physical placement only: a planted hot
    // block (every doc shares the prefix) yields byte-identical pairs
    // with salting on
    val hot = (1L to 60L).map(i => (i, s"the title number $i plus tail")).toDF("doc_id", "text")
    def run(salt: Int, dedupe: Boolean = false) = graft.operators.Dedup
      .fuzzyTitlePairs(hot, maxEdits = 2, saltBuckets = salt, saltHotThreshold = 10L,
        dedupeTitles = dedupe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(0) === run(8))
    assert(run(0).nonEmpty)
    // the distinct-title path (boilerplate-corpus optimization) is
    // result-identical — including identical-title docs pairing at 0
    // edits through the title self-pair
    val repeated = ((1L to 40L).map(i => (i, "the same boilerplate title everywhere")) ++
      Seq((41L, "the same boilerplate titel everywhere"), (42L, "unrelated thing entirely")))
      .toDF("doc_id", "text")
    def runRep(dedupe: Boolean) = graft.operators.Dedup
      .fuzzyTitlePairs(repeated, maxEdits = 2, dedupeTitles = dedupe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = runRep(false)
    assert(runRep(true) === direct)
    // title -> titel is a transposition = 2 plain-Levenshtein edits
    assert(direct.contains((1L, 2L, 0L)) && direct.contains((1L, 41L, 2L)))
  }

  test("fuzzy titles: suffix block catches prefix typos; off-path unchanged") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon tail"),
      // typo INSIDE the 4-char blocking prefix: 'alpha' -> 'ylpha' — the
      // prefix pass misses it, the reversed-prefix pass catches it
      (2L, "ylpha beta gamma delta epsilon tail"),
      (3L, "totally unrelated content here now"))
      .toDF("doc_id", "text")
    def run(suffix: Boolean) = Dedup
      .fuzzyTitlePairs(docs, maxEdits = 2, suffixBlock = suffix)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(!run(false).contains((1L, 2L, 1L)))
    assert(run(true).contains((1L, 2L, 1L)))
    // the flag only ADDS the second-key recall: prefix-pass pairs are a
    // subset, and with no prefix-interior typos both paths agree
    assert(run(false).subsetOf(run(true)))
    // a tail typo is caught by the PREFIX pass only (reversed prefix
    // differs) — the union must carry it exactly once, so both runs are
    // identical on a corpus with no prefix-interior typos
    val plain = Seq(
      (1L, "shared title exactly here on"),
      (2L, "shared title exactly here ox"),
      (3L, "different thing entirely")).toDF("doc_id", "text")
    def runPlain(suffix: Boolean) = Dedup
      .fuzzyTitlePairs(plain, maxEdits = 2, suffixBlock = suffix)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(runPlain(false).contains((1L, 2L, 1L)))
    assert(runPlain(true) === runPlain(false))
  }

  test("hammingNearDupPairs: planted close signatures pair, distant do not") {
    val rnd = new scala.util.Random(11)
    // 30 random 64-bit signatures (pairwise hamming ~32) + a planted pair
    // differing in 2 bits of band 0 + an identical pair
    val base = (0 until 30).map(i => (i.toLong, rnd.nextLong()))
    val sig = base.head._2
    val sigs = (base ++ Seq(
      (100L, sig ^ 3L),           // 2 bits off, both in band 0
      (200L, base(1)._2))).toDF("doc_id", "sig")
    val pairs = Dedup.hammingNearDupPairs(sigs, hashCol = "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((0L, 100L, 2L)))
    assert(pairs.contains((1L, 200L, 0L)))
    assert(pairs.size === 2) // nothing else within 3 bits
  }

  test("hammingNearDupPairs: pigeonhole recall below bands, salt hatch identical") {
    // exhaustive check at hamming <= 3 with 4 bands: EVERY pair within
    // threshold must agree on a whole band (pigeonhole), so banded ==
    // brute force
    val rnd = new scala.util.Random(5)
    val anchor = rnd.nextLong()
    // neighbors at hamming 1..3 with bit flips scattered ACROSS bands
    val flips = Seq(Seq(0), Seq(5, 20), Seq(1, 17, 33), Seq(60), Seq(15, 16, 47))
    val rows = (0L, anchor) +: flips.zipWithIndex.map { case (bs, i) =>
      ((i + 1).toLong, bs.foldLeft(anchor)((s, b) => s ^ (1L << b)))
    } :+ (99L, ~anchor)
    val df = rows.toDF("doc_id", "sig")
    def brute(maxH: Int) = rows.combinations(2).collect {
      case Seq((a, sa), (b, sb)) if java.lang.Long.bitCount(sa ^ sb) <= maxH =>
        (math.min(a, b), math.max(a, b), java.lang.Long.bitCount(sa ^ sb).toLong)
    }.toSet
    def run(salt: Int) = Dedup
      .hammingNearDupPairs(df, hashCol = "sig", maxHamming = 3,
        saltBuckets = salt, saltHotThreshold = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(0) === brute(3))
    assert(run(0).nonEmpty)
    assert(run(4) === run(0)) // salting spreads placement, never results
  }

  test("hammingNearDupPairs composes with simhash: boilerplate variants pair") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "completely different content about astrophysics and galactic rotation curves"))
      .toDF("doc_id", "text")
    val pairs = Dedup.hammingNearDupPairs(
      Dedup.simhash(docs), hashCol = "simhash", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }
}

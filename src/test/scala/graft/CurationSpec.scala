package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Splits, TextOps}

/** Stage-semantics tests for the composed curation pipeline (x53): each
  * planted document class must flow to the documented fate — capped,
  * quality-dropped, dedup-collapsed (better-quality member kept),
  * decontaminated, resampled, packed. The cross-engine value contract is
  * pinned by the x53 oracle row; these tests pin the SEMANTICS so a
  * refactor cannot silently reroute a stage.
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** A corpus where every pipeline stage has work to do:
    *   - ids 0-2: the "benchmark" (banned set);
    *   - id 10: copies benchmark text    -> decontaminated;
    *   - ids 20/21: exact duplicates     -> 20 survives (min id);
    *   - ids 30/31: near-duplicates, 31 cleaner -> 31 survives (quality);
    *   - id 40: two distinct words repeated   -> repetition-dropped;
    *   - id 41: one-word doc                  -> quality-dropped;
    *   - ids 100+: healthy filler (distinct vocab, long enough to pass).
    */
  def corpus(): DataFrame = {
    // every doc draws from its OWN vocabulary slice, so cross-doc shingle
    // overlap exists only where the test plants it (all-distinct tokens
    // also make the quality gate deterministic: diversity = 1)
    def healthy(tag: String, n: Int = 60) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val bench = (0L to 2L).map(i => (i, "bench", healthy(s"b${i}w")))
    // 49 vs 50 tokens: B outscores A on the length term only, so the
    // component argmax must pick id 31 over the smaller id 30
    val nearA = healthy("nw", 49)
    val nearB = nearA + " extra"
    // distinct filler around a bigram repeated 8 of 39 times: passes the
    // quality gate (~0.78) but fails the modal-bigram gate (0.205 > 0.1)
    val repetitive = (0 until 8)
      .flatMap(j => Seq(s"f${j}a", s"f${j}b", s"f${j}c", "x", "y")).mkString(" ")
    val rows = bench ++ Seq(
      (10L, "srcA", bench.head._3),                           // contaminated
      (20L, "srcA", healthy("dupw")), (21L, "srcA", healthy("dupw")), // exact dups
      (30L, "srcB", nearA), (31L, "srcB", nearB),             // near dups
      (40L, "srcB", repetitive),
      (41L, "srcB", "word")                                   // quality below gate
    ) ++ (100L until 130L).map(i => (i, s"src${i % 4}", healthy(s"h${i}w")))
    rows.toDF("doc_id", "source", "text")
  }

  def run(docs: DataFrame): DataFrame =
    Curation.pipeline(
      docs, banned = docs.filter(col("doc_id") <= 2),
      maxDocsPerSource = 100, // cap off in most tests: fates stay readable
      decontamMinShared = 5)

  test("each planted document class meets its documented fate") {
    val out = run(corpus()).cache()
    val kept = out.select("doc_id").distinct().as[Long].collect().toSet

    assert(!kept.contains(10L), "benchmark-copy doc must be decontaminated")
    assert(!kept.contains(21L), "exact duplicate must collapse to the min id")
    assert(!kept.contains(30L), "worse-quality near-dup member must drop")
    assert(kept.contains(31L), "better-quality near-dup member must survive")
    assert(!kept.contains(40L), "modal-bigram doc must fail the repetition gate")
    assert(!kept.contains(41L), "one-word doc must fail the quality gate")
    // individual docs may legitimately drop at the RESAMPLE stage
    // (Bernoulli keep when a source's upsample factor is < 1), so healthy
    // survival is asserted as a majority, not per id
    assert(kept.contains(20L), "surviving exact-dup representative must remain")
    assert((100L until 130L).count(kept.contains) >= 20,
      "most healthy filler docs must survive the whole chain")
    out.unpersist()
  }

  test("per-source cap bounds survivors and output is loader-consistent") {
    val out = Curation.pipeline(
      corpus(), banned = corpus().filter(col("doc_id") <= 2),
      maxDocsPerSource = 3, decontamMinShared = 5).cache()
    val perSource = out.select("doc_id", "source").distinct()
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(perSource.values.forall(_ <= 3), s"cap violated: $perSource")

    // packing invariant: within a shard, offsets are the running sum of
    // preceding token counts in (md5(pack_key), pack_key) order
    val packed = out
      .withColumn("pack_key",
        concat(col("doc_id").cast("string"), lit("#"), col("copy_id").cast("string")))
      .withColumn("ord", md5(col("pack_key")))
      .select("shard", "ord", "pack_key", "n_tokens", "tok_offset")
      .as[(String, String, String, Long, Long)].collect()
      .groupBy(_._1)
    packed.foreach { case (_, rows) =>
      var running = 0L
      rows.sortBy(r => (r._2, r._3)).foreach { r =>
        assert(r._5 === running, s"tok_offset drift at ${r._3}")
        running += r._4
      }
    }
    out.unpersist()
  }

  test("resampling replicates or drops but never forges rows") {
    val out = run(corpus()).cache()
    // every output doc_id must exist in the input, and copy_ids are the
    // contiguous prefix 1..n for each doc
    val copies = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), min("copy_id").as("lo"), max("copy_id").as("hi"))
      .as[(Long, Long, Long, Long)].collect()
    copies.foreach { case (id, n, lo, hi) =>
      assert(lo === 1L && hi === n, s"doc $id copy_ids not contiguous 1..$n")
    }
    val inputIds = corpus().select("doc_id").as[Long].collect().toSet
    assert(copies.map(_._1).forall(inputIds.contains))
    out.unpersist()
  }

  test("empty corpus flows through all seven stages to an empty result") {
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    assert(Curation.pipeline(empty, banned = empty).count() === 0L)
  }

  test("packSequences composite-key form spreads replicas and keeps the default form intact") {
    val docs = Seq((1L, "a b c"), (2L, "d e f g")).toDF("doc_id", "text")
    // default form: x40 contract unchanged by the idCol/carryCols params
    val base = Splits.packSequences(docs, seqLen = 4)
    assert(base.columns.toSeq ===
      Seq("doc_id", "shard", "n_tokens", "tok_offset", "seq_first", "seq_last"))
    // composite form: same doc under two copy ids lands by pack_key, and
    // carry columns ride through
    val replicated = Seq((1L, 1L, "s", "a b c"), (1L, 2L, "s", "a b c"))
      .toDF("doc_id", "copy_id", "source", "text")
      .withColumn("pack_key",
        concat(col("doc_id").cast("string"), lit("#"), col("copy_id").cast("string")))
    val packed = Splits.packSequences(
      replicated, seqLen = 4, idCol = "pack_key", carryCols = Seq("doc_id", "copy_id"))
    assert(packed.columns.toSeq ===
      Seq("pack_key", "shard", "n_tokens", "tok_offset", "seq_first", "seq_last",
        "doc_id", "copy_id"))
    assert(packed.count() === 2L)
    assert(packed.select("shard").distinct().count() >= 1L) // md5-of-key layout
  }

  test("packSequences nTokensCol path is bit-identical to the text path (round-16 carry)") {
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, null.asInstanceOf[String]),
      (4L, ""), (5L, "  x")).toDF("doc_id", "text")
    val viaText = Splits.packSequences(docs, seqLen = 4)
    val carried = Splits.packSequences(
      docs.withColumn(
        "nt",
        when(col("text").isNotNull, size(TextOps.tokens(col("text"))).cast("long"))),
      seqLen = 4, nTokensCol = Some("nt"))
    assert(carried.columns.toSeq === viaText.columns.toSeq)
    assert(
      carried.collect().map(_.toSeq).sortBy(_.head.toString) ===
        viaText.collect().map(_.toSeq).sortBy(_.head.toString))
  }

  test("pipelineRun cleanup releases every RDD the run cached") {
    val sc = spark.sparkContext
    // clean slate so the snapshot diff below is exact (other suites share
    // the session; their leftovers would blur the assertion)
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    val pre = sc.getPersistentRDDs.keySet
    val run = Curation.pipelineRun(
      corpus(), banned = corpus().filter(col("doc_id") <= 2),
      maxDocsPerSource = 100, decontamMinShared = 5)
    run.output.count()
    assert(sc.getPersistentRDDs.size > pre.size, "the live run should hold cached frames")
    run.cleanup()
    assert(sc.getPersistentRDDs.keySet === pre,
      s"persistent RDDs remain after cleanup: ${(sc.getPersistentRDDs.keySet -- pre).toSeq.sorted}")
    // truly one-shot: a frame cached AFTER the first cleanup must survive
    // a second call — the latch prevents a re-diff from sweeping up
    // unrelated session caches (round-8 review finding)
    val later = corpus().localCheckpoint()
    later.count()
    val afterFirst = sc.getPersistentRDDs.keySet
    assert(afterFirst.size > pre.size)
    run.cleanup() // idempotent no-op
    assert(sc.getPersistentRDDs.keySet === afterFirst,
      "second cleanup must not touch caches created after the first")
    later.unpersist()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("pipelineRun runs each of its three named barriers once, classifier on and off") {
    val banned = corpus().filter(col("doc_id") <= 2)
    val model = graft.operators.QualityModel.fit(
      graft.operators.QualityModel.qualityFeatures(corpus())
        .join(TextOps.qualityScore(corpus()), Seq("doc_id"))
        .withColumn("label", (col("quality_score") >= 0.65).cast("int")))
    for (cls <- Seq(None, Some((model, 0.5)))) {
      val (_, barriers) = SparkJobs.barriers(spark)(Curation.pipeline(
        corpus(), banned, maxDocsPerSource = 100, decontamMinShared = 5, classifier = cls)
        .count())
      assert(
        barriers.filter(_._1.startsWith("curation.")) ===
          Map("curation.cap" -> 1, "curation.exact_dedup" -> 1, "curation.clean_ids" -> 1),
        s"classifier=$cls: $barriers")
    }
    // the boundaries are barriers, never lazy caches (code, not comments)
    val src = Paths.get("src/main/scala/graft/operators/Curation.scala")
    assert(Files.isRegularFile(src), s"run from the project root: ${src.toAbsolutePath}")
    val code = new String(Files.readAllBytes(src), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    assert("""\bpersist\(""".r.findFirstIn(code).isEmpty)
  }

  test("opt-in classifier stage drops model-rejected docs and nothing else changes") {
    val docs = corpus()
    // fit on the corpus's own weak labels (the x56 recipe)
    val labeled = graft.operators.QualityModel.qualityFeatures(docs)
      .join(TextOps.qualityScore(docs), Seq("doc_id"))
      .withColumn("label", (col("quality_score") >= 0.65).cast("int"))
    val model = graft.operators.QualityModel.fit(labeled)
    val base = run(docs).select("doc_id", "copy_id").collect().map(_.toString).toSet
    // threshold 0: the stage is active but keeps everything — the
    // composed output must be IDENTICAL to the classifier-free pipeline
    val keepAll = Curation.pipeline(
      docs, banned = docs.filter(col("doc_id") <= 2),
      maxDocsPerSource = 100, decontamMinShared = 5,
      classifier = Some((model, 0.0)))
      .select("doc_id", "copy_id").collect().map(_.toString).toSet
    assert(keepAll === base)
    // a real threshold: output is a SUBSET of the baseline (the stage
    // only ever removes), and the model-rejected doc ids are gone
    val gated = Curation.pipeline(
      docs, banned = docs.filter(col("doc_id") <= 2),
      maxDocsPerSource = 100, decontamMinShared = 5,
      classifier = Some((model, 0.5)))
      .select("doc_id", "copy_id").collect().map(_.toString).toSet
    assert(gated.subsetOf(base))
    val rejected = graft.operators.QualityModel.classify(docs, model, 0.5)
      .filter(!col("keep")).select("doc_id").as[Long].collect().toSet
    assert(rejected.nonEmpty) // the planted junk gives the model real work
    val gatedIds = gated.map(_.split(",")(0).drop(1)) // "[id,copy]" -> id
    rejected.foreach(id => assert(!gatedIds.contains(id.toString), s"rejected $id survived"))
  }
}

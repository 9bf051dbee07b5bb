package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Forecast, Percentages, Similarity, TextOps}

/** Robustness: every pipeline must degrade cleanly on empty inputs — no
  * exceptions, correct empty/default outputs (the reference aborts with
  * sys.exit on empty frames, precompute_percentages.py:111-117; the engine
  * returns empty results and lets callers decide).
  */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def emptyHist = Seq.empty[(java.sql.Date, String, String, Double)]
    .toDF("ds", "branch", "move_type", "cnt")

  def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("percentages of an empty fact table is empty, not an error") {
    assert(Percentages.percentagesSingleScan(emptyHist).count() === 0)
    assert(Percentages.monthlyAvg(Percentages.percentagesSingleScan(emptyHist)).count() === 0)
  }

  test("fallback chain over an empty percentages table yields the 1.0 default") {
    val pct = Percentages.percentagesSingleScan(emptyHist)
    val req = Seq(("B1", "click", 1L, 15L)).toDF("branch", "move_type", "month", "day")
    val out = Forecast.fallbackPct(req, pct).head()
    assert(out.getAs[Double]("effective_pct") === 1.0)
    assert(out.getAs[String]("fallback_level") === "default")
  }

  test("dedup and text pipelines handle empty corpora") {
    assert(Dedup.exactDedup(emptyDocs).count() === 0)
    assert(Dedup.minhashSignaturesRowwise(emptyDocs).count() === 0)
    assert(Dedup.simhash(emptyDocs).count() === 0)
    assert(Dedup.winnowFingerprints(emptyDocs).count() === 0)
    assert(Dedup.jaccardNearDups(emptyDocs).count() === 0)
    assert(TextOps.tokenStats(emptyDocs).count() === 0)
    assert(TextOps.langId(emptyDocs).count() === 0)
  }

  test("round-3 operators handle empty inputs") {
    import graft.operators.Splits
    val emptyPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(emptyPairs).count() === 0)
    assert(Dedup.dropNearDuplicates(emptyDocs, emptyPairs).count() === 0)
    assert(TextOps.tfidfTopTerms(emptyDocs).count() === 0)
    assert(TextOps.contamination(emptyDocs, emptyDocs).count() === 0)
    assert(TextOps.piiStats(emptyDocs).count() === 0)
    assert(Splits.splitByHash(emptyDocs, "doc_id", Seq("a" -> 1.0)).count() === 0)
    // distribution of an empty corpus: one row of nulls/zero, not a crash
    val dist = TextOps.tokenDistribution(emptyDocs).head()
    assert(dist.getAs[Long]("n_docs") === 0L)
  }

  test("round-5 operators handle empty inputs") {
    val emptySourced = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextOps.corpusCardinality(emptySourced).count() === 0)
    assert(TextOps.corpusCardinality(emptySourced, approx = true).count() === 0)
    // table-backed materialization of an empty frame commits and reads back empty
    val sink = graft.sources.VersionedTable(
      java.nio.file.Files.createTempDirectory("graft_empty_vt").toString + "/t")
    assert(Dedup.jaccardNearDups(emptyDocs, materialize = Some(sink)).count() === 0)
    assert(sink.latestVersion().contains(0L))
    // salted candidate paths on empty corpora
    assert(Dedup.fingerprintCandidates(emptyDocs, saltBuckets = 4).count() === 0)
    val emptySigs = Dedup.minhashSignaturesRowwise(emptyDocs)
    assert(Dedup.candidatePairs(emptySigs, saltBuckets = 4).count() === 0)
  }

  test("round-6 operators handle empty inputs") {
    // BPE: training on nothing yields no merges; segmentation with zero
    // merges degrades to character splitting; packing/LM scoring empty in
    // -> empty out
    assert(TextOps.bpeMerges(emptyDocs, 5) === Seq.empty)
    assert(TextOps.bpeMergeTable(emptyDocs, 5).count() === 0)
    val seg = TextOps.bpeSegments(Seq((1L, "ab")).toDF("doc_id", "text"), Seq.empty)
      .select("subwords").head().getSeq[String](0)
    assert(seg === Seq("a", "b"))
    assert(TextOps.unigramLogProb(emptyDocs).count() === 0)
    // percentile over zero rows yields an all-NULL cuts row; the cross
    // join against an empty scored frame must stay empty, not error
    assert(TextOps.perplexityBuckets(emptyDocs).count() === 0)
    assert(graft.operators.Splits.packSequences(emptyDocs, seqLen = 64).count() === 0)
    // PQ training on an empty corpus fails fast with a clear message
    // (searching nothing is a caller error, not an empty result)
    val e = intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(
        Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), 4, 8, 1, 32)
    }
    assert(e.getMessage.contains("non-empty corpus"))
  }

  test("summarize of an empty daily frame is empty") {
    val daily = Seq.empty[(String, String, Long, Long, Double, Double)]
      .toDF("branch", "ds", "branch_forecast", "predicted_moves", "input_pct", "hist_avg")
    assert(Forecast.summarize(daily, Some("click")).count() === 0)
  }

  test("round-8 operators handle empty inputs") {
    // an empty bucketed table round-trips and joins cleanly — the
    // day-zero ingest state before any corpus exists
    val emptyPostings = Seq.empty[(Long, String)].toDF("doc_id", "shingle")
    val path = java.nio.file.Files.createTempDirectory("graft_bkt_empty").toString + "/t"
    graft.sources.Bucketed.save(emptyPostings, "bkt_empty", path, Seq("shingle"), 4)
    try {
      assert(graft.sources.Bucketed.table(spark, "bkt_empty").count() === 0)
      val batch = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
      assert(
        Dedup.jaccardNearDupsAgainstPostings(
          batch, graft.sources.Bucketed.table(spark, "bkt_empty")).count() === 0)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_empty")
    // BPE merge training on an empty corpus: no merges, segmentation
    // falls back to code points
    assert(TextOps.bpeMerges(emptyDocs, numMerges = 5).isEmpty)
    assert(
      TextOps.bpeSegments(Seq((1L, "ab")).toDF("doc_id", "text"), Seq.empty)
        .head().getSeq[String](3) === Seq("a", "b"))
  }

  test("round-12 operators handle empty inputs") {
    // redaction of an empty corpus: empty out, schema intact
    val red = TextOps.redactText(emptyDocs, Seq(("s_word", "\\bs[a-z]+", "<S>")))
    assert(red.count() === 0)
    assert(red.columns.toSeq === Seq("doc_id", "n_s_word", "text_redacted"))
    // fuzzy decontam with an empty benchmark: nothing flags
    assert(Dedup.jaccardNearDupsAgainst(
      Seq((1L, "a b c d e f")).toDF("doc_id", "text"), emptyDocs).count() === 0)
    // cluster purity of an empty embedding corpus: empty report
    val emptyEmb = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(graft.operators.Similarity.clusterPurity(
      emptyEmb, Array(Array(1.0f, 0.0f))).count() === 0)
    // PCA refuses an empty corpus loudly (a fit over nothing is a bug
    // upstream, not a model) — and pcaProject refuses a mean-only model
    val e1 = intercept[IllegalArgumentException](
      graft.operators.Similarity.pcaFit(
        Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), k = 2))
    assert(e1.getMessage.contains("empty corpus"))
    val e2 = intercept[IllegalArgumentException](
      graft.operators.Similarity.pcaProject(emptyEmb, Array(Array(0.0f, 0.0f))))
    assert(e2.getMessage.contains("mean + >=1 component"))
  }

  test("round-13 operators handle empty inputs") {
    import graft.operators.Importance
    // DSIR over an empty raw corpus: empty weights/selection, no error
    // (the NULL totals of an empty aggregate never reach a row — the
    // scoring join's left side is already empty)
    assert(Importance.hashedFeatures(emptyDocs, 64).count() === 0)
    assert(Importance.importanceWeights(emptyDocs, emptyDocs, 64).count() === 0)
    val docs = Seq((1L, "a b c", "en", "w")).toDF("doc_id", "text", "lang", "source")
    assert(Importance.selectTopK(
      docs.filter(col("doc_id") < 0), docs, 64, 5).count() === 0)
    // an EMPTY TARGET still scores every raw doc (add-one smoothing keeps
    // the target term finite at t_tot = 0)
    assert(Importance.importanceWeights(
      docs.select("doc_id", "text"), emptyDocs, 64).count() === 1)
    // bloom harvest over an empty commit: no rows, point reads stay total
    val t = graft.sources.VersionedTable(
      java.nio.file.Files.createTempDirectory("graft_empty_bloom").toString + "/t")
    t.commit(
      Seq.empty[(Long, String)].toDF("id", "s"),
      statsColumns = Seq("id"), bloomColumns = Seq("id"))
    assert(t.read(spark).filter(col("id").isin(1L)).count() === 0)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CrossRound, Importance}

/** DSIR importance resampling: the operator's fit+score must equal a
  * driver-side brute-force replay of the published recipe (hashed
  * unigram+bigram bags, add-one smoothing, log-ratio scoring), and the
  * selection step must be a deterministic top-k of the weights. The
  * cross-engine gate is x133/x134's DuckDB oracle; this spec pins the
  * SEMANTICS against an independent in-process implementation.
  */
class ImportanceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val Buckets = 64

  // (doc_id, text, lang, source): two "target-looking" English docs, two
  // noise docs, one doc sharing half its tokens with the target
  private val fixture = Seq(
    (1L, "the cat sat on the mat", "en", "web"),
    (2L, "the dog sat on the log", "en", "web"),
    (3L, "zzz qqq vvv kkk", "de", "crawl"),
    (4L, "the cat sat zzz qqq", "fr", "crawl"),
    (5L, "mat cat the on sat the", "zh", "web"),
    // whitespace-only: splits to two EMPTY tokens (split keeps edges at
    // limit -1), so it has no unigrams but exactly one " " bigram — the
    // brute force below reproduces that degenerate case deliberately
    (6L, " ", "de", "crawl"))

  private def docsDf = {
    import spark.implicits._
    fixture.toDF("doc_id", "text", "lang", "source")
  }

  /** The operator's exact hash, recomputed independently: first 8 md5
    * hex digits of the UTF-8 feature, mod the bucket count.
    */
  private def bucketOf(feat: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(feat.getBytes("UTF-8"))
    val hex = d.take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % Buckets
  }

  /** Spark's split keeps trailing empties (limit = -1); unigrams drop
    * empties, bigrams run over the RAW array — the x25 gram shape.
    */
  private def featuresOf(text: String): Seq[String] = {
    val toks = text.split("\\s+", -1).toSeq
    val uni = toks.filter(_.nonEmpty)
    val bi = if (toks.length >= 2) toks.sliding(2).map(_.mkString(" ")).toSeq else Nil
    uni ++ bi
  }

  private def bruteWeights(): Map[Long, (Long, Double)] = {
    val perDoc: Map[Long, Seq[Long]] =
      fixture.map { case (id, text, _, _) => id -> featuresOf(text).map(bucketOf) }.toMap
    val rawCnt = perDoc.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tgtCnt = fixture.filter(_._3 == "en").flatMap(f => perDoc(f._1))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rTot = rawCnt.values.sum.toDouble
    val tTot = tgtCnt.values.sum.toDouble
    perDoc.collect { case (id, bs) if bs.nonEmpty =>
      val logw = bs.groupBy(identity).map { case (b, occ) =>
        val lr = math.log(tgtCnt.getOrElse(b, 0L) + 1.0) - math.log(tTot + Buckets) -
          math.log(rawCnt(b) + 1.0) + math.log(rTot + Buckets)
        occ.size * lr
      }.sum
      id -> ((bs.size.toLong, CrossRound.raD(logw, 4) + 0.0))
    }
  }

  test("importanceWeights equals the brute-force DSIR replay, doc for doc") {
    val docs = docsDf
    val got = Importance.importanceWeights(
      docs.select("doc_id", "text"),
      docs.filter(col("lang") === "en").select("doc_id", "text"),
      Buckets)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = bruteWeights()
    assert(got.keySet === want.keySet)
    want.foreach { case (id, (nf, w)) =>
      assert(got(id)._1 === nf, s"n_feats mismatch for doc $id")
      assert(got(id)._2 === w, s"logw mismatch for doc $id: got ${got(id)._2}, want $w")
    }
    // NO direction assertion on individual docs: at 64 buckets the hash
    // collisions of a 6-doc fixture make "target-like outranks noise"
    // data-dependent (a permuted doc's novel bigrams can land in buckets
    // a noise doc shares with the target) — the doc-for-doc identity
    // against the independent replay above IS the semantic pin.
  }

  test("selectTopK is the deterministic (logw desc, doc_id) prefix with corpus columns attached") {
    val docs = docsDf
    val k = 3
    val sel = Importance.selectTopK(
      docs, docs.filter(col("lang") === "en"), Buckets, k)
      .orderBy("rank").collect()
    assert(sel.length === k)
    assert(sel.map(_.getLong(0)).toSeq === (1L to k.toLong))
    val want = bruteWeights().toSeq
      .sortBy { case (id, (_, w)) => (-w, id) }.take(k)
    assert(sel.map(_.getLong(1)).toSeq === want.map(_._1))
    // source/lang rejoined correctly
    sel.foreach { r =>
      val f = fixture.find(_._1 == r.getLong(1)).get
      assert(r.getString(2) === f._4 && r.getString(3) === f._3)
    }
    // k past the corpus: every weighted doc, still contiguous ranks
    val all = Importance.selectTopK(
      docs, docs.filter(col("lang") === "en"), Buckets, 100)
      .collect()
    assert(all.length === bruteWeights().size)
  }

  test("t_tot sums the FULL target domain, including buckets absent from raw") {
    // the round-15 totals restructure rides a FULL outer join (so the
    // global-window T still sees target-only buckets) with the raw-domain
    // filter applied ABOVE the window; if the optimizer ever degraded the
    // join to left-outer (e.g. by pushing the r_cnt filter below the
    // window), T would silently shrink — this fixture makes the two
    // disagree: the target carries many buckets the raw corpus never hits
    import spark.implicits._
    val raw = Seq((1L, "aaa bbb ccc"), (2L, "ddd eee")).toDF("doc_id", "text")
    val tgtTexts = Seq("xxx yyy zzz www qqq rrr sss ttt", "aaa bbb")
    val target = tgtTexts.zipWithIndex
      .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
    val got = Importance.importanceWeights(raw, target, Buckets)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val rawDocs = Map(1L -> "aaa bbb ccc", 2L -> "ddd eee")
    val rawCnt = rawDocs.values.toSeq.flatMap(t => featuresOf(t).map(bucketOf))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tgtCnt = tgtTexts.flatMap(t => featuresOf(t).map(bucketOf))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rTot = rawCnt.values.sum.toDouble
    val tTot = tgtCnt.values.sum.toDouble
    rawDocs.foreach { case (id, text) =>
      val bs = featuresOf(text).map(bucketOf)
      val logw = bs.groupBy(identity).map { case (b, occ) =>
        occ.size * (math.log(tgtCnt.getOrElse(b, 0L) + 1.0) - math.log(tTot + Buckets)
          - math.log(rawCnt(b) + 1.0) + math.log(rTot + Buckets))
      }.sum
      assert(got(id) === CrossRound.raD(logw, 4) + 0.0, s"logw mismatch for doc $id")
    }
  }

  test("sliced path ≡ two-frame path, weights and selection (the round-16 one-pass fusion)") {
    val docs = docsDf
    val twoFrame = Importance.importanceWeights(
      docs.select("doc_id", "text"),
      docs.filter(col("lang") === "en").select("doc_id", "text"),
      Buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val sliced = Importance.importanceWeightsSliced(
      docs.select("doc_id", "text", "lang"), col("lang") === "en", Buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(sliced === twoFrame)
    val selTwo = Importance.selectTopK(
      docs, docs.filter(col("lang") === "en"), Buckets, 3)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    val selSliced = Importance.selectTopKSliced(docs, col("lang") === "en", Buckets, 3)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(selSliced === selTwo)
    // a NULL-lang doc is a raw doc but never a target doc on either path
    val withNull = docs.withColumn(
      "lang", when(col("doc_id") === 5L, lit(null: String)).otherwise(col("lang")))
    val twoN = Importance.importanceWeights(
      withNull.select("doc_id", "text"),
      withNull.filter(col("lang") === "en").select("doc_id", "text"),
      Buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val slicedN = Importance.importanceWeightsSliced(
      withNull.select("doc_id", "text", "lang"), col("lang") === "en", Buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(slicedN === twoN)
  }

  test("the staged harness selects exactly selectTopKSliced's rows, one barrier per stage") {
    val docs = docsDf
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val (staged, barriers) = SparkJobs.barriers(spark)(
      Importance.dsirStaged(docs, col("lang") === "en", Buckets, 3) { (name, build) =>
        names += name
        build()
      }.orderBy("rank").collect().map(_.toSeq).toSeq)
    val shipped = Importance.selectTopKSliced(docs, col("lang") === "en", Buckets, 3)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(staged.size === 3)
    assert(staged === shipped)
    assert(names.toSeq === Seq("features", "fit", "score", "select"))
    assert(barriers.keySet === Set("dsir.features", "dsir.fit", "dsir.score"))
    val timings = Importance.dsirStageTimings(docs, col("lang") === "en", Buckets, 3)
    assert(timings.map(t => (t._1, t._3)).last === (("select", 3L)))
  }

  test("weights are parallelism-invariant (the ra pre-round collapses sum-order drift)") {
    val docs = docsDf
    def run(parts: Int) = Importance.importanceWeights(
      docs.repartition(parts).select("doc_id", "text"),
      docs.filter(col("lang") === "en").select("doc_id", "text"),
      Buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(run(1) === run(7))
  }
}

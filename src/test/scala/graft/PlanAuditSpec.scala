package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Dedup}
import graft.sources.Tables

/** The audit must flag the real optimizer behavior that produced two 22x
  * regressions: PushDownPredicate pushing a post-projection filter below a
  * derived-array projection, inlining the whole array expression into the
  * filter condition (re-evaluated per element). Tests drive actual plans
  * through Catalyst on parquet-backed data — a LocalRelation would be
  * constant-folded away and never exercise the pushdown.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)

  test("flags the pushed-filter-inlines-HOF shape (the round-2 x16 bug, reconstructed)") {
    // winnowFingerprints' round-2 shape: derived-array projection, THEN a
    // size filter — PushDownPredicate inlines the transform into the filter
    val bad = docs
      .select(
        col("doc_id"),
        transform(split(col("text"), "\\s+"), t => xxhash64(t)).as("hs"))
      .filter(size(col("hs")) >= 4)
    val c = PlanAudit.auditExecuted(bad)
    assert(c.hofFilters >= 1, s"expected the inlined-HOF filter flagged, got $c")
  }

  test("does not flag the fixed in-projection guard (current winnowFingerprints)") {
    val c = PlanAudit.auditExecuted(Dedup.winnowFingerprints(docs))
    assert(c.hofFilters === 0, s"clean shape wrongly flagged: $c")
    assert(c.scans === 1)
  }

  test("does not flag plain-attribute or non-HOF filters") {
    val plain = docs.filter(length(col("text")) > 10 && size(split(col("text"), "\\s+")) >= 3)
    val c = PlanAudit.auditExecuted(plain)
    assert(c.hofFilters === 0)
    assert(c.scans === 1)
  }

  test("counts broadcast joins and scans through finalized AQE plans") {
    val small = docs.select(col("doc_id")).limit(10)
    val joined = docs.join(broadcast(small), Seq("doc_id"))
    val c = PlanAudit.auditExecuted(joined)
    assert(c.bcastJoins === 1, s"expected one broadcast join, got $c")
    assert(c.scans === 2)
    assert(c.cartesian === 0 && c.smj === 0)
  }

  test("per-stage gate: a stage regressed to a cartesian or excess BNLJ fails") {
    // a barrier whose join degenerated to a cartesian product must trip
    // the same gate the main per-query audit runs, under its own name
    val burst = PlanAudit.auditExecuted(
      docs.limit(20).crossJoin(docs.limit(20).select(col("doc_id").as("other"))))
    assert(
      PlanAudit.gate("curation.exact_dedup", burst)
        .exists(v => v.contains("cartesian") || v.contains("BroadcastNestedLoopJoin")),
      s"regressed stage not flagged: $burst")
    // and a clean equi-join shape passes
    val ok = PlanAudit.auditExecuted(docs.join(broadcast(docs.select("doc_id").limit(5)), Seq("doc_id")))
    assert(PlanAudit.gate("curation.exact_dedup", ok).isEmpty)
  }

  test("every violation message is ASCII, so any console encoding prints it") {
    val all = PlanAudit.Counts(
      scans = 1, bcastJoins = 0, smj = 1, cartesian = 1, hofFilters = 1, bnlj = 1,
      windowGroupLimits = 0, unboundedGlobalWindows = 1)
    val messages = PlanAudit.violations("q", all, 0, 0, requireWgl = true)
    assert(messages.size === 6, messages)
    messages.foreach(m => assert(m.forall(_ < 128), m))
  }

  test("global-window gate: unbounded single-partition windows flag; aggregate-bounded pass") {
    import org.apache.spark.sql.expressions.Window
    // a global window directly over corpus rows — the regression the
    // round-11 gate exists for (corpus-cardinality rows on ONE partition)
    val wAll = Window.partitionBy().orderBy("doc_id")
    val bad = docs.withColumn("rn", row_number().over(wAll))
    val cBad = PlanAudit.auditExecuted(bad)
    assert(cBad.unboundedGlobalWindows >= 1, s"unbounded global window not flagged: $cBad")
    assert(PlanAudit.violations("q", cBad, 0, 0, requireWgl = false)
      .exists(_.contains("single-partition window")))
    // the legal shape: the same window ABOVE an aggregation boundary
    // (group-space input — Vocab.rankVocab / Sketches.histQuantiles class)
    val ok = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(Window.partitionBy().orderBy("lang")))
    val cOk = PlanAudit.auditExecuted(ok)
    assert(cOk.unboundedGlobalWindows === 0, s"aggregate-bounded window wrongly flagged: $cOk")
    // ... including through a REUSED single-partition exchange (x97's
    // two stacked global windows share one exchange; the boundary search
    // must follow ReusedExchange to the original subtree)
    val two = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("cum", sum(col("n")).over(Window.partitionBy().orderBy("lang")))
    val cTwo = PlanAudit.auditExecuted(two)
    assert(cTwo.unboundedGlobalWindows === 0, s"reused-exchange window wrongly flagged: $cTwo")
  }

  test("inner audit walks the FINAL adaptive plan of a lazy barrier (the suspected pre-AQE gap)") {
    // The round-11 verdict suspected lazy localCheckpoint(false) barriers
    // were audited from PRE-AQE initial plans. Probed directly (round 12):
    // the gap does not exist in Spark 4.1 — Dataset.localCheckpoint(false)
    // builds its RDD via toRdd, and AdaptiveSparkPlanExec finalizes ALL
    // query stages inside doExecute, so the captured QueryExecution is
    // already isFinalPlan=true when the listener fires. This test pins
    // the refutation: static planning (broadcast disabled) puts an SMJ in
    // the INITIAL plan, AQE's runtime threshold demotes it to broadcast,
    // and the audit must count the BROADCAST (runtime truth), not the
    // initial SMJ — plus the deferred re-walk PlanAudit.main now does
    // (belt-and-braces for any event captured before finalization) must
    // agree with the capture-time walk.
    val prevStatic = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    @volatile var captured: org.apache.spark.sql.execution.QueryExecution = null
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint") captured = qe
      override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val big = docs.select(col("doc_id"))
      val small = docs.filter(col("doc_id") < 20).select(col("doc_id"))
      val cp = big.join(small, Seq("doc_id")).localCheckpoint(false)
      org.apache.spark.GraftBusBridge.drain(spark.sparkContext)
      assert(captured != null, "lazy localCheckpoint did not fire the listener")
      val planStr = captured.executedPlan.toString
      assert(planStr.contains("isFinalPlan=true"),
        "lazy localCheckpoint no longer finalizes AQE at capture time — " +
          "the deferred walk in PlanAudit.main is now load-bearing: " +
          planStr.take(400))
      assert(planStr.split("== Initial Plan ==").last.contains("SortMergeJoin"),
        s"the STATIC plan should be an SMJ (broadcast disabled): ${planStr.take(1200)}")
      val pre = PlanAudit.audit(captured.executedPlan)
      assert(pre.smj === 0 && pre.bcastJoins === 1,
        s"audit must count the AQE-final broadcast, not the initial SMJ: $pre")
      cp.count() // materialize the barrier's deferred final stage
      val post = PlanAudit.audit(captured.executedPlan)
      assert(post === pre,
        s"deferred re-walk (PlanAudit.main) must agree with capture time: $post vs $pre")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      prevAdaptive match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("every x53 inner execution passes the gate under its barrier name's allowance") {
    val (_, execs) = PlanAudit.innerExecutions(spark)(PlanAudit.auditExecuted(
      Curation.pipeline(docs, banned = docs.filter(col("doc_id") < 50))))
    val names = execs.flatMap(_.barrier).toSet
    assert(Set("curation.cap", "curation.exact_dedup", "curation.clean_ids").subsetOf(names), names)
    execs.foreach { i =>
      assert(PlanAudit.gate(i.name, i.counts).isEmpty, s"${i.name} (${i.action}): ${i.counts}")
    }
    // the cap barrier's plan is where the per-source top-k's group limit lives
    assert(execs.filter(_.barrier.contains("curation.cap")).map(_.counts.windowGroupLimits).min > 0)
  }

  test("a RequiredWindowGroupLimit name without a WindowGroupLimitExec is a violation") {
    val (_, execs) = PlanAudit.innerExecutions(spark)(
      Barrier(docs.select("doc_id", "source"), "curation.cap"))
    val cap = execs.filter(_.barrier.contains("curation.cap"))
    assert(cap.map(_.action) === Seq("localCheckpoint"))
    assert(cap.head.counts.windowGroupLimits === 0)
    assert(PlanAudit.gate(cap.head.name, cap.head.counts)
      .exists(_.startsWith("curation.cap: top-k lost its WindowGroupLimit")))
  }
}

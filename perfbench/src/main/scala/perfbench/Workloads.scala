package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry
import graft.sources.Tables

import Inputs._

/** The traced window of a traced run: registers the probe, turns tracing
  * on, and reads the window's codegen, GC, Catalyst and steal totals.
  */
final class Window(spark: SparkSession) {
  val probe = new Probe
  private val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private val compileNs0 = CodeGenerator.compileTime
  private val gc0 = Sentinels.gcMs()
  val host = new Sentinels.Window
  val startNs: Long = System.nanoTime()
  spark.sparkContext.addSparkListener(probe)
  spark.listenerManager.register(probe)
  Trace.enabled = true
  var compiles, compileMs, gcMs, stealCores, catalystMs = 0.0
  private var frozen = false

  /** Fix the window's totals (codegen, GC, Catalyst, steal): work traced
    * after this point is not charged to the window's operations.
    */
  def freeze(): Unit = if (!frozen) {
    frozen = true
    ListenerDrain(spark.sparkContext)
    compiles = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble
    compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    gcMs = (Sentinels.gcMs() - gc0).toDouble
    stealCores = host.stealCores
    catalystMs = probe.catalystNs.get / 1e6
  }

  def close(): Unit = {
    freeze()
    Trace.enabled = false
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(probe)
    spark.listenerManager.unregister(probe)
  }
}

/** Per-layer metrics of a traced window. Every workload reports every
  * metric; a layer the workload does not reach reads 0.
  */
object Layers {
  val SpanLayers: Seq[String] = Seq(
    "api.call", "forecast.predict_build", "forecast.fit", "serving.collect", "trends.build",
    "trends.collect", "snapshot.read", "snapshot.commit", "pct.recompute", "refresh.fold") ++
    BatchRun.Queries.map(q => s"batch.${BatchRun.short(q)}")

  /** @param fg     root spans of the window's foreground operations
    * @param wallNs each foreground operation's wall time, as its caller
    *               measured it around the call, by operation id
    * @param extra  metrics the workload measured itself
    */
  def metrics(
      ctx: Ctx, w: Window, fg: Seq[Trace.Span], wallNs: Map[Long, Long],
      extra: Map[String, Double]): Seq[(String, Double, String)] = {
    // the window's spans, and the set-up's
    val all = Trace.spans.asScala.toSeq.filter(s => s.start >= w.startNs || s.kind == "setup")
    val self = Trace.selfTimes(all)
    def meanSelf(name: String): Double = {
      val s = all.filter(_.name == name)
      if (s.isEmpty) 0.0 else s.map(x => self(x.id)).sum / s.size / 1e6
    }
    val fgIds = fg.map(_.id).toSet
    val byOp = all.groupBy(_.op)
    // the self times of an operation's spans must add up to the wall time
    // its caller measured: a span outside its parent, overlapping siblings
    // or time lost between the spans shows as a difference
    val errs = fg.map(r => (math.abs(wallNs(r.op) - byOp(r.op).map(s => self(s.id)).sum), wallNs(r.op)))
    errs.filter { case (err, wall) => err > ReconcileTolerance * wall }.foreach { case (err, wall) =>
      ctx.fail(f"trace: span self times miss an operation's wall time of ${wall / 1e6}%.1f ms by ${err / 1e6}%.3f ms")
    }
    val reconcileErrMs = errs.map(_._1 / 1e6).foldLeft(0.0)(_ max _)
    val jobs = w.probe.jobs.values.asScala.toSeq
    val fgJobs = jobs.filter(j => fgIds.contains(j.op))
    val n = fg.size.max(1).toDouble
    def perOp(f: w.probe.JobRec => Double): Double = fgJobs.map(f).sum / n
    val gapMs = fg.map { r =>
      val lo = Trace.epochMs(r.start); val hi = Trace.epochMs(r.end)
      val iv = fgJobs.filter(_.op == r.op).map(j => (j.submit * 1000L, (if (j.end > 0) j.end else hi.toLong) * 1000L))
      (hi - lo) - Trace.covered(iv, (lo * 1000).toLong, (hi * 1000).toLong) / 1000.0
    }.sum / n
    val unattributed = if (fg.isEmpty) 0.0 else fg.map(r => self(r.id)).sum / fg.size / 1e6
    SpanLayers.map(s => (s + "_ms", meanSelf(s), "ms")) ++ Seq(
      ("unattributed_ms", unattributed, "ms"),
      ("trace.reconcile_err_ms", reconcileErrMs, "ms"),
      ("spark.jobs", perOp(_ => 1.0), "count"),
      ("spark.stages", perOp(_.stages.toDouble), "count"),
      ("spark.tasks", perOp(_.tasks.toDouble), "count"),
      ("spark.task_ms", perOp(_.taskMs.toDouble), "ms"),
      ("spark.sched_wait_ms", perOp(j => if (j.firstTask == Long.MaxValue) 0.0 else (j.firstTask - j.submit).toDouble), "ms"),
      ("spark.driver_gap_ms", gapMs, "ms"),
      ("spark.catalyst_ms", w.catalystMs / n, "ms"),
      ("codegen.compiles", w.compiles / n, "count"),
      ("codegen.compile_ms", w.compileMs / n, "ms"),
      ("spark.shuffle_write_bytes", perOp(_.shuffleWrite.toDouble), "bytes"),
      ("spark.spill_bytes", perOp(_.spill.toDouble), "bytes"),
      ("jvm.gc_ms", w.gcMs / n, "ms"),
      ("host.steal_cores", w.stealCores, "cores"),
      ("jvm.peak_rss_mb", Sentinels.peakRssMb(), "MB")) ++
      Extra.map { case (name, unit) => (name, extra.getOrElse(name, 0.0), unit) }
  }

  /** Largest difference allowed between an operation's wall time and the
    * sum of its spans' self times, as a share of the wall time. The
    * caller's clock reads outside the root span, so the bookkeeping around
    * it is part of the difference: microseconds, or a few milliseconds
    * when a GC pause or the scheduler stops the caller in between. A
    * misplaced layer span is tens of milliseconds or more.
    */
  val ReconcileTolerance = 0.01

  val Extra: Seq[(String, String)] = Seq(
    "api.jobs_per_req" -> "count",
    "trends.rows_read_per_row" -> "ratio",
    "trends.request_ms" -> "ms",
    "snapshot.files_per_commit" -> "count",
    "snapshot.write_amp" -> "ratio",
    "refresh.shuffle_write_bytes" -> "bytes",
    "batch.cold_pass_ms" -> "ms",
    "trace.overhead_pct" -> "%")
}

/** `serve`: closed-loop callers on the serving path. */
object ServeRun {
  final case class Done(req: Request, resp: Response, startNs: Long, endNs: Long, op: Long)

  /** Median of the set-up repetitions is `setup_s`; each fits the models,
    * so three is what a run affords.
    */
  val SetupReps = 3

  /** About one request's time with four callers on 4 cores. The window is
    * a fixed number of requests per caller, `--seconds` over this and at
    * least two: a window bounded by time would hold one round of requests
    * more in one run than in another, and so measure a different mix.
    */
  val RequestSeconds = 4.0

  def perCaller(seconds: Int): Int = math.max(2, math.ceil(seconds / RequestSeconds).toInt)

  private def opKind(r: Request): String = r.kind match {
    case TrendsReq => "trends"
    case BadDate | PastMax => "quirk"
    case _ => "forecast"
  }

  def apply(ctx: Ctx, callers: Int): String = {
    val a = ctx.args
    val setup = ArrayBuffer[Double]()
    var cycleS = 0.0
    var spark: SparkSession = null
    var serving: Serving = null
    var historyDir: String = null
    Trace.enabled = a.trace
    for (rep <- 1 to SetupReps) {
      if (spark != null) Main.stopSession(spark)
      val t0 = System.nanoTime()
      spark = Main.session()
      val sessionNs = System.nanoTime() - t0
      // generating the history is not set-up: it stands in for the database
      if (historyDir == null) {
        val g = System.nanoTime()
        historyDir = Inputs.history(spark, Inputs.ReferenceSeed, ctx.cache)
        System.err.println(s"perfbench: history ready in ${(System.nanoTime() - g) / 1000000} ms")
      }
      Trace.bind(spark.sparkContext)
      val t1 = System.nanoTime()
      serving = new Serving(spark, historyDir, ctx.run.resolve(s"rep-$rep"), a.seed)
      Trace.op("setup")(serving.setUp())
      setup += (sessionNs + System.nanoTime() - t1) / 1e9
      // one quiet precompute cycle after the last set-up times the merge
      // commit into an existing snapshot; the measured requests read its
      // version 1. A cycle after every set-up would cost seconds a run
      // without steadying the figure.
      if (rep == SetupReps) cycleS = serving.refresh() / 1e9
    }
    Trace.enabled = false

    a.record.foreach { f =>
      Main.writeDigests(f, Inputs.referenceRequests.map { r =>
        val resp = serving.serve(r, Some(0L))
        require(resp.ok, s"reference response failed its own rule: $r ${resp.note}")
        r.key -> resp.digest
      })
      return ""
    }

    // untimed warm-up: the reference requests, spread over the callers and
    // read against the first snapshot, each checked against its committed
    // digest. The history and the models do not depend on `--seed`, so
    // this gate holds on every run.
    val committed = Main.committedDigests(ctx.root, "serving.tsv")
    val tWarm = System.nanoTime()
    val refs = Inputs.referenceRequests.toIndexedSeq
    val reference = runWindow(serving, callers, (c, i) => refs((c + i * callers) % refs.size),
      Array.fill(callers)(0), (refs.size + callers - 1) / callers, pinned = Some(0L))
    reference.foreach { d =>
      if (!d.resp.ok) ctx.fail(s"${d.req} v0: ${d.resp.note}")
      else if (!committed.get(d.req.key).contains(d.resp.digest))
        ctx.fail(s"${d.req.key} v0: response differs from the committed digest")
    }

    val warmS = (System.nanoTime() - tWarm) / 1e9
    val streams = Inputs.requestStreams(a.seed, Main.StreamLength, ctx.cache)
    val stream = (c: Int, i: Int) => streams(c)(i % streams(c).size)
    val next = Array.fill(callers)(0)
    // a traced run measures two windows of half the length: untraced, traced
    val n = perCaller(if (a.trace) (a.seconds + 1) / 2 else a.seconds)
    val plain = runWindow(serving, callers, stream, next, n)
    val tracedRun = if (a.trace) {
      val w = new Window(spark)
      val r = runWindow(serving, callers, stream, next, n)
      // two quiet refresh cycles give the traced run the fold, merge-commit
      // and write-amplification layers
      w.freeze()
      (1 to 2).foreach(_ => Trace.op("refresh")(serving.refresh()))
      w.close()
      Some((w, r))
    } else None

    // correctness: every response passes its rule and equals a quiet
    // single-threaded replay against the snapshot version it read
    val tReplay = System.nanoTime()
    val done = plain ++ tracedRun.toSeq.flatMap(_._2)
    ctx.attempted = reference.size + done.size
    done.foreach { d =>
      if (!d.resp.ok) ctx.fail(s"${d.req} v${d.resp.version}: ${d.resp.note}")
    }
    done.filter(_.resp.ok).groupBy(d => (d.req.key, d.resp.version)).foreach { case ((key, v), ds) =>
      val replay = serving.serve(ds.head.req, Some(v).filter(_ >= 0))
      ds.foreach { d =>
        if (d.resp.digest != replay.digest) ctx.fail(s"$key v$v: response differs from quiet replay")
      }
    }

    val replayS = (System.nanoTime() - tReplay) / 1e9

    // the latency population is one kind: without a move type a forecast
    // skips the percentage lookups and is several times cheaper
    val fc = plain.filter(_.req.kind == ForecastMt).map(d => (d.endNs - d.startNs) / 1e6)
    val p50 = Main.median(fc)
    val endToEnd = Seq(
      ("latency_p50_ms", p50, "ms"),
      // closed loop without think time: callers / mean response time
      ("throughput_per_s", callers / (plain.map(d => d.endNs - d.startNs).sum / 1e9 / plain.size), "1/s"),
      ("cycle_s", cycleS, "s"),
      ("setup_s", Main.median(setup.toSeq), "s"),
      ("live_heap_mb", Sentinels.liveHeapMb(), "MB"))
    System.err.println(s"perfbench: serve forecast n=${fc.size} trends n=" +
      s"${plain.count(d => opKind(d.req) == "trends")} " + f"refresh=$cycleS%.2f " +
      s"setup=${setup.map(x => f"$x%.2f").mkString(",")} " + f"warm-up=$warmS%.1fs replay=$replayS%.1fs")

    tracedRun match {
      case None => ctx.result(endToEnd)
      case Some((w, tdone)) =>
        val roots = Trace.spans.asScala.filter(s => s.parent == 0L && s.start >= w.startNs).toSeq
        val fgOps = tdone.map(_.op).toSet
        val fg = roots.filter(r => fgOps.contains(r.op))
        val fcOps = tdone.filter(d => opKind(d.req) == "forecast").map(_.op).toSet
        val trOps = tdone.filter(d => opKind(d.req) == "trends")
        val jobs = w.probe.jobs.values.asScala.toSeq
        val refreshOps = roots.filter(_.kind == "refresh").map(_.op).toSet
        val tracedP50 = Main.median(tdone.filter(_.req.kind == ForecastMt).map(d => (d.endNs - d.startNs) / 1e6))
        val versions = serving.table.latestVersion().toSeq.flatMap(v => (1L to v))
        val (files, amp) = snapshotShape(spark, serving, versions)
        val extra = Map(
          "api.jobs_per_req" -> jobs.count(j => fcOps.contains(j.op)).toDouble / fcOps.size.max(1),
          "trends.rows_read_per_row" -> jobs.filter(j => trOps.exists(_.op == j.op)).map(_.recordsRead).sum.toDouble /
            trOps.map(_.resp.rows).sum.max(1),
          "trends.request_ms" -> Main.median(trOps.map(d => (d.endNs - d.startNs) / 1e6)),
          "snapshot.files_per_commit" -> files,
          "snapshot.write_amp" -> amp,
          "refresh.shuffle_write_bytes" ->
            jobs.filter(j => refreshOps.contains(j.op)).map(_.shuffleWrite).sum.toDouble / refreshOps.size.max(1),
          "trace.overhead_pct" -> (tracedP50 / p50 - 1) * 100)
        ctx.result(Layers.metrics(ctx, w, fg, tdone.map(d => d.op -> (d.endNs - d.startNs)).toMap, extra))
    }
  }

  /** Mean files per committed refresh snapshot, and rows written per
    * commit over rows the commit changed (the commit rewrites the whole
    * table to change one day's rows).
    */
  private def snapshotShape(spark: SparkSession, s: Serving, versions: Seq[Long]): (Double, Double) =
    if (versions.isEmpty) (0.0, 0.0)
    else {
      val files = versions.map(v => s.table.manifest(v).map(_.size).getOrElse(0)).sum.toDouble / versions.size
      val amp = versions.map { v =>
        val written = s.table.readVersion(spark, v).count().toDouble
        val changed = s.table.diffVersions(spark, v - 1, v).filter("change = 'insert'").count()
        written / changed.max(1L)
      }
      (files, amp.sum / amp.size)
    }

  /** Run `callers` closed-loop callers of `perCaller` requests each;
    * `pinned` reads that snapshot version instead of the latest.
    */
  def runWindow(
      serving: Serving, callers: Int, stream: (Int, Int) => Request, next: Array[Int],
      perCaller: Int, pinned: Option[Long] = None): Seq[Done] = {
    val done = new ConcurrentLinkedQueue[Done]()
    val threads = (0 until callers).map { c =>
      new Thread(() => {
        for (_ <- 1 to perCaller) {
          val r = stream(c, next(c))
          next(c) += 1
          val s = System.nanoTime()
          var op = 0L
          val resp =
            try Trace.op(opKind(r)) { op = Trace.currentOp; serving.serve(r, pinned) }
            catch { case e: Exception => Response(r, -1L, "", ok = false, e.toString) }
          val e = System.nanoTime()
          done.add(Done(r, resp, s, e, op))
        }
      }, s"caller-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    done.asScala.toSeq
  }
}

/** `batch`: repeated passes over the extension pipelines that carry most
  * of the 183-query suite's warm time.
  */
object BatchRun {
  /** Curation (x53: ~230 generated classes a run, over Spark's codegen
    * cache of 100) and the PPJoin near-duplicate join (x106: execution and
    * shuffle bound). x24t, x57, x134, s03, x117 and x127 are left out so
    * that a run holds two warm passes inside its time budget.
    */
  val Queries: Seq[String] = Seq("x53_curation_pipeline", "x106_ppjoin_neardups")
  def short(q: String): String = q.takeWhile(_ != '_')

  /** Corpus size: small enough that a warm pass is seconds, large enough
    * that the near-duplicate joins shuffle real data.
    */
  val Docs = 2000
  val Lineitems = 200000L

  /** Median of the set-up repetitions is `setup_s`. A batch set-up is a
    * fraction of a second, so it takes more repetitions than `serve` to
    * steady the median.
    */
  val SetupReps = 9

  /** One pass: per-query wall times in ns, the pass's wall time as its
    * caller measured it, each query's output digest, and the pass's
    * operation id (0 untraced).
    */
  final case class Pass(perQ: Seq[Long], ns: Long, digests: Map[String, String], op: Long)

  def apply(ctx: Ctx): String = {
    val a = ctx.args
    val setup = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var ref, dir: String = null
    for (_ <- 1 to SetupReps) {
      if (spark != null) Main.stopSession(spark)
      val t0 = System.nanoTime()
      spark = Main.session()
      val sessionNs = System.nanoTime() - t0
      if (dir == null) {
        ref = Inputs.batch(spark, Inputs.ReferenceSeed, ctx.cache, Docs, Lineitems)
        dir = Inputs.batch(spark, a.seed, ctx.cache, Docs, Lineitems)
      }
      val t1 = System.nanoTime()
      // state load: resolve the inputs' schemas from their footers
      Tables.documents(spark, dir).schema
      Tables.lineitem(spark, dir).schema
      setup += (sessionNs + System.nanoTime() - t1) / 1e9
    }
    Trace.bind(spark.sparkContext)
    val queries = SparkEntry.queries

    def dropCached(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
    }
    /** One pass over the queries on the corpus in `input`. `collect()`
      * materializes every column, as a noop write would (`count()` would
      * let Catalyst prune), and hands back the rows to check without a
      * second execution.
      */
    def pass(input: String): Pass = {
      var op = 0L
      val t0 = System.nanoTime()
      val per = Trace.op("pass") {
        op = Trace.currentOp
        Queries.map { q =>
          val s = System.nanoTime()
          val d =
            try Trace.span(s"batch.${short(q)}") {
              Serving.digest(queries(q)(spark, input).collect().toSeq.map(_.toString))
            } catch { case e: Exception => ctx.fail(s"$q: $e"); "" }
          dropCached()
          (q, System.nanoTime() - s, d)
        }
      }
      Pass(per.map(_._2), System.nanoTime() - t0, per.map(x => x._1 -> x._3).toMap, op)
    }

    // the first pass in a fresh JVM (JIT, first codegen, model fits) runs
    // over the reference corpus, whose outputs are committed: this gate
    // holds on every run, whatever `--seed` is
    val cold = pass(ref)
    System.err.println(s"perfbench: cold per-query ms ${Queries.zip(cold.perQ).map { case (q, n) => s"${short(q)}=${n / 1000000}" }.mkString(" ")}")
    a.record.foreach { f => Main.writeDigests(f, cold.digests.toSeq); return "" }
    val committed = Main.committedDigests(ctx.root, "batch.tsv")
    Queries.foreach { q =>
      ctx.attempted += 1
      if (!committed.get(q).contains(cold.digests(q))) ctx.fail(s"$q: reference output differs from the committed digest")
    }

    // warm passes over the run's own corpus must agree with each other
    var first = Option.empty[Map[String, String]]
    def window(): Seq[Pass] = {
      // passes until the window has passed, at least two so the pass time is
      // a median; a traced run splits its measured time into an untraced
      // and a traced half of at least one pass each
      val deadline = System.nanoTime() + (if (a.trace) (a.seconds + 1) / 2 else a.seconds) * 1000000000L
      val minPasses = if (a.trace) 1 else 2
      val passes = ArrayBuffer[Pass]()
      do {
        val p = pass(dir)
        Queries.foreach { q =>
          ctx.attempted += 1
          if (first.exists(_(q) != p.digests(q))) ctx.fail(s"$q: output differs from the first warm pass's")
        }
        if (first.isEmpty) first = Some(p.digests)
        passes += p
      } while (System.nanoTime() < deadline || passes.size < minPasses)
      passes.toSeq
    }
    val passes = window()
    val traced = if (a.trace) {
      val w = new Window(spark)
      val r = window()
      w.close()
      Some((w, r))
    } else None

    val ms = passes.flatMap(_.perQ).map(_ / 1e6)
    val coldMs = cold.ns / 1e6
    System.err.println(s"perfbench: batch passes=${passes.size} cold=${coldMs.toLong}ms " +
      s"setup=${setup.map(x => f"$x%.2f").mkString(",")}")
    traced match {
      case None =>
        ctx.result(Seq(
          ("latency_p50_ms", Main.median(ms), "ms"),
          ("throughput_per_s", ms.size / (passes.map(_.ns).sum / 1e9), "1/s"),
          ("cycle_s", Main.median(passes.map(_.ns / 1e9)), "s"),
          ("setup_s", Main.median(setup.toSeq), "s"),
          ("live_heap_mb", Sentinels.liveHeapMb(), "MB")))
      case Some((w, tp)) =>
        val fg = Trace.spans.asScala.filter(s => s.parent == 0L && s.kind == "pass").toSeq
        ctx.result(Layers.metrics(ctx, w, fg, tp.map(p => p.op -> p.ns).toMap, Map(
          "batch.cold_pass_ms" -> coldMs,
          "trace.overhead_pct" -> (Main.median(tp.flatMap(_.perQ).map(_ / 1e6)) / Main.median(ms) - 1) * 100)))
    }
  }
}

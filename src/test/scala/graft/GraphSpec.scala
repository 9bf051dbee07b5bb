package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Fixed-iteration PageRank: hand-computed ranks on a path graph,
  * mass conservation, symmetry, and partitioning invariance.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def ranksOf(pairs: Seq[(String, String)], iters: Int): Map[String, Double] =
    Graph.pageRank(pairs.toDF("u", "v"), "u", "v", iterations = iters)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Double]("rank")).toMap

  test("one iteration on the path a-b-c matches the hand-computed update") {
    val got = ranksOf(Seq(("a", "b"), ("b", "c")), iters = 1)
    // N=3, r0=1/3, deg(a)=deg(c)=1, deg(b)=2:
    //   r1(a) = 0.15/3 + 0.85 * (1/3)/2 = 0.19166667
    //   r1(b) = 0.15/3 + 0.85 * ((1/3) + (1/3)) = 0.61666667
    assert(math.abs(got("a") - 0.19166667) < 1e-8)
    assert(math.abs(got("c") - 0.19166667) < 1e-8)
    assert(math.abs(got("b") - 0.61666667) < 1e-8)
  }

  test("mass is conserved and endpoints stay symmetric over many iterations") {
    val got = ranksOf(Seq(("a", "b"), ("b", "c")), iters = 10)
    assert(math.abs(got.values.sum - 1.0) < 1e-6) // per-iteration 8-dp rounding drift only
    assert(got("a") === got("c"))                 // graph symmetry survives the float path
    assert(got("b") > got("a"))                   // the cut vertex is the most central
  }

  test("ranks are invariant to the input partitioning") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"), ("d", "e"))
    val one = Graph.pageRank(pairs.toDF("u", "v").coalesce(1), "u", "v", 5)
      .orderBy("node").collect().toSeq
    val many = Graph.pageRank(pairs.toDF("u", "v").repartition(7), "u", "v", 5)
      .orderBy("node").collect().toSeq
    assert(one === many)
  }

  test("weighted pageRank: hand-computed update; unit weights equal the unweighted path") {
    // a-b (w=3), b-c (w=1): strength(a)=3, strength(b)=4, strength(c)=1
    val wdf = Seq(("a", "b", 3L), ("b", "c", 1L)).toDF("u", "v", "w")
    val got = Graph.pageRank(wdf, "u", "v", iterations = 1, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // r0 = 1/3; r1(a) = 0.05 + 0.85 * r0 * 3/4 = 0.2625
    //           r1(b) = 0.05 + 0.85 * (r0 * 3/3 + r0 * 1/1) = 0.61666667
    //           r1(c) = 0.05 + 0.85 * r0 * 1/4 = 0.12083333
    assert(math.abs(got("a") - 0.2625) < 1e-8)
    assert(math.abs(got("b") - 0.61666667) < 1e-8)
    assert(math.abs(got("c") - 0.12083333) < 1e-8)
    // mass is conserved under weights too
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
    // w ≡ 1 reproduces the unweighted result bit-for-bit
    val ones = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("u", "v", "w")
    val viaW = Graph.pageRank(ones, "u", "v", iterations = 4, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val plain = ranksOf(Seq(("a", "b"), ("b", "c")), iters = 4)
    assert(viaW === plain)
  }

  test("small-graph fast path matches the distributed loop, values and schema") {
    // the driver-side power method (bounded collect + raD fold) must be
    // indistinguishable from the loop path: same rows, same schema — the
    // round-15 fast path's regression gate
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"), ("d", "e"), ("a", "e"))
    val small = Graph.pageRank(pairs.toDF("u", "v"), "u", "v", iterations = 5)
    val loop = Graph.pageRank(
      pairs.toDF("u", "v"), "u", "v", iterations = 5, smallGraphMaxEdges = 0)
    assert(small.schema === loop.schema)
    assert(small.orderBy("node").collect().toSeq === loop.orderBy("node").collect().toSeq)
    // weighted form too (x115's shape)
    val wdf = Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "d", 2L)).toDF("u", "v", "w")
    val ws = Graph.pageRank(wdf, "u", "v", iterations = 4, weightCol = Some("w"))
    val wl = Graph.pageRank(
      wdf, "u", "v", iterations = 4, weightCol = Some("w"), smallGraphMaxEdges = 0)
    assert(ws.schema === wl.schema)
    assert(ws.orderBy("node").collect().toSeq === wl.orderBy("node").collect().toSeq)
    // FRACTIONAL weights refuse the fast path (round-16: the degree
    // folds' addend order is only provably irrelevant for whole-number
    // weights) — both calls below run the loop path, so they must agree
    // exactly regardless of where the edge count sits against the cap
    val fdf = Seq(("a", "b", 0.5), ("b", "c", 1.5), ("c", "a", 2.0)).toDF("u", "v", "w")
    val ff = Graph.pageRank(fdf, "u", "v", iterations = 4, weightCol = Some("w"))
    val fl = Graph.pageRank(
      fdf, "u", "v", iterations = 4, weightCol = Some("w"), smallGraphMaxEdges = 0)
    assert(ff.orderBy("node").collect().toSeq === fl.orderBy("node").collect().toSeq)
  }

  test("invalid parameters are refused") {
    val df = Seq(("a", "b")).toDF("u", "v")
    intercept[IllegalArgumentException](Graph.pageRank(df, "u", "v", iterations = 0))
    intercept[IllegalArgumentException](Graph.pageRank(df, "u", "v", 5, damping = 1.0))
  }

  private def triOf(pairs: Seq[(String, String)]): Map[String, (Long, Long, Double)] =
    Graph.triangleStats(pairs.toDF("u", "v"), "u", "v")
      .collect()
      .map(r => r.getAs[String]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("triangles"),
          r.getAs[Double]("clustering"))))
      .toMap

  test("triangleStats: hand-computed counts on K4-minus-an-edge, paths, and K3") {
    // a-b-c triangle plus d hanging off c: one triangle, d in none
    val got = triOf(Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")))
    assert(got("a") === ((2L, 1L, 1.0)))
    assert(got("b") === ((2L, 1L, 1.0)))
    assert(got("c") === ((3L, 1L, 1.0 / 3.0)))
    assert(got("d") === ((1L, 0L, 0.0)))
    // K4 minus edge (a,d): triangles abc and bcd; b,c in both
    val k4m = triOf(Seq(
      ("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")))
    assert(k4m("a") === ((2L, 1L, 1.0)))
    assert(k4m("d") === ((2L, 1L, 1.0)))
    assert(k4m("b") === ((3L, 2L, 2.0 / 3.0)))
    assert(k4m("c") === ((3L, 2L, 2.0 / 3.0)))
    // a path has no triangles but every node still reports
    val path = triOf(Seq(("a", "b"), ("b", "c")))
    assert(path.values.forall(_._2 == 0L) && path.size === 3)
  }

  test("triangleStats: direction, duplicates and self-loops canonicalize away") {
    // same K3 expressed with reversed rows, dupes, and a self-loop
    val got = triOf(Seq(
      ("b", "a"), ("a", "b"), ("c", "b"), ("a", "c"), ("c", "a"), ("a", "a")))
    assert(got === Map(
      "a" -> ((2L, 1L, 1.0)), "b" -> ((2L, 1L, 1.0)), "c" -> ((2L, 1L, 1.0))))
    // partitioning invariance
    val wide = Graph.triangleStats(
      Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")).toDF("u", "v")
        .repartition(13), "u", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(wide === Set(("a", 2L, 1L), ("b", 2L, 1L), ("c", 3L, 1L), ("d", 1L, 0L)))
  }

  test("triangleStats: 40 runs at local[4] all finish within a bounded wait") {
    // the edge list feeds a broadcast and a shuffle of one query. Built as
    // a LAZY localCheckpoint it once deadlocked Spark: the DAG scheduler
    // held the RDD's lock waiting for RDDCheckpointData while a
    // broadcast-exchange thread held RDDCheckpointData checkpointing that
    // RDD. Each run is awaited with a deadline, so a deadlock fails here
    // (naming the deadlocked threads) instead of hanging the suite.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pairs = (0 until 60).flatMap(i =>
      Seq((s"n$i", s"n${(i + 1) % 60}"), (s"n$i", s"n${(i + 7) % 60}")))
    val expected = triOf(pairs)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 40).foreach { run =>
      val got =
        try Await.result(Future(triOf(pairs)), 120.seconds)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            val mx = java.lang.management.ManagementFactory.getThreadMXBean
            val stuck = Option(mx.findDeadlockedThreads()).toSeq.flatten
              .map(id => mx.getThreadInfo(id).getThreadName)
            fail(s"run $run did not finish in 120 s; deadlocked threads: $stuck")
        }
      assert(got === expected, s"run $run")
    } finally pool.shutdownNow()
  }

  test("durable barriers (VersionedTable commits) produce identical ranks") {
    // the 100 TB fault-tolerance posture: every iteration barrier commits
    // a snapshot instead of localCheckpoint — results must be
    // bit-identical (the CrossRound collapse runs BEFORE every barrier,
    // so the parquet round-trip cannot move a bit)
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"), ("d", "e"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_pr_durable_").toString
    val vt = graft.sources.VersionedTable(s"$tmp/ranks")
    val local = Graph.pageRank(pairs.toDF("u", "v"), "u", "v", iterations = 7)
      .orderBy("node").collect().toSeq
    val durable = Graph.pageRank(
      pairs.toDF("u", "v"), "u", "v", iterations = 7, durable = Some(vt))
      .orderBy("node").collect().toSeq
    assert(local === durable)
    // every barrier generation really committed (initial + ceil path):
    // iterations 7, ckpt at 3, 6, 7 plus the initial ranks = 4 versions
    assert(vt.versions().size === 4)
  }

  test("null endpoints are dropped, not silently counted into n") {
    // a null src row must not inflate the node count (skewing the
    // (1-d)/n base mass) while contributing nothing through the join —
    // ranks must equal the same graph with the null row absent
    val clean = ranksOf(Seq(("a", "b"), ("b", "c")), iters = 3)
    val withNull = Graph.pageRank(
      Seq(("a", Option("b")), ("b", Option("c")), ("x", Option.empty[String]))
        .toDF("u", "v"),
      "u", "v", iterations = 3)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Double]("rank")).toMap
    assert(withNull === clean)
  }
}

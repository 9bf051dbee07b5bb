package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Barrier

/** Iterative graph computation — PageRank (Brin & Page 1998) over an
  * undirected pair list, the centrality pass the label-propagation
  * components operator ([[Dedup.connectedComponents]]) doesn't give:
  * WHICH member of a cluster (or which token of a co-occurrence graph,
  * TextRank, Mihalcea & Tarau 2004) is most central.
  *
  * Fixed-iteration power method, never run-to-convergence: a bounded,
  * replayable job count is the production contract (convergence loops
  * have data-dependent wall time and make the result depend on a float
  * epsilon), and the oracle can restate exactly k unrolled iterations.
  *
  * Scale shape per iteration: ONE join of the edge list against the
  * (node, rank) frame on the source key + ONE groupBy on the
  * destination — both shuffles keyed by node id; no corpus-wide
  * windows, no driver-side graph state (the only driver action is one
  * bounded node count). The edge frame is persisted once and reused
  * by every iteration; rank generations go through the two-frame
  * localCheckpoint discipline of the components loop (the superseded
  * generation unpersists as soon as its successor materializes), so
  * lineage and cached footprint stay O(1) in the iteration count.
  *
  * Determinism: per-node contribution sums are float folds whose
  * partition order varies, so every iteration's rank passes the
  * CrossRound.ra(·, 8) collapse — mirrored in the oracle as
  * round(round(x, 12), 8) per unrolled iteration — making iteration
  * t+1's input bit-identical on both engines regardless of shuffle
  * order.
  */
object Graph {

  /** PageRank over `pairs` taken as UNDIRECTED edges (each row
    * contributes both directions; callers pass canonicalized pairs).
    * Returns (node, rank) with rank collapsed at 8 dp. Every node in
    * the pair list has degree ≥ 1, so mass is well-defined without a
    * dangling-node correction. With `weightCol`, runs the WEIGHTED
    * form (TextRank as published, Mihalcea & Tarau §2.1: contribution
    * rank·w / strength(u), strength = Σw) — the unweighted default is
    * the w ≡ 1 special case of the same plan.
    *
    * Null-endpoint rows are dropped up front (mirroring
    * [[triangleStats]]): a null src/dst would count a null "node" into
    * n (inflating the (1−d)/n base mass) while the rank join's
    * null-rejecting equi-condition silently discarded its
    * contributions — a silent skew of every rank, not an error.
    *
    * `durable`: iteration barriers default to [[graft.Barrier]] —
    * executor-local blocks, the fast single-job path, but NOT
    * fault-tolerant (a lost executor loses blocks AND the truncated
    * lineage, killing the job). Passing a [[graft.sources.VersionedTable]]
    * commits each rank-generation barrier as a table snapshot instead:
    * the 100 TB posture, where an executor loss re-reads the snapshot and
    * a full job restart can resume from the last committed generation.
    * Costs one parquet write+read per barrier; results are bit-identical
    * (the CrossRound collapse runs before every barrier — GraphSpec pins
    * equality). Callers own vacuum on the table. The durable path never
    * takes the small-graph shortcut (its point is replayable distributed
    * barriers).
    *
    * `smallGraphMaxEdges`: at most this many directed edges takes the
    * driver-side fast path — one bounded collect, the power method folded
    * locally with the identical IEEE arithmetic (raD is ra's driver twin),
    * zero per-iteration shuffle stages (the smallGraphComponents
    * treatment; GraphSpec pins small == loop on weighted and unweighted
    * graphs). Larger graphs take the loop path unchanged; 0 disables.
    */
  def pageRank(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      damping: Double = 0.85,
      weightCol: Option[String] = None,
      durable: Option[graft.sources.VersionedTable] = None,
      smallGraphMaxEdges: Long = 1L << 18): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    // weighted form (TextRank as published: edge weight = co-occurrence
    // count, contribution rank·w / strength(u)); the unweighted path is
    // the w ≡ 1 special case — rank·1.0/d is bit-identical to rank/d,
    // so existing callers' numbers cannot move
    val wExpr = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val fwd = pairs
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("u"), col(dstCol).as("v"), wExpr.as("w"))
    // One materialization of the DIRECTED edge list before anything else —
    // three separate actions traverse it (the small-graph dispatch count /
    // node count, the rank-init barrier, the first iteration's withDeg
    // fill), and without it each would re-run the caller's entire upstream
    // lineage (for the textrank queries: a full corpus tokenize+aggregate
    // PER ACTION — three corpus passes where one suffices). Local mode
    // checkpoints it with the edge count riding the checkpoint's own
    // execution via `observe` (the connectedComponents trick — no extra
    // job); the durable path persist()s instead — lineage preserved, so
    // the fault-tolerance contract holds — and keeps its EXACT historical
    // barrier sequence (rank generations only; GraphSpec pins the version
    // count), which also means durable never takes the small-graph path.
    def barrier(df: DataFrame): DataFrame =
      graft.sources.VersionedTable.materialize(df, durable, "pagerank.ranks")
    val edgesRaw = fwd
      .unionByName(fwd.select(col("v").as("u"), col("u").as("v"), col("w")))
    val (edges, edgeCount) = durable match {
      case Some(_) => (edgesRaw.persist(), -1L) // no dispatch on durable
      case None =>
        val obs = edgesRaw.observe("pr_edge_count", count(lit(1)).as("n"))
        val ck = Barrier(obs, "pagerank.edges") // bounded by 2|pairs|
        val cnt = obs.queryExecution.observedMetrics.get("pr_edge_count") match {
          case Some(r) => r.getLong(0)
          case _ => ck.count() // future-Spark fallback, never wrong
        }
        (ck, cnt)
    }
    // Small-graph fast path (the smallGraphComponents treatment applied
    // to the power method): when the directed edge list is bounded,
    // solve on the driver over ONE bounded collect instead of paying
    // iterations/ckptEvery shuffle-stage barriers on a frame this small
    // — measured ~1.5 s of pure per-stage scheduling on a 465-edge
    // fixture graph. Bit-identity with the loop path holds by
    // construction: the driver fold performs the SAME IEEE operations in
    // the same associativity — c = rank·w/d per directed edge,
    // raD(base + damping·Σc, 8) per node per iteration — and the Σc
    // addend order is irrelevant UNDER THE SAME CONTRACT the distributed
    // sum already relies on (partition order varies run to run; the
    // ra(·,8) collapse absorbs it — GraphSpec pins small == loop on both
    // weighted and unweighted graphs). Degrees are IEEE sums of the
    // SAME addends either way (exact integers for the unit/count weights
    // every shipped caller uses). The default cap (2^18 directed edges)
    // keeps the collect in the bounded-model-state class even for
    // string node ids; larger graphs take the loop path unchanged;
    // 0 disables the fast path.
    if (edgeCount <= smallGraphMaxEdges && edgeCount > 0) {
      val rows = edges.select(col("u"), col("v"), col("w")).collect()
      // a NULL weight makes SQL sum() skip the addend (and a node whose
      // contributions are all null gets a null rank) — semantics the
      // loop path owns; fall through rather than mirror them here (no
      // shipped caller passes nullable weights). Likewise a FRACTIONAL
      // weight (round-15 ADVICE low): the degree sums are IEEE folds
      // whose collect order here differs from the loop path's partition
      // order, and only integer-valued addends make that order provably
      // irrelevant — so the fast path requires every weight to be a
      // whole double (unit/count weights, which is every shipped
      // caller); anything else takes the loop path, and results can no
      // longer flip as a graph crosses the smallGraphMaxEdges cap.
      if (!rows.exists(_.isNullAt(2)) &&
          rows.forall(r => { val w = r.getDouble(2); w == math.floor(w) })) {
        val nodes = rows.map(_.get(0)).distinct
        val n = nodes.length
        val d = new java.util.HashMap[Any, Double](n * 2)
        rows.foreach(r => d.merge(r.get(0), r.getDouble(2), (a, b) => a + b))
        var rank = new java.util.HashMap[Any, Double](n * 2)
        nodes.foreach(u => rank.put(u, 1.0 / n))
        val base = (1.0 - damping) / n
        for (_ <- 1 to iterations) {
          val acc = new java.util.HashMap[Any, Double](n * 2)
          rows.foreach { r =>
            val u = r.get(0)
            acc.merge(r.get(1), rank.get(u) * r.getDouble(2) / d.get(u), (a, b) => a + b)
          }
          val next = new java.util.HashMap[Any, Double](n * 2)
          acc.forEach((v, s) => next.put(v, CrossRound.raD(base + damping * s, 8)))
          rank = next
        }
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](n)
        nodes.foreach(u => out.add(org.apache.spark.sql.Row(u, rank.get(u))))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "node", fwd.schema("u").dataType, nullable = true),
          org.apache.spark.sql.types.StructField(
            "rank", org.apache.spark.sql.types.DoubleType, nullable = true)))
        edges.unpersist()
        return edges.sparkSession.createDataFrame(out, schema)
      }
    }
    val deg = edges.groupBy("u").agg(sum(col("w")).as("d"))
    // edge × degree joined ONCE, persisted for the loop (every
    // iteration reads it; re-deriving would re-shuffle per iteration)
    val withDeg = edges.join(deg, Seq("u")).persist()
    val n = deg.count() // bounded driver action over the edge barrier's blocks
    val base = lit((1.0 - damping) / n)
    var ranks = barrier(
      deg.select(col("u").as("node"), (lit(1.0) / n).as("rank")))
    // checkpoint every few generations, not every one: a handful of
    // chained join+agg stages is a perfectly healthy lineage, and each
    // eager checkpoint is a full job barrier — per-iteration barriers
    // tripled this operator's wall time on a small graph. The interval
    // still bounds lineage depth (and cached footprint stays two
    // frames: a checkpoint's predecessor unpersists only after the
    // successor materializes, which depends on it).
    val ckptEvery = 3
    var lastCkpt = ranks
    for (i <- 1 to iterations) {
      var next = withDeg
        .join(ranks, col("u") === col("node"))
        .select(col("v"), (col("rank") * col("w") / col("d")).as("c"))
        .groupBy(col("v").as("node"))
        .agg(CrossRound.ra(base + lit(damping) * sum(col("c")), 8).as("rank"))
      if (i % ckptEvery == 0 || i == iterations) {
        next = barrier(next)
        lastCkpt.unpersist() // no-op on a snapshot-read frame
        lastCkpt = next
      }
      ranks = next
    }
    withDeg.unpersist()
    edges.unpersist()
    ranks
  }

  /** Per-node triangle count + local clustering coefficient — the
    * cohesion report next to [[pageRank]]'s centrality: how CLUSTERED
    * each node's neighborhood is (a token whose neighbors all co-occur
    * with each other is a phrase nucleus; one whose neighbors never
    * meet is a syntactic connector).
    *
    * Edges are taken undirected; rows canonicalize to (least, greatest)
    * and dedupe, self-loops drop. Returns every node of the graph:
    * (node, degree, triangles, clustering), clustering =
    * 2t / (deg·(deg−1)) — exact integers through one division, so the
    * value is order-exact (callers round for display) — 0.0 for
    * degree-1 nodes.
    *
    * Scale shape — degree-ordered orientation (the node-iterator bound,
    * Schank & Wagner 2005): every edge directs from its lower-(degree,
    * node) endpoint to the higher, which caps every out-list at
    * O(√m), so the wedge self-join (out-list × out-list per source)
    * never explodes on hubs — the naive adjacency self-join is
    * quadratic in the hub degree exactly where real co-occurrence
    * graphs are heaviest. Each triangle closes from its lowest-ordered
    * vertex only: counted once, no /3 correction, and the closing
    * lookup is an equi-join against the canonical edge list. Three
    * node-keyed shuffles total (degrees, wedges, close), no driver
    * state.
    */
  def triangleStats(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    // canonical edge list: dedupe FIRST, then a pair-bounded barrier,
    // then the self-loop/null filter over the barrier's plain
    // attributes — filtering before it, the predicate pushes through
    // the caller's projection lineage into the array-derived pair
    // expressions (the audited HOF-in-Filter class; the gate caught
    // this operator's first draft). The barrier is also the
    // multi-consumer fix: e feeds degrees, both orientation sides and
    // the closing join — four consumers of one dedup shuffle. Eager like
    // every Barrier: a lazy checkpoint here, read by a broadcast and a
    // shuffle of this query at once, deadlocked the broadcast thread's
    // checkpoint write against the DAG scheduler's cache-location lookup
    // (each held the lock the other wanted).
    val e = pairs
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
      .transform(Barrier(_, "triangles.edges"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
    val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    // orient: lower (deg, node) → higher; total order, so antisymmetric
    val oriented = e
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(
        when(
          col("deg_a") < col("deg_b") ||
            (col("deg_a") === col("deg_b") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("d")))
          .otherwise(struct(col("b").as("s"), col("a").as("d"))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
    // wedges from each source's out-list; (w1, w2) kept in node order so
    // the closing edge joins on its CANONICAL form directly
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(
        col("e1.src").as("w0"), col("e1.dst").as("w1"), col("e2.dst").as("w2"))
    val tri = wedges
      .join(e, col("w1") === col("a") && col("w2") === col("b"))
      .select("w0", "w1", "w2")
    val perNode = tri
      .select(explode(array(col("w0"), col("w1"), col("w2"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("triangles"))
    deg
      .join(perNode, Seq("node"), "left")
      .na.fill(0L, Seq("triangles"))
      .select(
        col("node"), col("deg"), col("triangles"),
        when(col("deg") >= 2,
          lit(2.0) * col("triangles").cast("double")
            / (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }
}

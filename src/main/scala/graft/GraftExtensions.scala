package graft

import org.apache.spark.sql.{types, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral, Literal}

import graft.functions.{BpeApplyExpr, MinHashSigExpr}
import graft.operators.Dedup

/** SparkSessionExtensions entry point: registers the engine's native
  * functions so plain `spark.sql(...)` can use them, and the [[LocalFold]]
  * optimizer rule —
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`, which
  * [[GraftSession.builder]] applies. For an already-running session (e.g.
  * notebooks), `GraftExtensions.register` installs the same functions
  * directly; an optimizer rule can only be added when a session is built.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.minhashSigFunction)
    ext.injectFunction(GraftExtensions.bloomAggFunction)
    ext.injectFunction(GraftExtensions.mightContainFunction)
    ext.injectFunction(GraftExtensions.bpeApplyFunction)
    ext.injectTableFunction(GraftExtensions.graftTableFunction)
    ext.injectTableFunction(GraftExtensions.graftTableChangesFunction)
    ext.injectOptimizerRule(_ => LocalFold)
  }
}

object GraftExtensions {

  /** `minhash_sig(hashArray[, numHashes])` — the fused MinHash signature
    * expression over the engine's standard hash-parameter family (same
    * family as Dedup.minhashSignatures*, so SQL-computed signatures are
    * comparable with DataFrame-computed ones).
    */
  val minhashSigFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSigExpr].getName, "minhash_sig"),
    {
      case Seq(child) =>
        build(child, 32)
      case Seq(child, IntegerLiteral(h)) if h > 0 =>
        build(child, h)
      case other =>
        throw new IllegalArgumentException(
          s"minhash_sig expects (array<bigint>[, numHashes literal]), got ${other.size} args")
    })

  private def build(child: Expression, numHashes: Int): MinHashSigExpr = {
    val params = Dedup.defaultHashParams(numHashes)
    MinHashSigExpr(
      child, params.map(_._1).toIndexedSeq, params.map(_._2).toIndexedSeq, Dedup.MinHashPrime)
  }

  /** `bloom_filter_agg(xxhash64(col), items, bits)` — Spark ships this
    * aggregate (it powers runtime row-level filtering) but does not
    * register it as a SQL function; exposing it makes the
    * sketch-membership path expressible in plain SQL, the same way DuckDB
    * and Trino users reach their sketch aggregates.
    */
  val bloomAggFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_filter_agg"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
      "bloom_filter_agg"),
    {
      // return the raw AggregateFunction: the analyzer wraps it into an
      // AggregateExpression during resolution, like any registered agg
      case Seq(c) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
      case Seq(c, n) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
      case Seq(c, n, b) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
      case other =>
        throw new IllegalArgumentException(
          s"bloom_filter_agg expects (longCol[, items[, bits]]), got ${other.size} args")
    })

  /** `might_contain(filterBinary, xxhash64(value))` — the membership probe
    * for [[bloomAggFunction]]'s filters; the filter side must be a
    * constant or scalar subquery (enforced by the expression itself).
    */
  val mightContainFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("might_contain"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      "might_contain"),
    {
      case Seq(bf, v) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bf, v)
      case other =>
        throw new IllegalArgumentException(
          s"might_contain expects (filterBinary, longValue), got ${other.size} args")
    })

  /** `bpe_apply(word, lefts, rights)` — the native BPE segmenter over a
    * trained merge list, the SQL face of TextOps.bpeSegments: lefts and
    * rights are rank-ordered array LITERALS (the trained model is a
    * constant of the query, like minhash_sig's hash family).
    */
  val bpeApplyFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bpe_apply"),
    new ExpressionInfo(classOf[BpeApplyExpr].getName, "bpe_apply"),
    {
      case Seq(word, lefts, rights) if lefts.foldable && rights.foldable =>
        val (l, r) = (strArray(lefts), strArray(rights))
        if (l.length != r.length)
          throw new IllegalArgumentException(
            s"bpe_apply: lefts (${l.length}) and rights (${r.length}) must pair up")
        BpeApplyExpr(word, l.toIndexedSeq, r.toIndexedSeq)
      case other =>
        throw new IllegalArgumentException(
          "bpe_apply expects (word, lefts array literal, rights array literal); " +
            s"got ${other.size} args" +
            (if (other.size == 3) " with non-literal merge arrays" else ""))
    })

  /** `graft_table('path'[, version | timestamp])` — the snapshot store's
    * SQL face (round-13 ask #5): a table-valued function resolving to the
    * SAME integrated-skipping relation the Scala `read`/`readVersion`/
    * `readAsOf` APIs serve, so `spark.sql` users get snapshot isolation,
    * version/timestamp time travel, schema evolution's unified reads,
    * AND stats/bloom file pruning (their WHERE clauses reach the
    * SnapshotFileIndex as pushed data filters) without touching Scala:
    *
    *   SELECT * FROM graft_table('/data/docs')                     -- head
    *   SELECT * FROM graft_table('/data/docs', 3)                  -- pinned version
    *   SELECT * FROM graft_table('/data/docs', TIMESTAMP '2026-01-01 00:00:00')
    *
    * Arguments must be literals (the table is resolved at analysis time,
    * like a path in a FROM clause). An INTEGER second argument pins a
    * version; a TIMESTAMP resolves the newest snapshot published at or
    * before it ([[graft.sources.VersionedTable.readAsOf]]'s retention
    * caveat applies).
    */
  val graftTableFunction: (
      FunctionIdentifier,
      ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("graft_table"),
    new ExpressionInfo(classOf[graft.sources.VersionedTable].getName, "graft_table"),
    { args =>
      val spark = SparkSession.getActiveSession.getOrElse(
        throw new IllegalStateException("graft_table: no active SparkSession"))
      def path(e: Expression): String = e match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, types.StringType) =>
          s.toString
        case other => throw new IllegalArgumentException(
          s"graft_table: the table path must be a STRING literal, got $other")
      }
      val df = args match {
        case Seq(p) => graft.sources.VersionedTable(path(p)).read(spark)
        case Seq(p, Literal(v: Int, types.IntegerType)) =>
          graft.sources.VersionedTable(path(p)).readVersion(spark, v.toLong)
        case Seq(p, Literal(v: Long, types.LongType)) =>
          graft.sources.VersionedTable(path(p)).readVersion(spark, v)
        case Seq(p, Literal(micros: Long, types.TimestampType)) =>
          graft.sources.VersionedTable(path(p)).readAsOf(
            spark,
            java.time.Instant.ofEpochSecond(
              Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
        case other => throw new IllegalArgumentException(
          "graft_table expects ('path'[, version INT | timestamp TIMESTAMP]) as literals; " +
            s"got ${other.size} arg(s)")
      }
      df.queryExecution.logical
    })

  /** `graft_table_changes('path', v1, v2)` — the snapshot store's CDC
    * feed in SQL: rows tagged `change` ∈ {'insert','delete'} between two
    * committed versions ([[graft.sources.VersionedTable.diffVersions]] —
    * files shared by both manifests are never read, the same
    * file-granular pruning the Scala API gets). Version arguments must
    * be INTEGER literals, like graft_table's.
    */
  val graftTableChangesFunction: (
      FunctionIdentifier,
      ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("graft_table_changes"),
    new ExpressionInfo(classOf[graft.sources.VersionedTable].getName, "graft_table_changes"),
    { args =>
      val spark = SparkSession.getActiveSession.getOrElse(
        throw new IllegalStateException("graft_table_changes: no active SparkSession"))
      def long(e: Expression): Long = e match {
        case Literal(v: Int, types.IntegerType) => v.toLong
        case Literal(v: Long, types.LongType) => v
        case other => throw new IllegalArgumentException(
          s"graft_table_changes: version arguments must be INTEGER literals, got $other")
      }
      args match {
        case Seq(Literal(p: org.apache.spark.unsafe.types.UTF8String, types.StringType), a, b) =>
          graft.sources.VersionedTable(p.toString)
            .diffVersions(spark, long(a), long(b))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "graft_table_changes expects ('path', fromVersion, toVersion) as literals; " +
            s"got ${other.size} arg(s)")
      }
    })

  private def strArray(e: Expression): Array[String] = {
    // check the TYPE before eval: array(1, 2) is foldable too, and the
    // UTF8String extraction below would die with a bare
    // ClassCastException instead of naming the contract
    e.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, _) =>
      case other =>
        throw new IllegalArgumentException(
          s"bpe_apply merge arrays must be array<string> literals, got $other")
    }
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        val out = a.toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(s => if (s == null) null else s.toString)
        // a NULL element (array('a', NULL)) would pass through to
        // BpeApplyExpr where null merge keys are silently inert — the
        // query runs but applies a different model than the user trained.
        // Fail at registration like the length-mismatch check does.
        if (out.exists(_ == null))
          throw new IllegalArgumentException(
            "bpe_apply merge arrays must not contain NULL elements")
        out
      case other =>
        throw new IllegalArgumentException(s"expected an array literal, got $other")
    }
  }

  /** Install into a live session (same registration the extension does);
    * idempotent — re-registration overwrites with identical builders.
    */
  def register(spark: SparkSession): Unit = {
    Seq(minhashSigFunction, bloomAggFunction, mightContainFunction, bpeApplyFunction).foreach {
      case (ident, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    Seq(graftTableFunction, graftTableChangesFunction).foreach {
      case (ident, info, builder) =>
        spark.sessionState.tableFunctionRegistry.registerFunction(ident, info, builder)
    }
  }
}

package graft.sources

import org.apache.spark.sql.SparkSession

/** Persistent fitted-model state: train-once / serve-many for the
  * engine's bounded driver-side models (ANN centroids and codebooks, BPE
  * merges, classifier weights) on top of [[VersionedTable]] snapshots —
  * the same commit protocol the data side already uses, applied to model
  * artifacts. A fresh JVM loads the committed snapshot instead of
  * refitting; the round-trip is BIT-exact (parquet FLOAT/DOUBLE/STRING
  * columns store the values verbatim, and every codec orders rows by an
  * explicit index on load), so fit-then-serve and load-then-serve produce
  * byte-identical query results — ModelStoreSpec pins exactly that.
  *
  * Store layout: one VersionedTable per (model name, source-dir key)
  * under `SPARK_GRAFT_MODEL_DIR` (default `/tmp/graft_models`). The key
  * digests the source dir PATH plus every parquet file's (name, size,
  * mtime) — a regenerated fixture therefore misses the cache and refits
  * rather than silently serving a model trained on vanished data, and
  * the key also digests [[StoreFormat]], so a table written in an older
  * store format is never read. Model
  * state is bounded by construction (the Similarity.trainingSample
  * argument: centroids/codebooks are c x dim driver arrays, merges and
  * weights are O(vocab)), so the load-side collect is a few KB — never
  * corpus-scale.
  *
  * All rows share one physical schema ([[ModelStore.ModelRow]]) so a
  * single table can carry heterogeneous parts (IVFPQ = coarse centroids
  * + residual codebooks) distinguished by `kind`.
  */
object ModelStore {

  /** Union row: float-array parts address with (kind, i, j); scalar /
    * string parts use (kind, i, s1, s2, d). Unused fields hold the
    * codec's documented defaults (null array, empty strings, 0.0).
    */
  final case class ModelRow(
      kind: String, i: Int, j: Int,
      fs: Array[Float], s1: String, s2: String, d: Double)

  def defaultRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_MODEL_DIR", "/tmp/graft_models")

  /** Snapshot-store format the key commits to. Format 4 records the read
    * schema in every commit record under `_log/`; a model table written in
    * an older layout (format 3: records without a schema for plain
    * commits; format 2: a `_latest` pointer and per-version `_manifest`
    * files; format 1, keyed without this constant) is unreadable or reads
    * as never committed, so it gets a different key and is refit instead,
    * never read.
    */
  val StoreFormat: Int = 4

  /** Digest of the store format and the source dir identity: absolute
    * path + (name, size, mtime) of every parquet file directly inside
    * it. Cheap (pure metadata, no Spark job) and strong enough that a
    * regenerated fixture — same path, new bytes — changes the key.
    */
  def sourceKey(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    val files =
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala.toSeq
          .filter(_.toString.endsWith(".parquet"))
          .sortBy(_.toString)
          .map(f =>
            s"${f.getFileName}:${java.nio.file.Files.size(f)}:" +
              s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}")
        finally s.close()
      } else Seq.empty
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest((s"format=$StoreFormat" +: p.toAbsolutePath.toString +: files).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    digest.take(8).map(b => f"${b & 0xFF}%02x").mkString
  }

  def tableFor(model: String, dir: String, root: String = defaultRoot): VersionedTable =
    VersionedTable(s"$root/${model}_${sourceKey(dir)}")

  /** Load the committed model if a snapshot exists, else run `fit`,
    * commit the result, and return the fitted value. The fitted and
    * loaded values are interchangeable (bit-exact round-trip — see class
    * doc); returning the in-hand fit avoids an immediate re-read.
    */
  def loadOrFit[T](
      spark: SparkSession, model: String, dir: String,
      codec: Codec[T], root: String = defaultRoot)(fit: => T): T = {
    val vt = tableFor(model, dir, root)
    load(spark, vt, codec).getOrElse {
      val fitted = fit
      save(spark, vt, codec, fitted)
      fitted
    }
  }

  def save[T](spark: SparkSession, vt: VersionedTable, codec: Codec[T], value: T): Long = {
    import spark.implicits._
    vt.commit(codec.toRows(value).toDF())
  }

  def load[T](spark: SparkSession, vt: VersionedTable, codec: Codec[T]): Option[T] =
    vt.latestVersion().map { _ =>
      val rows = vt.read(spark).collect().toSeq.map { r =>
        ModelRow(
          r.getAs[String]("kind"), r.getAs[Int]("i"), r.getAs[Int]("j"),
          Option(r.getAs[scala.collection.Seq[Float]]("fs")).map(_.toArray).orNull,
          r.getAs[String]("s1"), r.getAs[String]("s2"), r.getAs[Double]("d"))
      }
      codec.fromRows(rows)
    }

  /** Bidirectional model <-> rows mapping; `fromRows(toRows(t)) == t`
    * bit-exactly (row ORDER is never relied on — every codec sorts by
    * its index fields on decode).
    */
  trait Codec[T] {
    def toRows(t: T): Seq[ModelRow]
    def fromRows(rows: Seq[ModelRow]): T
  }

  private def frow(kind: String, i: Int, j: Int, fs: Array[Float]): ModelRow =
    ModelRow(kind, i, j, fs, "", "", 0.0)

  /** centroid matrices: Array[Array[Float]] (kmeans / IVF coarse). */
  object FloatMatrix extends Codec[Array[Array[Float]]] {
    def toRows(m: Array[Array[Float]]): Seq[ModelRow] =
      m.zipWithIndex.map { case (row, i) => frow("m", i, 0, row) }.toSeq
    def fromRows(rows: Seq[ModelRow]): Array[Array[Float]] =
      rows.filter(_.kind == "m").sortBy(_.i).map(_.fs).toArray
  }

  /** PQ codebooks: Array[subspace][code][dsub]. */
  object Codebooks extends Codec[Array[Array[Array[Float]]]] {
    def toRows(cb: Array[Array[Array[Float]]]): Seq[ModelRow] =
      (for (s <- cb.indices; c <- cb(s).indices)
        yield frow("cb", s, c, cb(s)(c))).toSeq
    def fromRows(rows: Seq[ModelRow]): Array[Array[Array[Float]]] =
      rows.filter(_.kind == "cb").groupBy(_.i).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_.j).map(_.fs).toArray).toArray
  }

  /** IVFPQ: coarse centroids + residual codebooks in one table. */
  object IvfPq extends Codec[(Array[Array[Float]], Array[Array[Array[Float]]])] {
    def toRows(t: (Array[Array[Float]], Array[Array[Array[Float]]])): Seq[ModelRow] =
      FloatMatrix.toRows(t._1) ++ Codebooks.toRows(t._2)
    def fromRows(rows: Seq[ModelRow]): (Array[Array[Float]], Array[Array[Array[Float]]]) =
      (FloatMatrix.fromRows(rows), Codebooks.fromRows(rows))
  }

  /** BPE merge list (rank-ordered). */
  object BpeMerges extends Codec[Seq[graft.operators.TextOps.BpeMerge]] {
    def toRows(ms: Seq[graft.operators.TextOps.BpeMerge]): Seq[ModelRow] =
      ms.map(m => ModelRow("bpe", m.rank, 0, null, m.left, m.right, m.count.toDouble))
    def fromRows(rows: Seq[ModelRow]): Seq[graft.operators.TextOps.BpeMerge] =
      rows.filter(_.kind == "bpe").sortBy(_.i)
        .map(r => graft.operators.TextOps.BpeMerge(r.i, r.s1, r.s2, r.d.toLong))
  }

  /** Fitted seasonal-forecaster state (one row-set per branch) — the
    * flagship model the reference itself persists (pickled Prophet fits,
    * reference main.py:165-185). Doubles ride in the `d` column (parquet
    * DOUBLE — bit-exact); the training-row count `n` is a Long, so it
    * rides base-10 in `s2` alongside the epoch-start date in `s1` rather
    * than lossily through a double. Row kinds: "sm" (per-branch header:
    * s1=t_start ISO date, s2=n, d=t_days), "smq" (residual quantile),
    * "smc" (j-th coefficient).
    */
  object SeasModels extends Codec[Seq[graft.ServingQueries.SeasModel]] {
    def toRows(ms: Seq[graft.ServingQueries.SeasModel]): Seq[ModelRow] =
      ms.zipWithIndex.flatMap { case (m, i) =>
        Seq(
          ModelRow("sm", i, 0, null, m.tStart.toString, m.n.toString, m.tDays),
          ModelRow("smq", i, 0, null, m.branch, "", m.residQ)) ++
          m.coef.zipWithIndex.map { case (c, j) => ModelRow("smc", i, j, null, "", "", c) }
      }
    def fromRows(rows: Seq[ModelRow]): Seq[graft.ServingQueries.SeasModel] = {
      val byI = rows.groupBy(_.i)
      rows.filter(_.kind == "sm").sortBy(_.i).map { h =>
        val grp = byI(h.i)
        val q = grp.find(_.kind == "smq")
          .getOrElse(sys.error(s"seasonal snapshot missing smq row for i=${h.i}"))
        graft.ServingQueries.SeasModel(
          branch = q.s1,
          coef = grp.filter(_.kind == "smc").sortBy(_.j).map(_.d),
          n = h.s2.toLong,
          residQ = q.d,
          tStart = java.sql.Date.valueOf(h.s1),
          tDays = h.d)
      }
    }
  }

  /** Logistic-regression weights (feature order is part of the model). */
  object LogRegCodec extends Codec[graft.operators.QualityModel.LogReg] {
    def toRows(m: graft.operators.QualityModel.LogReg): Seq[ModelRow] =
      m.featureNames.zip(m.weights).zipWithIndex.map { case ((f, w), i) =>
        ModelRow("w", i, 0, null, f, "", w)
      } :+ ModelRow("b", 0, 0, null, "", "", m.bias)
    def fromRows(rows: Seq[ModelRow]): graft.operators.QualityModel.LogReg = {
      val ws = rows.filter(_.kind == "w").sortBy(_.i)
      graft.operators.QualityModel.LogReg(
        ws.map(_.s1), ws.map(_.d).toArray,
        rows.find(_.kind == "b").map(_.d)
          .getOrElse(sys.error("model snapshot missing bias row")))
    }
  }
}

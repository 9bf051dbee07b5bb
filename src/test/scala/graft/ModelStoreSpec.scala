package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{QualityModel, TextOps}
import graft.sources.ModelStore

/** Fitted-model persistence: every codec round-trips bit-exactly, loadOrFit
  * fits exactly once per snapshot, and a "fresh session" (cleared JVM
  * caches, load from the committed snapshot) serves byte-identical state —
  * the train-once / serve-many contract.
  */
class ModelStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_modelstore_").toString

  // values chosen to stress exactness: subnormals-adjacent, negatives,
  // repeating decimals that are NOT exact in binary
  val m1: Array[Array[Float]] = Array(
    Array(0.1f, -2.5f, 3.4028235e38f, 1.1754944e-38f),
    Array(-0.3333333f, 0.0f, -0.0f, 42.125f))

  test("FloatMatrix round-trips bit-exactly through a snapshot") {
    val vt = graft.sources.VersionedTable(tmpRoot() + "/t")
    ModelStore.save(spark, vt, ModelStore.FloatMatrix, m1)
    val back = ModelStore.load(spark, vt, ModelStore.FloatMatrix).get
    assert(back.length === 2)
    assert(back(0).toSeq.map(java.lang.Float.floatToRawIntBits)
      === m1(0).toSeq.map(java.lang.Float.floatToRawIntBits))
    assert(back(1).toSeq.map(java.lang.Float.floatToRawIntBits)
      === m1(1).toSeq.map(java.lang.Float.floatToRawIntBits))
  }

  test("Codebooks and IvfPq round-trip with structure intact") {
    val cb = Array(
      Array(Array(1.5f, -2.25f), Array(0.125f, 7.0f), Array(-0.1f, 0.2f)),
      Array(Array(9.75f, 3.5f), Array(-1.0f, 0.0f), Array(2.2f, -3.3f)))
    val vt = graft.sources.VersionedTable(tmpRoot() + "/t")
    ModelStore.save(spark, vt, ModelStore.Codebooks, cb)
    val back = ModelStore.load(spark, vt, ModelStore.Codebooks).get
    assert(back.map(_.map(_.toSeq).toSeq).toSeq === cb.map(_.map(_.toSeq).toSeq).toSeq)

    val vt2 = graft.sources.VersionedTable(tmpRoot() + "/t")
    ModelStore.save(spark, vt2, ModelStore.IvfPq, (m1, cb))
    val (bc, bb) = ModelStore.load(spark, vt2, ModelStore.IvfPq).get
    assert(bc.map(_.toSeq).toSeq === m1.map(_.toSeq).toSeq)
    assert(bb.map(_.map(_.toSeq).toSeq).toSeq === cb.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("BpeMerges preserves rank order and counts; LogReg preserves feature order") {
    val merges = Seq(
      TextOps.BpeMerge(0, "t", "h", 100L),
      TextOps.BpeMerge(1, "th", "e", 70L),
      TextOps.BpeMerge(2, "a", "n", 55L))
    val vt = graft.sources.VersionedTable(tmpRoot() + "/t")
    ModelStore.save(spark, vt, ModelStore.BpeMerges, merges)
    assert(ModelStore.load(spark, vt, ModelStore.BpeMerges).get === merges)

    val lr = QualityModel.LogReg(
      Seq("len_score", "distinct_ratio", "bias_less"),
      Array(0.1, -2.3456789012345678, 1e-17), -0.75)
    val vt2 = graft.sources.VersionedTable(tmpRoot() + "/t")
    ModelStore.save(spark, vt2, ModelStore.LogRegCodec, lr)
    val back = ModelStore.load(spark, vt2, ModelStore.LogRegCodec).get
    assert(back.featureNames === lr.featureNames)
    assert(back.weights.toSeq.map(java.lang.Double.doubleToRawLongBits)
      === lr.weights.toSeq.map(java.lang.Double.doubleToRawLongBits))
    assert(java.lang.Double.doubleToRawLongBits(back.bias)
      === java.lang.Double.doubleToRawLongBits(lr.bias))
  }

  test("loadOrFit fits once, then serves every later call from the snapshot") {
    val root = tmpRoot()
    val dir = java.nio.file.Files.createTempDirectory("graft_srcdir_").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "dummy.parquet"), Array[Byte](1, 2, 3))
    var fits = 0
    def fitOnce(): Array[Array[Float]] = { fits += 1; m1 }
    val a = ModelStore.loadOrFit(spark, "demo", dir, ModelStore.FloatMatrix, root)(fitOnce())
    val b = ModelStore.loadOrFit(spark, "demo", dir, ModelStore.FloatMatrix, root)(fitOnce())
    assert(fits === 1) // second call never ran the fit
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // the "fresh session" path: a caller with NO in-hand fit (throws if
    // consulted) still gets the committed state — serve-from-snapshot
    val c = ModelStore.loadOrFit(spark, "demo", dir, ModelStore.FloatMatrix, root)(
      sys.error("refit must not run"))
    assert(c.map(_.toSeq).toSeq === m1.map(_.toSeq).toSeq)
  }

  test("a regenerated source dir changes the key and triggers a refit") {
    val root = tmpRoot()
    val dir = java.nio.file.Files.createTempDirectory("graft_srcdir_").toString
    val f = java.nio.file.Paths.get(dir, "data.parquet")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    val k1 = ModelStore.sourceKey(dir)
    ModelStore.loadOrFit(spark, "demo", dir, ModelStore.FloatMatrix, root)(m1)
    // regenerate: new size + mtime
    java.nio.file.Files.write(f, Array[Byte](9, 9, 9, 9))
    java.nio.file.Files.setLastModifiedTime(
      f, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(ModelStore.sourceKey(dir) !== k1)
    var refit = false
    ModelStore.loadOrFit(spark, "demo", dir, ModelStore.FloatMatrix, root) {
      refit = true; m1
    }
    assert(refit) // stale model is never served for changed data
  }

  test("the key carries the store format: a pre-format table is never read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srcdir_").toString
    val f = java.nio.file.Paths.get(dir, "data.parquet")
    java.nio.file.Files.write(f, Array[Byte](1))
    def key(prefix: Seq[String]) = java.security.MessageDigest.getInstance("SHA-256")
      .digest((prefix ++ Seq(
        java.nio.file.Paths.get(dir).toAbsolutePath.toString,
        s"data.parquet:${java.nio.file.Files.size(f)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}")).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xFF}%02x").mkString
    // the key a store without the format constant derived for this dir
    assert(ModelStore.sourceKey(dir) !== key(Nil))
    // format 2 (the `_latest`/`_manifest` layout) and format 3 (`_log`
    // commit records without a schema for plain commits) get different
    // keys from format 4 (every record carries its schema), so their
    // tables are refit, not read
    assert(ModelStore.StoreFormat === 4)
    assert(ModelStore.sourceKey(dir) !== key(Seq("format=2")))
    assert(ModelStore.sourceKey(dir) !== key(Seq("format=3")))
    assert(ModelStore.sourceKey(dir) === key(Seq("format=4")))
    assert(ModelStore.tableFor("demo", dir, tmpRoot()).root.endsWith(ModelStore.sourceKey(dir)))
  }
}

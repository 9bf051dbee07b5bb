package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.ModelStore

/** The one owner of derived fixture state: whatever a query derives from
  * an sf dir and reuses (a fitted model, a committed snapshot chain, a
  * bucketed index, a streamed sink) is built once per (JVM, kind, sf dir)
  * here and served from memory afterwards.
  *
  *  - [[once]] memoizes a build. Each key holds its own cell, and the
  *    build runs under that cell's lock, outside the shared map, so a
  *    build may call `once` for another key (the IVF binary index builds
  *    the IVF centroids) and concurrent callers of one key wait for the
  *    one build. A build that throws stores nothing; the next call
  *    retries it.
  *  - [[only]] is the oracle rule: fitted state may be interpolated into
  *    an oracle only when exactly one sf dir was built for that kind in
  *    this JVM. Verify runs the queries before it renders the oracles,
  *    so the value is there; zero or several dirs mean the oracle is
  *    omitted and the driver records a rows-only check instead.
  *  - [[scratch]] hands out directories under one per-JVM root, which a
  *    single shutdown hook deletes. Deleting at exit rather than when a
  *    user is done also covers streaming checkpoints, into which the
  *    state store's background maintenance may still write after
  *    `stop()`.
  *  - [[name]] gives a catalog or streaming-query name that is stable
  *    for (kind, dir) and distinct across dirs.
  *
  * Fitted models also persist across JVMs through [[ModelStore]]
  * ([[fitted]]); everything else lives for the JVM only.
  */
object Fixture {

  private final class Cell {
    @volatile private var value: Option[Any] = None

    def get: Option[Any] = value

    def getOrBuild(build: => Any): Any = synchronized {
      value.getOrElse {
        val v = build
        value = Some(v)
        v
      }
    }
  }

  private val cells = new ConcurrentHashMap[(String, String), Cell]()

  /** `build`'s value for (kind, dir), built at most once per JVM. */
  def once[T](kind: String, dir: String)(build: => T): T =
    cells.computeIfAbsent((kind, dir), _ => new Cell).getOrBuild(build).asInstanceOf[T]

  /** The value built for `kind`, iff exactly one dir has been built. */
  def only[T](kind: String): Option[T] = {
    val built = cells.asScala.collect { case ((k, _), c) if k == kind => c.get }.flatten
    if (built.size == 1) Some(built.head.asInstanceOf[T]) else None
  }

  /** A [[ModelStore]] model fitted once per (JVM, sf dir); the model name
    * is its fixture kind.
    */
  def fitted[T](s: SparkSession, model: String, dir: String, codec: ModelStore.Codec[T])(
      fit: => T): T =
    once(model, dir)(ModelStore.loadOrFit(s, model, dir, codec)(fit))

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_fixture_")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
    r
  }

  /** A fresh directory under this JVM's fixture root, deleted at exit. */
  def scratch(kind: String): String = Files.createTempDirectory(root, s"${kind}_").toString

  /** `graft_<kind>_` plus 16 hex digits of SHA-256(dir): two sf dirs in
    * one JVM never share a name (a 32-bit hashCode could collide).
    */
  def name(kind: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(StandardCharsets.UTF_8))
    s"graft_${kind}_" + digest.take(8).map(b => f"${b & 0xFF}%02x").mkString
  }
}

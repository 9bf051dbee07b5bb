package graft

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Fixture]] is the engine's one home for derived fixture state: the
  * build-once, nested-build, retry-after-failure and exactly-one-dir
  * rules are pinned here, and a source lint keeps the query surfaces
  * from growing their own caches again.
  */
class FixtureSpec extends AnyFunSuite {

  /** A kind no other caller in this JVM uses. */
  private def fresh(label: String): String = s"spec_${label}_${UUID.randomUUID()}"

  test("8 threads calling once on one key build it exactly once") {
    val kind = fresh("once")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        start.await()
        Fixture.once(kind, "d") {
          Thread.sleep(100)
          builds.incrementAndGet()
        }
      })
      start.countDown()
      val values = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get === 1)
      assert(values.toSet === Set(1))
    } finally pool.shutdownNow()
  }

  test("a build that calls once for another kind neither deadlocks nor throws") {
    // 32 builds deep, so some two of them share a hash bin: a nested
    // computeIfAbsent on one shared map throws "Recursive update" there
    val base = fresh("nested")
    def chain(i: Int): Int =
      if (i == 0) 0 else Fixture.once(s"${base}_$i", "d")(chain(i - 1) + 1)
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      assert(Await.result(Future(chain(32)), 30.seconds) === 32)
      assert(Fixture.only[Int](s"${base}_1") === Some(1))
    } finally pool.shutdownNow()
  }

  test("a build that throws stores nothing and is retried on the next call") {
    val kind = fresh("retry")
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Fixture.once[Int](kind, "d") {
        builds.incrementAndGet()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(Fixture.only[Int](kind) === None)
    assert(Fixture.once(kind, "d") { builds.incrementAndGet(); 7 } === 7)
    assert(builds.get === 2)
    assert(Fixture.once[Int](kind, "d")(fail("built again")) === 7)
  }

  test("only answers iff exactly one dir has been built for the kind") {
    val kind = fresh("only")
    assert(Fixture.only[String](kind) === None)
    Fixture.once(kind, "/sf/a")("a")
    assert(Fixture.only[String](kind) === Some("a"))
    Fixture.once(kind, "/sf/a")("never")
    assert(Fixture.only[String](kind) === Some("a"))
    Fixture.once(kind, "/sf/b")("b")
    assert(Fixture.only[String](kind) === None)
  }

  test("scratch dirs share one root; names are stable per dir and distinct across dirs") {
    val (a, b) = (Paths.get(Fixture.scratch("spec")), Paths.get(Fixture.scratch("spec")))
    assert(Files.isDirectory(a) && Files.isDirectory(b) && a != b)
    assert(a.getParent === b.getParent)
    assert(a.getParent.getFileName.toString.startsWith("graft_fixture_"))
    assert(Fixture.name("x29b", "/sf/a") === Fixture.name("x29b", "/sf/a"))
    assert(Fixture.name("x29b", "/sf/a") != Fixture.name("x29b", "/sf/b"))
    assert(Fixture.name("x29b", "/sf/a").matches("graft_x29b_[0-9a-f]{16}"))
  }

  test("lint: the query surfaces hold no cache of their own; only Fixture makes temp dirs") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
    val surfaces = Seq("graft/ExtensionQueries.scala", "graft/ServingQueries.scala").map(root.resolve)
    val banned = Seq("ConcurrentHashMap", "computeIfAbsent", "createTempDirectory", "MessageDigest")
    for (p <- surfaces; word <- banned)
      assert(!text(p).contains(word), s"$p uses $word: route it through graft.Fixture")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Fixture.scala")
      .toSeq
    assert(files.size > 40)
    val makers = files.filter(p => text(p).contains("createTempDirectory"))
    assert(makers.isEmpty, s"make fixture scratch through graft.Fixture: ${makers.mkString(", ")}")
  }
}

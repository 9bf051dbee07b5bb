package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import CrashPoint.{crashAfter, interleave, steps}

/** The commit protocol under crashes and concurrent writers: a crash
  * after any step of any write leaves the old snapshot or the new one,
  * never a torn table; two writers on one base publish exactly once.
  */
class SnapshotProtocolSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.SparkTestSession.spark

  private def freshRoot(): String = Files.createTempDirectory("graft_vtp").toString + "/t"

  private def batch(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"s$i")).toDF("id", "s")
  }

  /** `ids` with a value no earlier batch gave them. */
  private def updated(ids: Seq[Long]): DataFrame =
    batch(ids).withColumn("s", concat(col("s"), lit("u")))

  private def rows(df: DataFrame): Seq[String] =
    df.select("id", "s").collect().map(_.toString).toSeq.sorted

  private def changes(df: DataFrame): Seq[String] =
    df.select("id", "s", "change").collect().map(_.toString).toSeq.sorted

  private def base(t: VersionedTable): Unit =
    t.commit(batch(0L until 20L).repartition(2), tag = Some("t0"), statsColumns = Seq("id"))

  /** One write per operation, each on a base state with stats and a tag so
    * that every protocol step has work to do.
    */
  private val ops: Seq[(String, VersionedTable => Unit, VersionedTable => Long)] = Seq(
    ("commit", base,
      t => t.commit(batch(100L until 110L), tag = Some("t1"), statsColumns = Seq("id"))),
    ("appendCommit", base,
      t => t.appendCommit(batch(20L until 25L), tag = Some("t1"), statsColumns = Seq("id"))),
    ("upsert", base, t => t.upsert(spark, updated((5L until 15L) ++ (200L until 205L)), Seq("id"))),
    ("deleteWhere", base, t => t.deleteWhere(spark, col("id") === 3L)),
    ("compactFiles",
      t => { base(t); t.appendCommit(batch(20L until 25L), statsColumns = Seq("id")) },
      t => t.compactFiles(spark)))

  private def field(t: VersionedTable, v: Long, name: String): Option[String] = {
    import org.json4s._
    val rec = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(t.root, "_log", s"$v.json")), "UTF-8"))
    rec \ name match {
      case JString(x) => Some(x)
      case _ => None
    }
  }

  private def names(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  /** The table root holds only `_log/` and data directories; `_log` only
    * records; each data directory only parquet files plus at most
    * `_stats` (besides what the Hadoop writer leaves with every parquet
    * write: its `_SUCCESS` marker and the local file system's `.crc`
    * checksum of each file); and every data directory at or below the
    * head is one a retained record reads from.
    */
  private def assertClean(t: VersionedTable): Unit = {
    val root = Paths.get(t.root)
    val head = t.latestVersion().get
    val DataDir = """v=(\d+)(?:_\d+)?""".r
    val referenced = t.versions().flatMap { v =>
      field(t, v, "dir").toSeq ++
        t.manifest(v).get.map(f => root.relativize(Paths.get(f)).iterator().next().toString)
    }.toSet
    assert(names(root.resolve("_log")).forall(_.matches("""\d+\.json""")), names(root.resolve("_log")))
    names(root).filterNot(_ == "_log").foreach {
      case n @ DataDir(v) =>
        assert(v.toLong > head || referenced(n), s"unreferenced directory $n at or below head $head")
        val w = Files.walk(root.resolve(n))
        val files = try w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally w.close()
        val fileNames = files.map(_.getFileName.toString).toSet
        val extra = fileNames.filterNot(f => f.endsWith(".parquet") || f == "_stats" ||
          f == "_SUCCESS" || (f.startsWith(".") && f.endsWith(".crc") &&
            fileNames(f.stripPrefix(".").stripSuffix(".crc"))))
        assert(extra.isEmpty, s"$n holds $extra")
      case n => fail(s"unexpected entry $n in the table root")
    }
  }

  for ((op, setUp, write) <- ops; step <- steps) {
    test(s"crash point: $op stopped after $step reads whole; the next commit and vacuum recover") {
      // the same write run to completion on a twin table: the new snapshot
      val twin = VersionedTable(freshRoot())
      setUp(twin)
      val twinBase = twin.latestVersion().get
      write(twin)
      val newRows = rows(twin.read(spark))
      val newTags = twin.committedTags()
      val newDiff = changes(twin.diffVersions(spark, twinBase, twin.latestVersion().get))

      val t = VersionedTable(freshRoot())
      setUp(t)
      val b = t.latestVersion().get
      val (oldRows, oldTags) = (rows(t.read(spark)), t.committedTags())
      crashAfter(t, step)(write(t))
      val landed = steps.indexOf(step) >= steps.indexOf("link")
      val (expect, tags) = if (landed) (newRows, newTags) else (oldRows, oldTags)
      assert(t.latestVersion() === Some(if (landed) b + 1 else b))
      val head = t.latestVersion().get
      assert(rows(t.read(spark)) === expect)
      assert(rows(t.readVersion(spark, head)) === expect)
      assert(rows(t.readAsOf(spark, java.time.Instant.now())) === expect)
      assert(changes(t.diffVersions(spark, b, head)) === (if (landed) newDiff else Nil))
      assert(t.committedTags() === tags)
      // the next commit succeeds and reads right
      val next = t.appendCommit(batch(Seq(999L)), tag = Some("t2"))
      assert(next === head + 1)
      assert(rows(t.read(spark)) === (expect :+ "[999,s999]").sorted)
      assert(t.committedTags() === tags + "t2")
      // and vacuum leaves nothing a crash left behind
      t.vacuum(keep = Int.MaxValue)
      assert(t.versions() === (0L to next))
      assertClean(t)
      assert(rows(t.read(spark)) === (expect :+ "[999,s999]").sorted)
    }
  }

  test("a torn temp record is never read; vacuum reclaims it") {
    val t = VersionedTable(freshRoot())
    base(t)
    Files.write(Paths.get(t.root, "_log", "1.json.torn.tmp"), """{"version":1,"fil""".getBytes("UTF-8"))
    assert(t.versions() === Seq(0L))
    assert(rows(t.readAsOf(spark, java.time.Instant.now())).size === 20)
    assert(t.appendCommit(batch(Seq(20L))) === 1L)
    t.vacuum(keep = Int.MaxValue)
    assertClean(t)
    assert(rows(t.read(spark)).size === 21)
  }

  /** The first writer in the two-writer tests: how it is named, its
    * write, and the rows and tags its retry publishes over the base plus
    * the second writer's row 50.
    */
  private val firstWriters: Seq[(String, VersionedTable => Long, Seq[String], Set[String])] = Seq(
    ("the first", t => t.appendCommit(batch(Seq(40L)), tag = Some("a")),
      ((0L until 20L) ++ Seq(40L, 50L)).map(i => s"[$i,s$i]").sorted, Set("t0", "a", "b")),
    ("the first upsert", t => t.upsert(spark, updated(Seq(5L, 40L)), Seq("id")),
      (((0L until 20L).filter(_ != 5L) :+ 50L).map(i => s"[$i,s$i]") ++ Seq("[5,s5u]", "[40,s40u]")).sorted,
      Set("t0", "b")))

  for ((first, write, retried, retriedTags) <- firstWriters; step <- steps.takeWhile(_ != "link")) {
    test(s"two writers on one base, the second lands at $step: one record, $first gets the conflict") {
      val root = freshRoot()
      val (a, b) = (VersionedTable(root), VersionedTable(root))
      base(a)
      var bVersion = -1L
      val e = intercept[CommitConflictException] {
        interleave(a, step) { bVersion = b.appendCommit(batch(Seq(50L)), tag = Some("b")) } {
          write(a)
        }
      }
      // exactly one record for v=1: the winner's
      assert(e.version === 1L && bVersion === 1L)
      assert(names(Paths.get(root, "_log")) === Seq("0.json", "1.json"))
      assert(a.committedTags() === Set("t0", "b"))
      assert(rows(a.read(spark)) === ((0L until 20L) :+ 50L).map(i => s"[$i,s$i]").sorted)
      // nothing the loser wrote is referenced, or left: when it had
      // allocated v=1 first, the winner wrote v=1_1
      val (won, lost) =
        if (steps.indexOf(step) < steps.indexOf("allocate")) ("v=1", "v=1_1") else ("v=1_1", "v=1")
      assert(field(a, 1L, "dir") === Some(won))
      assert(!Files.exists(Paths.get(root, lost)))
      assertClean(a)
      // the loser's retry on the new head succeeds and keeps both writes
      assert(write(a) === 2L)
      assert(rows(a.read(spark)) === retried)
      assert(a.committedTags() === retriedTags)
    }
  }

  test("4 writers x 10 appends retrying on conflict: every batch lands once, versions contiguous") {
    val root = freshRoot()
    base(VersionedTable(root))
    val conflicts = new AtomicInteger()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until 4).map { w =>
      new Thread(() => {
        val t = VersionedTable(root)
        try (0 until 10).foreach { i =>
          val id = 1000L + w * 100 + i
          var done = false
          while (!done) {
            try { t.appendCommit(batch(Seq(id)), tag = Some(s"w$w-$i")); done = true }
            catch { case _: CommitConflictException => conflicts.incrementAndGet() }
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(failures.isEmpty, failures.asScala.map(_.toString).mkString("; "))
    val t = VersionedTable(root)
    assert(t.versions() === (0L to 40L))
    val ids = t.read(spark).select("id").collect().map(_.getLong(0)).toSeq
    val expected = (0L until 20L) ++ (for (w <- 0 until 4; i <- 0 until 10) yield 1000L + w * 100 + i)
    assert(ids.sorted === expected.sorted)
    assert(t.committedTags().size === 41)
    t.vacuum(keep = Int.MaxValue)
    assertClean(t)
    info(s"${conflicts.get()} conflicts retried")
  }
}

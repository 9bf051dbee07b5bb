package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ScanMetrics.scannedFiles
import graft.sources.{CrashPoint, VersionedTable}

/** The snapshot-commit protocol: immutable data dirs + one put-if-absent
  * commit record per version. Readers must never observe a torn table; an
  * upsert replaces exactly the keys it carries, on the snapshot it read.
  */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def freshTable(): VersionedTable =
    VersionedTable(java.nio.file.Files.createTempDirectory("graft_vt").toString + "/t")

  /** The published snapshot's rows read straight from its manifest files,
    * with no file index, so nothing is skipped: the reference a pruned
    * plain read must match row for row.
    */
  private def unpruned(t: VersionedTable): org.apache.spark.sql.DataFrame =
    spark.read.parquet(t.manifest(t.latestVersion().get).get: _*)

  private def recordPath(t: VersionedTable, v: Long): java.nio.file.Path =
    java.nio.file.Paths.get(t.root, "_log", s"$v.json")

  /** The `_stats` file snapshot `v`'s commit record names. */
  private def statsFileOf(t: VersionedTable, v: Long): java.nio.file.Path = {
    val rec = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(recordPath(t, v)), "UTF-8"))
    rec \ "stats" match {
      case org.json4s.JString(rel) => java.nio.file.Paths.get(t.root, rel)
      case other => fail(s"v=$v records no _stats: $other")
    }
  }

  test("commit publishes atomically; a pre-commit reader frame still serves the old snapshot") {
    val t = freshTable()
    import spark.implicits._
    val v0 = t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(v0 === 0L && t.latestVersion().contains(0L))

    // a reader resolves the snapshot BEFORE the next commit...
    val pinned = t.read(spark)
    assert(pinned.count() === 2)

    val v1 = t.commit(Seq((1L, "a2"), (3L, "c")).toDF("id", "s"))
    assert(v1 === 1L && t.latestVersion().contains(1L))

    // ...and keeps reading consistent OLD data mid/post-commit, because
    // published directories are never mutated
    assert(pinned.count() === 2)
    assert(pinned.filter(col("s") === "a").count() === 1)
    // a new reader sees the new snapshot
    assert(t.read(spark).filter(col("s") === "a2").count() === 1)
    // time travel over the retained version
    assert(t.readVersion(spark, 0L).filter(col("s") === "a").count() === 1)
  }

  test("materialize is pinned to the snapshot it committed, not the latest pointer") {
    val t = freshTable()
    import spark.implicits._
    val mat = VersionedTable.materialize(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Some(t), "spec.mat")
    // another committer bumps the pointer between materialize and the
    // downstream read — the materialized frame must keep serving ITS
    // snapshot (pre-fix, materialize re-resolved latestVersion and would
    // silently read the interloper's data)
    t.commit(Seq((9L, "z")).toDF("id", "s"))
    assert(mat.count() === 2)
    assert(mat.filter(col("s") === "z").count() === 0)
  }

  test("upsert replaces the rows whose key it carries and keeps the rest, partitioned or not") {
    import spark.implicits._
    for (partitionBy <- Seq(Nil, Seq("p"))) {
      val t = freshTable()
      // a never-committed table: a plain commit
      val v0 = t.upsert(spark, Seq((1L, 0L, "a"), (2L, 1L, "b"), (3L, 0L, "c")).toDF("id", "p", "s"),
        Seq("id"), partitionBy)
      // replace id 2 (moving it to another partition) and insert id 4
      val v1 = t.upsert(spark, Seq((2L, 0L, "b2"), (4L, 1L, "d")).toDF("id", "p", "s"),
        Seq("id"), partitionBy)
      assert((v0, v1) === ((0L, 1L)), partitionBy)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("id"), col("p").cast("long"), col("s")).as[(Long, Long, String)].collect().toSeq.sorted
      assert(rows(t.read(spark)) === Seq((1L, 0L, "a"), (2L, 0L, "b2"), (3L, 0L, "c"), (4L, 1L, "d")),
        partitionBy)
      // the base snapshot still reads as it was published
      assert(rows(t.readVersion(spark, v0)) === Seq((1L, 0L, "a"), (2L, 1L, "b"), (3L, 0L, "c")),
        partitionBy)
      // a hive partition column reads back as int; the stored rows were
      // cast to the updates' long to merge
      val pType = t.read(spark).schema("p").dataType
      assert(pType === (if (partitionBy.isEmpty) org.apache.spark.sql.types.LongType
        else org.apache.spark.sql.types.IntegerType), partitionBy)
      assert(t.manifest(v1).get.forall(_.contains("/p=")) === partitionBy.nonEmpty, partitionBy)
    }
  }

  test("manifest: commit records its data files; reads ignore stray files in the dir") {
    val t = freshTable()
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"s$i", i % 4)).toDF("id", "s", "p")
    t.commit(df, partitionBy = Seq("p"))

    // manifest lists exactly the snapshot's parquet files
    val files = t.manifest(0L).getOrElse(fail("manifest missing"))
    assert(files.nonEmpty)
    assert(files.forall(f => f.endsWith(".parquet") && java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    // partition columns survive the explicit-file read (basePath)
    val back = t.read(spark)
    assert(back.columns.toSet === Set("id", "s", "p"))
    assert(back.count() === 100)
    assert(back.filter(col("p") === 2).count() === 25)

    // a stray file leaking into the snapshot dir (partial upload, foreign
    // writer) is NEVER silently read — the manifest, not the listing, is
    // the source of truth
    val stray = (900L to 999L).map(i => (i, "stray", 0L)).toDF("id", "s", "p")
    val strayDir = java.nio.file.Files.createTempDirectory("graft_vt_stray").toString + "/d"
    stray.write.parquet(strayDir)
    val strayFile = java.nio.file.Files.list(java.nio.file.Paths.get(strayDir))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(
      strayFile,
      java.nio.file.Paths.get(t.root, "v=0", "p=0", "part-stray.parquet"))
    assert(t.read(spark).count() === 100, "stray file must not be read")
  }

  test("an orphan directory from a crashed commit never blocks later commits") {
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "a")).toDF("id", "s")) // published v=0
    // simulate a crash AFTER the parquet write, BEFORE the record's link:
    // v=1 exists on disk but no record publishes it
    Seq((9L, "orphan")).toDF("id", "s").write.parquet(t.root + "/v=1")
    assert(t.latestVersion().contains(0L))
    // the next commit may reuse the orphan's version number, but writes its
    // own directory and never reads the orphan's files
    val v = t.commit(Seq((2L, "b")).toDF("id", "s"))
    assert(v === 1L && t.latestVersion().contains(1L))
    assert(t.manifest(v).get.forall(f => !f.contains("/v=1/")))
    assert(t.read(spark).select("s").as[String].collect() === Array("b"))
    // vacuum reclaims the orphan: no record references it
    t.vacuum(keep = 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t.root, "v=1")))
    assert(t.read(spark).select("s").as[String].collect() === Array("b"))
  }

  test("vacuum drops old snapshots but never the published one") {
    val t = freshTable()
    import spark.implicits._
    (0 to 3).foreach(i => t.commit(Seq((i.toLong, s"v$i")).toDF("id", "s")))
    assert(t.versions() === Seq(0L, 1L, 2L, 3L))
    t.vacuum(keep = 2)
    assert(t.versions() === Seq(2L, 3L))
    assert(t.latestVersion().contains(3L))
    assert(t.read(spark).filter(col("s") === "v3").count() === 1)
  }

  test("appendCommit publishes previous-rows-plus-batch writing only the batch") {
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val pinned = t.read(spark)

    val v1 = t.appendCommit(Seq((3L, "c")).toDF("id", "s"))
    assert(v1 === 1L)
    // new snapshot = union; the appended version's DIRECTORY holds only
    // the batch's files (O(batch) write), the rest carried by manifest
    assert(t.read(spark).select("s").as[String].collect().sorted === Array("a", "b", "c"))
    val ownFiles = t.manifest(v1).get.filter(_.contains("v=1"))
    val carried = t.manifest(v1).get.filter(_.contains("v=0"))
    assert(ownFiles.nonEmpty && carried.nonEmpty)
    // snapshot isolation unchanged: the pre-append reader still sees v0
    assert(pinned.count() === 2)

    // appends chain: a second appendCommit carries BOTH earlier versions
    t.appendCommit(Seq((4L, "d")).toDF("id", "s"))
    assert(t.read(spark).select("s").as[String].collect().sorted ===
      Array("a", "b", "c", "d"))
  }

  test("appendCommit on a partitioned snapshot: batch-only write, partition column preserved; tags round-trip") {
    val t = freshTable()
    import spark.implicits._
    t.commit(
      Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "branch", "s"),
      partitionBy = Seq("branch"))
    val filesBefore = t.manifest(0L).get.toSet
    val v1 = t.appendCommit(Seq((3L, "z", "c"), (4L, "x", "d")).toDF("id", "branch", "s"))
    // previous-rows-plus-batch; only the batch's files are new (the base
    // files carry by manifest reference across version directories)
    val m1 = t.manifest(v1).get
    assert(filesBefore.subsetOf(m1.toSet))
    assert(m1.toSet.diff(filesBefore).forall(_.contains(s"v=$v1")))
    // the batch's files landed under hive partition dirs of the SAME keys
    assert(m1.toSet.diff(filesBefore).forall(_.contains("branch=")))
    val r = t.read(spark)
    assert(r.count() === 4)
    // partition column restored for BOTH eras of the cross-directory read
    assert(r.filter(col("branch") === "x").select("id").as[Long].collect().sorted
      === Array(1L, 4L))
    // a filter on the partition column + time travel to the base era
    assert(t.readVersion(spark, 0L).filter(col("branch") === "x").count() === 1)
    // a further append keeps the chain readable
    t.appendCommit(Seq((5L, "y", "e")).toDF("id", "branch", "s"))
    assert(t.read(spark).filter(col("branch") === "y").count() === 2)
    // schema EVOLUTION on a partitioned chain: refused fail-fast even
    // with the opt-in (the explicit round-13 ask #2 decision)
    val e = intercept[IllegalArgumentException] {
      t.appendCommit(
        Seq((6L, "z", "f", 1.0)).toDF("id", "branch", "s", "w"), allowEvolution = true)
    }
    assert(e.getMessage.contains("partitioned") && e.getMessage.contains("w"))

    val t2 = freshTable()
    t2.commit(Seq((1L, "a")).toDF("id", "s"))
    assert(t2.latestTag() === None)
    t2.appendCommit(Seq((2L, "b")).toDF("id", "s"), tag = Some("batch-7"))
    assert(t2.latestTag() === Some("batch-7"))
    // an untagged commit clears the published tag
    t2.appendCommit(Seq((3L, "c")).toDF("id", "s"))
    assert(t2.latestTag() === None)
  }

  test("vacuum never deletes a directory a retained append snapshot references") {
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "a")).toDF("id", "s"))      // v0: full
    t.appendCommit(Seq((2L, "b")).toDF("id", "s")) // v1: refs v0
    t.appendCommit(Seq((3L, "c")).toDF("id", "s")) // v2: refs v0, v1
    // keep=2 retains v1 and v2 — but v1 and v2 both reference v0's files,
    // so v0 must survive, or the LIVE published snapshot would lose rows
    t.vacuum(keep = 2)
    assert(t.versions() === Seq(0L, 1L, 2L))
    assert(t.read(spark).select("s").as[String].collect().sorted === Array("a", "b", "c"))

    // full commits break the reference chain; then old versions CAN go
    t.commit(t.read(spark)) // v3: self-contained rewrite
    t.commit(Seq((9L, "z")).toDF("id", "s")) // v4
    t.vacuum(keep = 2)
    assert(t.versions() === Seq(3L, 4L))
    assert(t.read(spark).select("s").as[String].collect() === Array("z"))
  }

  test("vacuum keeps a version whole: a retained version's own references survive too") {
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)) // v0: file A
    t.appendCommit(Seq((3L, "c")).toDF("id", "s").coalesce(1))       // v1: A + file B
    t.deleteWhere(spark, col("id") === 1L)                           // v2: B + A rewritten
    // the head reads from v=1 (file B), so v1 is retained; v1 reads from
    // v=0 (file A), so v0 must stay too, or the retained v1 would not read
    t.vacuum(keep = 1)
    assert(t.versions() === Seq(0L, 1L, 2L))
    assert(t.readVersion(spark, 1L).count() === 3)
    assert(t.read(spark).select("s").as[String].collect().sorted === Array("b", "c"))
  }

  test("deleteWhere: only hit files rewrite, the rest carry by reference; time travel keeps the audit trail") {
    val t = freshTable()
    import spark.implicits._
    // v0 holds users 1-10, v1 appends users 11-20 — two disjoint file sets
    t.commit((1L to 10L).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    val v1 = t.appendCommit((11L to 20L).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    val before = t.manifest(v1).get
    // forget user 15 — only the appended batch's file holds it
    val v2 = t.deleteWhere(spark, col("user_id") === 15L)
    assert(v2 === v1 + 1)
    val after = t.manifest(v2).get
    // v0's file carried VERBATIM (same absolute path), the hit file replaced
    val v0Files = before.filter(_.contains("v=0"))
    assert(v0Files.nonEmpty && v0Files.forall(after.contains))
    assert(!before.filter(_.contains(s"v=$v1/")).exists(after.contains))
    // rows: 15 gone, everyone else intact; the audit trail still serves it
    val now = t.read(spark).select("user_id").as[Long].collect().toSet
    assert(now === ((1L to 20L).toSet - 15L))
    assert(t.readVersion(spark, v1).filter(col("user_id") === 15L).count() === 1)
    // a predicate matching nothing is a no-op, not an empty commit
    assert(t.deleteWhere(spark, col("user_id") === 999L) === v2)
    assert(t.latestVersion().contains(v2))
  }

  test("compactFiles: small files re-bin, big files carry verbatim, content is bag-identical") {
    val t = freshTable()
    import spark.implicits._
    // base: 2000 rows in one file (the file already at weight); four
    // micro-batch appends of 10 rows each (the fragmented tail)
    t.commit((1L to 2000L).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    var last = 0L
    (0 until 4).foreach { b =>
      val lo = 2001L + b * 10
      last = t.appendCommit(
        (lo until lo + 10).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    }
    val before = t.manifest(last).get
    assert(before.size === 5)
    val baseSz = before.filter(_.contains("v=0")).map(f => new java.io.File(f).length()).max
    val v = t.compactFiles(spark, smallBytes = baseSz, targetBytes = Long.MaxValue)
    assert(v === last + 1)
    val after = t.manifest(v).get
    // base file carried VERBATIM (same absolute path); the four append
    // files merged into one new file in the compacted version's dir
    assert(before.filter(_.contains("v=0")).forall(after.contains))
    assert(after.size === 2)
    assert(after.count(_.contains(s"v=$v/")) === 1)
    // bag-identical content; readers of the head can't tell
    val rows = t.read(spark).select("user_id").as[Long].collect().toSet
    assert(rows === (1L to 2040L).toSet)
    assert(t.read(spark).count() === 2040)
    // the PRE-compaction snapshot still serves from the original files
    assert(t.readVersion(spark, last).count() === 2040)
    assert(t.readVersion(spark, last).inputFiles.map(f =>
      java.nio.file.Paths.get(new java.net.URI(f)).toString).toSet === before.toSet)
  }

  test("compactFiles: fewer than two qualifying files is a version-preserving no-op") {
    val t = freshTable()
    import spark.implicits._
    t.commit((1L to 100L).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    val v1 = t.appendCommit(
      (101L to 105L).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    // threshold below every file size: nothing qualifies, nothing commits
    assert(t.compactFiles(spark, smallBytes = 1L, targetBytes = Long.MaxValue) === v1)
    assert(t.latestVersion().contains(v1))
    // ONE qualifying file (the 5-row append, strictly smaller than the
    // 100-row base) is equally a no-op — merging one file buys nothing
    val sizes = t.manifest(v1).get.map(f => new java.io.File(f).length())
    assert(sizes.min < sizes.max)
    assert(t.compactFiles(spark, smallBytes = sizes.min + 1, targetBytes = Long.MaxValue) === v1)
  }

  test("compactFiles: partitioned snapshots re-bin under their keys; vacuum keeps dirs the head references") {
    val t = freshTable()
    import spark.implicits._
    // a fragmented partitioned append chain: every file qualifies as
    // small, so compaction must rewrite them UNDER the partition keys
    // and the compacted read must stay bag-identical, partition column
    // included
    t.commit(
      (1L to 40L).map(i => (i, s"b${i % 3}")).toDF("id", "branch"),
      partitionBy = Seq("branch"))
    t.appendCommit((41L to 80L).map(i => (i, s"b${i % 3}")).toDF("id", "branch"))
    val vc = t.compactFiles(spark, smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    assert(vc === 2L)
    val compacted = t.manifest(vc).get
    assert(compacted.forall(_.contains("branch=")), "compaction lost the hive layout")
    val r = t.read(spark)
    assert(r.count() === 80)
    assert(r.filter(col("branch") === "b1").count() === 27)
    assert(r.groupBy("branch").count().count() === 3)
    // an append chain compacted with the BASE carried: vacuum must keep v=0
    val t2 = freshTable()
    t2.commit((1L to 500L).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    (0 until 3).foreach { b =>
      val lo = 501L + b * 10
      t2.appendCommit(
        (lo until lo + 10).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    }
    val head = t2.manifest(t2.latestVersion().get).get
    val baseSz = head.map(f => new java.io.File(f).length()).max
    val v = t2.compactFiles(spark, smallBytes = baseSz, targetBytes = Long.MaxValue)
    t2.vacuum(keep = 1)
    // v=0 still on disk (the compacted head references its file)...
    assert(t2.read(spark).count() === 530)
    // ...and the superseded small-file versions are reclaimable
    assert(t2.versions().toSet.intersect(Set(1L, 2L)).isEmpty)
    assert(t2.latestVersion().contains(v))
  }

  test("compactFiles: a manifest referencing a vanished file errors by NAME, not at the read") {
    // File.length() returns 0 for a missing path — without the existence
    // check the vanished file would silently classify as 'small' and the
    // failure would surface later, blaming the parquet READ instead of
    // the real problem (manifest/table corruption)
    val t = freshTable()
    import spark.implicits._
    t.commit((1L to 50L).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    val v1 = t.appendCommit(
      (51L to 60L).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    val victim = t.manifest(v1).get.head
    java.nio.file.Files.delete(java.nio.file.Paths.get(victim))
    val e = intercept[IllegalStateException](
      t.compactFiles(spark, smallBytes = Long.MaxValue, targetBytes = Long.MaxValue))
    assert(e.getMessage.contains("missing file"))
  }

  test("deleteWhere: a NULL predicate keeps the row — only provably-true matches die") {
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "keep"), (2L, null.asInstanceOf[String]), (3L, "drop"))
      .toDF("id", "s").coalesce(1))
    t.deleteWhere(spark, col("s") === "drop") // null === 'drop' is NULL for id=2
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("diffVersions: append and delete chains yield the exact change feed; shared files never read") {
    val t = freshTable()
    import spark.implicits._
    val v0 = t.commit((1L to 10L).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    val v1 = t.appendCommit((11L to 13L).map(i => (i, s"u$i")).toDF("user_id", "payload").coalesce(1))
    val d01 = t.diffVersions(spark, v0, v1)
    val rows01 = d01.collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(rows01 === (11L to 13L).map(_ -> "insert").toSet)
    // the carried v0 file is delta-free and must not be scanned at all
    assert(!d01.inputFiles.exists(_.contains("v=0")))
    // a targeted delete surfaces as exactly its victims
    val v2 = t.deleteWhere(spark, col("user_id") === 12L)
    val rows12 = t.diffVersions(spark, v1, v2).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(rows12 === Set(12L -> "delete"))
    // identical versions diff to an empty, schema-stable feed
    assert(t.diffVersions(spark, v2, v2).count() === 0)
    assert(t.diffVersions(spark, v2, v2).columns.toSeq ===
      Seq("user_id", "payload", "change"))
    // multiplicity is bag semantics: a second copy of an existing row
    // is ONE insert, not zero
    val v3 = t.appendCommit(Seq((1L, "u1")).toDF("user_id", "payload").coalesce(1))
    val rows23 = t.diffVersions(spark, v2, v3).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(rows23.toSeq === Seq(1L -> "insert"))
  }

  test("every commit records its read schema; readVersion resolves it with no Spark job") {
    import spark.implicits._
    val df = (1L to 40L)
      .map(i => (i, s"b${i % 3}", i % 12 + 1, java.sql.Date.valueOf(s"2024-01-${i % 28 + 1}"), i * 0.5))
      .toDF("id", "branch", "month", "day", "x")
      .repartition(2)
    Seq(Nil, Seq("month"), Seq("month", "branch")).foreach { parts =>
      val t = freshTable()
      val v = t.commit(df, partitionBy = parts)
      val rec = org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(recordPath(t, v)), "UTF-8"))
      assert((rec \ "schema").isInstanceOf[org.json4s.JObject], s"$parts: the record holds no schema")
      // the parquet read that inferred the schema from footers and paths
      // before every record carried one
      val inferred = spark.read.option("basePath", s"${t.root}/v=$v").parquet(t.manifest(v).get: _*)
      val (read, jobs) = SparkJobs.in(spark)(t.readVersion(spark, v))
      assert(jobs === 0, s"$parts: readVersion ran $jobs jobs")
      assert(read.schema === inferred.schema, parts)
      if (parts.nonEmpty)
        assert(read.schema("month").dataType === org.apache.spark.sql.types.IntegerType, parts)
      assert(read.collect().map(_.toString).sorted === inferred.collect().map(_.toString).sorted, parts)
    }
  }

  test("diffVersions: hive-partitioned snapshots keep their partition column in the compare") {
    // round-9 ADVICE: the manifest path read explicit file paths without
    // a basePath, so the partition column vanished and rows differing
    // ONLY in the partition value compared equal — silent wrong CDC
    val t = freshTable()
    import spark.implicits._
    val v0 = t.commit(
      Seq((1L, "A"), (2L, "B")).toDF("id", "branch").repartition(1),
      partitionBy = Seq("branch"))
    // row 2 MOVES partition B -> C; values identical otherwise
    val v1 = t.commit(
      Seq((1L, "A"), (2L, "C")).toDF("id", "branch").repartition(1),
      partitionBy = Seq("branch"))
    val d = t.diffVersions(spark, v0, v1).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("branch"), r.getAs[String]("change")))
      .toSet
    assert(d === Set((2L, "B", "delete"), (2L, "C", "insert")))
  }

  test("an unparseable commit record fails reads, diffs and maintenance by name") {
    // a record that exists but does not parse is a corrupt table: reads,
    // diffs and maintenance commits name it instead of guessing
    val t = freshTable()
    import spark.implicits._
    val v0 = t.commit((1L to 5L).map(i => (i, s"u$i")).toDF("id", "s").coalesce(1))
    val v1 = t.appendCommit(Seq((6L, "u6")).toDF("id", "s").coalesce(1))
    def tear(v: Long): Unit = {
      val p = recordPath(t, v)
      val whole = java.nio.file.Files.readAllBytes(p)
      java.nio.file.Files.write(p, whole.take(whole.length / 2))
    }
    def corrupt(v: Long)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(s"snapshot v=$v") && e.getMessage.contains("commit record"),
        e.getMessage)
    }
    tear(v0)
    corrupt(v0)(t.manifest(v0))
    corrupt(v0)(t.readVersion(spark, v0))
    corrupt(v0)(t.diffVersions(spark, v0, v1))
    corrupt(v0)(t.diffVersions(spark, v1, v0))
    corrupt(v0)(t.vacuum(keep = 1))
    // the intact head still reads and diffs against itself
    assert(t.read(spark).count() === 6)
    assert(t.diffVersions(spark, v1, v1).count() === 0)
    // a torn head: every read and maintenance commit
    tear(v1)
    corrupt(v1)(t.read(spark))
    corrupt(v1)(t.appendCommit(Seq((7L, "u7")).toDF("id", "s")))
    corrupt(v1)(t.deleteWhere(spark, col("id") === 1L))
    corrupt(v1)(t.compactFiles(spark))
    assert(t.latestVersion().contains(v1))
  }

  test("TagCursor: incremental scan sees new tags, keeps vacuumed ones, matches committedTags") {
    import spark.implicits._
    val t = freshTable()
    val cur = t.tagCursor()
    assert(cur.committedTags() === Set.empty)
    t.commit(Seq((1L, "a")).toDF("id", "s"), tag = Some("batch-0"))
    assert(cur.committedTags() === Set("batch-0"))
    assert(cur.committedTags() === t.committedTags())
    t.appendCommit(Seq((2L, "b")).toDF("id", "s"), Some("batch-1"))
    t.appendCommit(Seq((3L, "c")).toDF("id", "s"), Some("batch-2"))
    assert(cur.committedTags() === Set("batch-0", "batch-1", "batch-2"))
    assert(cur.committedTags() === t.committedTags())
    // a full rewrite breaks the reference chain; vacuum then drops v0-v2.
    // The FRESH scan forgets their tags -- the cursor, by design, does
    // not: a replayed batch whose commit was vacuumed stays skipped.
    t.commit(t.read(spark), tag = Some("batch-3"))
    t.vacuum(keep = 1)
    assert(!t.committedTags().contains("batch-0"))
    val c = cur.committedTags()
    assert(c.contains("batch-0") && c.contains("batch-3"))
  }

  test("stats skipping: files genuinely prune, the pruned read never changes a row") {
    val t = freshTable()
    import spark.implicits._
    // disjoint id spans per file: range partitioning makes min/max bite
    val df = (0L until 800L).map(i => (i, s"s$i", i * 2)).toDF("id", "s", "v")
    val v0 = t.commit(df.repartitionByRange(8, col("id")), statsColumns = Seq("id", "v"))
    val (kept, total) = t.pruneFiles(v0, "id", 100, 199)
    assert(total === 8)
    assert(kept.length < total, s"no file pruned: $kept")
    val inRange = col("id").between(100L, 199L)
    assert(scannedFiles(t.read(spark).filter(inRange)) === kept.length)
    val pruned = t.read(spark).filter(inRange)
    assert(pruned.count() === 100)
    val full = unpruned(t).filter(inRange)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // bounds are INCLUSIVE on both the stats compare and the filter: a
    // range that starts exactly at a file's max keeps that file
    val idsAt = t.read(spark).filter(col("id").between(0L, 0L)).collect()
    assert(idsAt.length === 1 && idsAt.head.getLong(0) === 0L)
    // the second stats column prunes independently
    val (keptV, _) = t.pruneFiles(v0, "v", 0, 50)
    assert(keptV.length < total)
    // an empty range past every max: zero rows, correct schema, no error
    val past = t.read(spark).filter(col("id").between(5000L, 6000L))
    assert(scannedFiles(past) === 0)
    assert(past.count() === 0)
  }

  test("stats skipping: appendCommit carries previous stats at O(batch)") {
    val t = freshTable()
    import spark.implicits._
    val base = (0L until 400L).map(i => (i, i * 2)).toDF("id", "v")
    t.commit(base.repartitionByRange(4, col("id")), statsColumns = Seq("id"))
    val batch = (400L until 600L).map(i => (i, i * 2)).toDF("id", "v")
    val v1 = t.appendCommit(batch.repartitionByRange(2, col("id")), statsColumns = Seq("id"))
    // a range entirely inside the APPENDED span prunes every base file
    val (kept, total) = t.pruneFiles(v1, "id", 450, 499)
    assert(total === 6)
    assert(kept.length === 1, s"expected only one appended file kept: $kept")
    assert(scannedFiles(t.read(spark).filter(col("id").between(450L, 499L))) === 1)
    assert(t.read(spark).filter(col("id").between(450L, 499L)).count() === 50)
    // a range inside the BASE span still prunes via the carried rows
    val (keptBase, _) = t.pruneFiles(v1, "id", 0, 99)
    assert(keptBase.length === 1)
    // whole-table read unaffected
    assert(t.read(spark).count() === 600)
  }

  test("stats skipping: a hive-partitioned commit stats its data files under the partition dirs") {
    val t = freshTable()
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, s"p${i % 2}", i * 3)).toDF("id", "p", "v")
    val v0 = t.commit(
      df.repartitionByRange(4, col("id")), partitionBy = Seq("p"),
      statsColumns = Seq("id"))
    // files live under p=… subdirectories; stats rows key them root-
    // relatively through the hive path, and pruning still bites
    val (kept, total) = t.pruneFiles(v0, "id", 0, 20)
    assert(total > 2 && kept.length < total, s"kept $kept of $total")
    assert(scannedFiles(t.read(spark).filter(col("id").between(0L, 20L))) === kept.length)
    val got = t.read(spark).filter(col("id").between(0L, 20L))
    assert(got.count() === 21)
    // the hive partition column itself has no footprint in the files —
    // no stats rows, keep-all, still correct through the exact filter
    assert(t.pruneFiles(v0, "p", 0, 1)._1.length === total)
  }

  test("stats skipping composes with z-order: BOTH interleaved dimensions prune files") {
    val t = freshTable()
    import spark.implicits._
    // a 32x32 grid, z-order-sorted then range-split: each file holds a
    // z-contiguous block, so its x AND y min/max are both tight — the
    // file-level analogue of x64's row-group pruning claim
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
    val zed = graft.operators.Layout.zOrderKey(grid, Seq("x", "y"), bits = 5)
      .repartitionByRange(16, col("zval"))
      .sortWithinPartitions("zval")
      .select("x", "y")
    val v0 = t.commit(zed, statsColumns = Seq("x", "y"))
    val (keptX, total) = t.pruneFiles(v0, "x", 0, 3)
    val (keptY, _) = t.pruneFiles(v0, "y", 0, 3)
    assert(total === 16)
    assert(keptX.length < total, s"x did not prune: ${keptX.length}/$total")
    assert(keptY.length < total, s"y did not prune: ${keptY.length}/$total")
    assert(scannedFiles(t.read(spark).filter(col("x").between(0L, 3L))) === keptX.length)
    assert(scannedFiles(t.read(spark).filter(col("y").between(0L, 3L))) === keptY.length)
    assert(t.read(spark).filter(col("x").between(0L, 3L)).count() === 4 * 32)
    assert(t.read(spark).filter(col("y").between(0L, 3L)).count() === 4 * 32)
  }

  test("stats skipping: unstatted columns and cross-type ranges read unpruned, never wrong") {
    val t = freshTable()
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"s$i")).toDF("id", "s")
    val v0 = t.commit(df.repartitionByRange(4, col("id")), statsColumns = Seq("id"))
    // a column the committer never opted into: no stats rows, keep-all
    val (keptS, totalS) = t.pruneFiles(v0, "s", 0, 10)
    assert(keptS.length === totalS)
    // and a NUMERIC range against a string-tagged column keeps all too
    val t2 = freshTable()
    val v2 = t2.commit(df.repartitionByRange(4, col("id")), statsColumns = Seq("s"))
    assert(t2.pruneFiles(v2, "s", 0, 10)._1.length === 4)
  }

  test("stats skipping: string columns prune under unsigned UTF-8 order") {
    val t = freshTable()
    import spark.implicits._
    // keys sort like categories; multi-byte rows prove the UTF-8-byte
    // (not UTF-16) comparison — 'é' (0xC3A9) sorts after every ASCII key
    val df = ((0 until 200).map(i => (f"k$i%03d", i.toLong)) :+ (("éxtra", 999L)))
      .toDF("k", "v")
    val v0 = t.commit(df.repartitionByRange(8, col("k")), statsColumns = Seq("k"))
    val (kept, total) = t.pruneFilesString(v0, "k", Some("k010"), Some("k029"))
    assert(total === 8 && kept.length < total, s"kept ${kept.length}/$total")
    val inRange = col("k") >= "k010" && col("k") <= "k029"
    // the plain read's two one-sided conjuncts intersect to the same set
    assert(scannedFiles(t.read(spark).filter(inRange)) === kept.length)
    val pruned = t.read(spark).filter(inRange)
    val full = unpruned(t).filter(inRange)
    assert(pruned.count() === 20)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // the multi-byte key is reachable and bounds are inclusive
    assert(t.read(spark).filter(col("k") >= "é" && col("k") <= "éz").count() === 1)
    // one open side prunes alone: everything from the multi-byte key up
    // lives in the last file
    assert(t.pruneFilesString(v0, "k", Some("é"), None)._1.length === 1)
    assert(scannedFiles(t.read(spark).filter(col("k") > "é")) === 1)
    // a string range against a numeric-tagged column keeps all
    val tNum = freshTable()
    val vN = tNum.commit(df.repartitionByRange(4, col("v")), statsColumns = Seq("v"))
    assert(tNum.pruneFilesString(vN, "v", Some("a"), Some("z"))._1.length === 4)
  }

  test("stats skipping: DATE columns prune through the INT32-days rows") {
    val t = freshTable()
    import spark.implicits._
    val df = (0 until 200).map(i =>
        (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), i.toLong))
      .toDF("d", "v")
    val v0 = t.commit(df.repartitionByRange(8, col("d")), statsColumns = Seq("d"))
    val (kept, total) = t.pruneFiles(
      v0, "d",
      java.time.LocalDate.of(2024, 2, 1).toEpochDay,
      java.time.LocalDate.of(2024, 2, 10).toEpochDay)
    assert(total === 8 && kept.length < total)
    val inRange = col("d").between(
      java.sql.Date.valueOf("2024-02-01"), java.sql.Date.valueOf("2024-02-10"))
    assert(scannedFiles(t.read(spark).filter(inRange)) === kept.length)
    val pruned = t.read(spark).filter(inRange)
    assert(pruned.count() === 10)
    val full = unpruned(t)
      .filter(col("d").between(lit("2024-02-01").cast("date"), lit("2024-02-10").cast("date")))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("stats skipping survives maintenance: deleteWhere and compactFiles stay stats-bearing") {
    val t = freshTable()
    import spark.implicits._
    val base = (0L until 400L).map(i => (i, i * 2)).toDF("id", "v")
    t.commit(base.repartitionByRange(4, col("id")), statsColumns = Seq("id", "v"))
    // delete rewrites ONE file; carried files keep their rows, the
    // rewritten file re-harvests — pruning still bites afterwards
    val v1 = t.deleteWhere(spark, col("id") === 399L)
    val (kept1, total1) = t.pruneFiles(v1, "id", 0, 50)
    assert(kept1.length < total1, s"post-delete pruning dead: ${kept1.length}/$total1")
    assert(scannedFiles(t.read(spark).filter(col("id").between(0L, 50L))) === kept1.length)
    assert(t.read(spark).filter(col("id").between(0L, 50L)).count() === 51)
    assert(t.read(spark).filter(col("id").between(390L, 399L)).count() === 9) // 399 deleted
    // the SECOND stats column survives maintenance too
    assert(t.pruneFiles(v1, "v", 0, 100)._1.length < total1)
    // compaction (everything under the threshold merges to one file):
    // the new file re-harvests, pruning on the result is exact
    val v2 = t.compactFiles(spark, smallBytes = 1L << 30, targetBytes = 1L << 30)
    assert(v2 > v1)
    val (kept2, total2) = t.pruneFiles(v2, "id", 0, 50)
    assert(kept2.length === 1 && total2 === 1)
    assert(t.read(spark).filter(col("id").between(0L, 50L)).count() === 51)
    // and a compaction that merges only SOME files keeps carried rows:
    // append small files, compact, then both spans still prune
    val t3 = freshTable()
    t3.commit(base.repartitionByRange(1, col("id")), statsColumns = Seq("id"))
    t3.appendCommit((400L until 500L).map(i => (i, i)).toDF("id", "v")
      .repartitionByRange(2, col("id")), statsColumns = Seq("id"))
    val bigBytes = new java.io.File(
      t3.manifest(t3.latestVersion().get).get.head.stripPrefix("file:")).length()
    // threshold between the small appended files and the big base file
    val v3 = t3.compactFiles(spark, smallBytes = bigBytes, targetBytes = 1L << 30)
    val (kept3, total3) = t3.pruneFiles(v3, "id", 450, 460)
    assert(kept3.length < total3)
    assert(scannedFiles(t3.read(spark).filter(col("id").between(450L, 460L))) === kept3.length)
    assert(t3.read(spark).filter(col("id").between(450L, 460L)).count() === 11)
  }

  test("stats skipping: NaN bounds emit no row — the file is kept, never wrongly skipped") {
    val t = freshTable()
    import spark.implicits._
    // file A: clean doubles 0..9; file B: 1000..1009 plus a NaN row.
    // parquet's comparator surfaces NaN as B's max — without the guard
    // the sidecar would claim B ⊆ [1000, NaN] and `NaN >= lo` would skip
    // B for EVERY range; with it, B has no row and is always kept
    val a = (0 until 10).map(i => (i.toLong, i.toDouble))
    val b = (0 until 10).map(i => (100L + i, 1000.0 + i)) :+ ((999L, Double.NaN))
    t.commit(a.toDF("id", "x").coalesce(1), statsColumns = Seq("x"))
    val v0 = t.appendCommit(b.toDF("id", "x").coalesce(1), statsColumns = Seq("x"))
    val (kept, total) = t.pruneFiles(v0, "x", 1000, 1010)
    assert(total === 2)
    // A prunes (clean stats exclude it); B is kept despite having no row
    assert(kept.length === 1)
    assert(scannedFiles(t.read(spark).filter(col("x").between(1000.0, 1010.0))) === 1)
    assert(t.read(spark).filter(col("x").between(1000.0, 1010.0)).count() === 10)
    // a range matching only A keeps BOTH (B unprunable without stats)
    assert(t.pruneFiles(v0, "x", 0, 9)._1.length === 2)
  }

  test("stats skipping: a corrupt sidecar line degrades to keep, not an exception") {
    val t = freshTable()
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, i * 2)).toDF("id", "v")
    val v0 = t.commit(df.repartitionByRange(4, col("id")), statsColumns = Seq("id"))
    // vandalize the sidecar: numeric garbage on one line, a truncated line
    val statsFile = statsFileOf(t, v0)
    val lines = new String(java.nio.file.Files.readAllBytes(statsFile), "UTF-8").split("\n")
    val mangled = lines.zipWithIndex.map {
      case (l, 0) => l.split("\t").patch(3, Seq("not-a-number"), 1).mkString("\t")
      case (l, 1) => l.split("\t").take(2).mkString("\t")
      case (l, _) => l
    }
    java.nio.file.Files.write(statsFile, mangled.mkString("\n").getBytes("UTF-8"))
    // pruning still runs: corrupt rows' files are kept, clean rows prune
    val (kept, total) = t.pruneFiles(v0, "id", 0, 10)
    assert(kept.length < total && kept.nonEmpty)
    assert(scannedFiles(t.read(spark).filter(col("id").between(0L, 10L))) === kept.length)
    assert(t.read(spark).filter(col("id").between(0L, 10L)).count() === 11)
  }

  test("bloom skipping: point reads prune where min/max cannot, and never drop a match") {
    val t = freshTable()
    import spark.implicits._
    // hash-clustered layout: every file's id [min, max] spans ~the whole
    // domain, so the range rung is useless for id points — bloom's case
    val df = (0L until 800L).map(i => (i, s"k${i % 13}", i * 2)).toDF("id", "s", "v")
    val v0 = t.commit(
      df.repartition(8, col("s")), statsColumns = Seq("id"), bloomColumns = Seq("id"))
    val probes = Seq(3L, 411L, 777L)
    // min/max alone keeps everything (overlapping spans)...
    val keptRange = probes.map(p => t.pruneFiles(v0, "id", p, p)._1.toSet).reduce(_ union _)
    assert(keptRange.size === 8, "fixture broken: ranges were supposed to overlap")
    // ...bloom prunes the same point set
    val (kept, total) = t.pruneFilesIn(v0, "id", probes)
    assert(total === 8)
    assert(kept.length < total, s"bloom pruned nothing: $kept")
    // no false negative: every file that ACTUALLY holds a probed id survives
    val holding = t.read(spark).filter(col("id").isin(probes: _*))
      .select(input_file_name()).distinct().collect()
      .map(r => java.nio.file.Paths.get(new java.net.URI(r.getString(0))).toString).toSet
    assert(holding.subsetOf(kept.toSet), "bloom dropped a file holding a probed value")
    // the plain IN read prunes to the same files and is row-identical to
    // an unpruned read
    assert(scannedFiles(t.read(spark).filter(col("id").isin(probes: _*))) === kept.length)
    val pruned = t.read(spark).filter(col("id").isin(probes: _*))
    val full = unpruned(t).filter(col("id").isin(probes: _*))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // a probe set matching nothing: zero rows, no error
    assert(t.read(spark).filter(col("id").isin(100000L)).count() === 0)
  }

  test("bloom skipping: rows carry through appendCommit and re-harvest through compaction") {
    val t = freshTable()
    import spark.implicits._
    val base = (0L until 400L).map(i => (i, s"k${i % 7}")).toDF("id", "s")
    t.commit(base.repartition(6, col("s")), statsColumns = Seq("id"), bloomColumns = Seq("id"))
    val batch = (400L until 500L).map(i => (i, s"k${i % 7}")).toDF("id", "s")
    val v1 = t.appendCommit(
      batch.repartition(2, col("s")), statsColumns = Seq("id"), bloomColumns = Seq("id"))
    // carried base rows AND fresh batch rows both serve the point prune
    val (kept1, total1) = t.pruneFilesIn(v1, "id", Seq(5L, 450L))
    assert(kept1.length < total1)
    assert(scannedFiles(t.read(spark).filter(col("id").isin(5L, 450L))) === kept1.length)
    assert(t.read(spark).filter(col("id").isin(5L, 450L)).count() === 2)
    // compaction rewrites the small files — propagateStats must re-harvest
    // bloom rows for the rewritten output, not silently drop the rung
    val v2 = t.compactFiles(spark)
    assert(v2 > v1, "fixture files were supposed to be small enough to compact")
    val probes2 = Seq(17L, 471L)
    val (kept2, total2) = t.pruneFilesIn(v2, "id", probes2)
    assert(total2 > 0)
    assert(scannedFiles(t.read(spark).filter(col("id").isin(probes2: _*))) === kept2.length)
    val pruned2 = t.read(spark).filter(col("id").isin(probes2: _*))
    val full2 = unpruned(t).filter(col("id").isin(probes2: _*))
    assert(pruned2.exceptAll(full2).isEmpty && full2.exceptAll(pruned2).isEmpty)
    assert(pruned2.count() === 2)
    // the rewritten snapshot still carries `b` rows (the rung stayed ON)
    val statsFile = statsFileOf(t, v2)
    val lines = new String(java.nio.file.Files.readAllBytes(statsFile), "UTF-8").split("\n")
    assert(lines.exists(_.split("\t").lift(2).contains("b")), "compaction dropped bloom rows")
  }

  test("readAsOf: timestamp time travel resolves the newest snapshot at or before the cutoff") {
    val t = freshTable()
    import spark.implicits._
    val before = java.time.Instant.now().minusSeconds(60)
    t.commit(Seq((1L, "a")).toDF("id", "s"))
    Thread.sleep(5) // publish clocks are millis; separate the two commits
    val mid = java.time.Instant.now()
    Thread.sleep(5)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // between the two commits: the first snapshot serves
    assert(t.readAsOf(spark, mid).count() === 1)
    // now: the head serves
    assert(t.readAsOf(spark, java.time.Instant.now()).count() === 2)
    // before any commit: a named error, like reading a never-committed table
    val e = intercept[IllegalStateException](t.readAsOf(spark, before))
    assert(e.getMessage.contains("no snapshot published"))
  }

  test("schema contract: drifted appends are refused by name; the table stays unchanged") {
    val t = freshTable()
    import spark.implicits._
    val v0 = t.commit(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "v"))
    // batch missing a previous column: always refused
    val eMissing = intercept[IllegalArgumentException] {
      t.appendCommit(Seq((3L, "c")).toDF("id", "s"))
    }
    assert(eMissing.getMessage.contains("v") && eMissing.getMessage.contains("missing"))
    // batch retyping a shared column: always refused
    val eRetyped = intercept[IllegalArgumentException] {
      t.appendCommit(Seq((3L, "c", "oops")).toDF("id", "s", "v"))
    }
    assert(eRetyped.getMessage.contains("retypes"))
    // batch adding a column without the opt-in: refused, names the column
    val eAdded = intercept[IllegalArgumentException] {
      t.appendCommit(Seq((3L, "c", 30L, 0.5)).toDF("id", "s", "v", "w"))
    }
    assert(eAdded.getMessage.contains("w") && eAdded.getMessage.contains("allowEvolution"))
    // nothing published: the failed appends left no new version
    assert(t.latestVersion().contains(v0))
    assert(t.read(spark).count() === 2)
  }

  test("schema evolution: an opted-in widened append reads unified, old rows NULL-filled") {
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.appendCommit(
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "s", "v"), allowEvolution = true)
    val r = t.read(spark)
    assert(r.columns.toSeq === Seq("id", "s", "v"))
    val rows = r.orderBy("id").collect()
    assert(rows.length === 4)
    assert(rows.take(2).forall(_.isNullAt(2)), "pre-evolution rows must read NULL in v")
    assert(rows(2).getLong(2) === 30L && rows(3).getLong(2) === 40L)
    // a FURTHER same-schema append needs no opt-in and keeps the unified read
    t.appendCommit(Seq((5L, "e", 50L)).toDF("id", "s", "v"))
    assert(t.read(spark).count() === 5)
    assert(t.read(spark).filter(col("v").isNull).count() === 2)
  }

  test("schema evolution survives maintenance and diffs without spurious deltas") {
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "a"), (2L, "b"), (3L, "x")).toDF("id", "s"))
    val v1 = t.appendCommit(
      Seq((4L, "d", 40L)).toDF("id", "s", "v"), allowEvolution = true)
    // deleteWhere on a PRE-evolution row: the rewrite re-materializes the
    // unified schema (a schema-less read would seed from one file and
    // could drop v from the rewritten output entirely)
    val v2 = t.deleteWhere(spark, col("s") === "x")
    assert(v2 > v1)
    val r = t.read(spark)
    assert(r.columns.toSeq === Seq("id", "s", "v"))
    assert(r.count() === 3 && r.filter(col("v").isNull).count() === 2)
    // compaction keeps the unified schema too
    val v3 = t.compactFiles(spark)
    if (v3 > v2) {
      assert(t.read(spark).columns.toSeq === Seq("id", "s", "v"))
      assert(t.read(spark).count() === 3)
    }
    // CDC across the evolution boundary: pre-evolution rows equal in
    // their original columns are NOT spurious deltas — only the genuine
    // insert (and the later delete) surface
    val d01 = t.diffVersions(spark, 0L, v1).collect()
    assert(d01.length === 1 && d01.head.getString(d01.head.length - 1) === "insert")
    val d12 = t.diffVersions(spark, v1, v2)
      .select(col("s"), col("change")).collect().map(r2 => (r2.getString(0), r2.getString(1)))
    assert(d12.toSet === Set(("x", "delete")))
  }

  test("bloom skipping: string columns probe via UTF-8 hashing; wrong-typed probes keep all") {
    val t = freshTable()
    import spark.implicits._
    // id-clustered layout: each file holds a contiguous id span but a
    // near-arbitrary set of category strings — the string-point case
    val df = (0L until 800L).map(i => (i, s"cat${(i * 7919) % 397}")).toDF("id", "s")
    val v0 = t.commit(
      df.repartitionByRange(8, col("id")), bloomColumns = Seq("s"))
    val probes = Seq("cat5", "cat41")
    val (kept, total) = t.pruneFilesInStrings(v0, "s", probes)
    assert(total === 8)
    assert(kept.length < total, s"string bloom pruned nothing: $kept")
    assert(scannedFiles(t.read(spark).filter(col("s").isin(probes: _*))) === kept.length)
    val pruned = t.read(spark).filter(col("s").isin(probes: _*))
    val full = unpruned(t).filter(col("s").isin(probes: _*))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    assert(pruned.count() === full.count() && full.count() > 0)
    // a NUMERIC point probe against the string-kind bloom row must keep
    // every file (kind mismatch degrades, never prunes on a wrong hash)
    val (keptNum, _) = t.pruneFilesIn(v0, "s", Seq(5L))
    assert(keptNum.length === total)
  }

  test("bloom skipping: a corrupt bloom payload degrades to keep, and range prunes ignore b rows") {
    val t = freshTable()
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, s"k${i % 5}")).toDF("id", "s")
    val v0 = t.commit(
      df.repartition(4, col("s")), statsColumns = Seq("id"), bloomColumns = Seq("id"))
    // vandalize every bloom payload: not valid base64
    val statsFile = statsFileOf(t, v0)
    val lines = new String(java.nio.file.Files.readAllBytes(statsFile), "UTF-8").split("\n")
    val mangled = lines.map { l =>
      val p = l.split("\t")
      if (p.lift(2).contains("b")) p.patch(3, Seq("%%%not-base64%%%"), 1).mkString("\t") else l
    }
    java.nio.file.Files.write(statsFile, mangled.mkString("\n").getBytes("UTF-8"))
    // corrupt bloom rows keep their files — the read stays correct
    val (kept, total) = t.pruneFilesIn(v0, "id", Seq(42L))
    assert(kept.length === total)
    assert(scannedFiles(t.read(spark).filter(col("id") === 42L)) === total)
    assert(t.read(spark).filter(col("id") === 42L).count() === 1)
    // and a RANGE read over the same column never consults b rows at all
    assert(t.read(spark).filter(col("id").between(40L, 44L)).count() === 5)
  }

  /** Spec-side mirror of the harvest/probe position arithmetic — used to
    * forge a row from a FOREIGN writer with a different probe count k,
    * which the table's own API can never produce (BloomK is fixed).
    */
  private def kmPositions(value: Long, bits: Int, k: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    def h(seed: Long): Long = XxHash64Function.hash(value, LongType, seed)
    val h1 = Math.floorMod(h(42L), bits.toLong)
    val h2 = Math.floorMod(h(XxHash64Function.hash(1L, LongType, 42L)), bits.toLong)
    (0 until k).map(i => Math.floorMod(h1 + i.toLong * h2, bits.toLong).toInt)
  }

  test("bloom skipping: the probe honors the ROW's recorded k; a bad k degrades to keep") {
    val t = freshTable()
    import spark.implicits._
    // committed with stats so its record names a `_stats` file to forge
    val v0 = t.commit(Seq((7L, "a"), (8L, "b")).toDF("id", "s").coalesce(1),
      statsColumns = Seq("id"))
    val rel = java.nio.file.Paths.get(t.root)
      .relativize(java.nio.file.Paths.get(t.manifest(v0).get.head)).toString
    val bits = 1 << 16
    // fixture sanity: a k=3 writer's positions must be a strict prefix of
    // the k=7 probe's, else this test cannot discriminate the two probes
    assert(kmPositions(7L, bits, 7).toSet.size > kmPositions(7L, bits, 3).toSet.size)
    // forge a row written by a k=3 writer: ONLY value 7's first 3
    // Kirsch–Mitzenmacher positions are set
    val bs = new java.util.BitSet(bits)
    kmPositions(7L, bits, 3).foreach(bs.set)
    val b64 = java.util.Base64.getEncoder.encodeToString(bs.toByteArray)
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def writeRow(params: String): Unit = java.nio.file.Files.write(
      statsFileOf(t, v0),
      s"$rel\tid\tb\t${enc(b64)}\t${enc(params)}".getBytes("UTF-8"))
    writeRow(s"$bits:3:l")
    // probing value 7 with the ROW's k=3 admits the file; a probe that
    // ignored the recorded k and used the writer constant 7 would test
    // positions the k=3 writer never set — a FALSE NEGATIVE (file
    // wrongly pruned, the round-13 ADVICE class)
    assert(t.pruneFilesIn(v0, "id", Seq(7L))._1.length === 1,
      "recorded-k probe wrongly pruned the file holding the value")
    assert(t.read(spark).filter(col("id") === 7L).count() === 1)
    // the k=3 bloom still PRUNES genuine misses (it is a working filter)
    assert(t.pruneFilesIn(v0, "id", Seq(99999L))._1.isEmpty)
    // absent / zero / negative / unparseable k: degrade to keep, never throw
    Seq(s"$bits", s"$bits:", s"$bits:0:l", s"$bits:-2:l", s"$bits:x:l").foreach { params =>
      writeRow(params)
      assert(t.pruneFilesIn(v0, "id", Seq(99999L))._1.length === 1,
        s"params '$params' should degrade to keep")
    }
  }

  test("readAsOf never serves an orphan (written-but-unpublished) version") {
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "a")).toDF("id", "s"))
    // a crash after v1's record is written, before it is linked: v=1 sits
    // on disk with a timestamped temp record, and v0 is the head
    CrashPoint.crashAfter(t, "record")(t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")))
    assert(t.latestVersion().contains(0L))
    // timestamp time travel resolves over PUBLISHED versions only
    assert(t.readAsOf(spark, java.time.Instant.now()).count() === 1)
  }

  test("readAsOf never serves an orphan sitting BELOW a later published head") {
    // a crashed attempt at v1, FOLLOWED by a later successful commit, leaves
    // the orphan's timestamped data at or below the head: only records
    // publish, so the orphan stays invisible to timestamp time travel
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "a")).toDF("id", "s")) // v0, published
    Thread.sleep(5)
    CrashPoint.crashAfter(t, "record")(t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")))
    val orphanTs = System.currentTimeMillis()
    Thread.sleep(5)
    // the NEXT commit publishes v1 from its own directory
    t.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    assert(t.latestVersion().contains(1L))
    assert(t.readAsOf(spark, java.time.Instant.now()).count() === 3)
    val v1Ts = t.commitTimestamp(1L).get
    assert(orphanTs < v1Ts, "fixture needs distinct clocks; raise the sleeps")
    // a cutoff between the orphan's record time and v1's publish serves v0
    val mid = java.time.Instant.ofEpochMilli(v1Ts - 1)
    assert(t.readAsOf(spark, mid).count() === 1,
      "timestamp time travel served the never-published orphan")
  }

  test("readAsOf never serves a FIRST-commit orphan below the first history record") {
    // the first commit crashes after its record is written; the next
    // successful commit publishes v0: no cutoff before it may serve the
    // orphan
    val t = freshTable()
    import spark.implicits._
    CrashPoint.crashAfter(t, "record")(t.commit(Seq((1L, "a")).toDF("id", "s")))
    val orphanTs = System.currentTimeMillis()
    Thread.sleep(5)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v0
    assert(t.readAsOf(spark, java.time.Instant.now()).count() === 2)
    val v0Ts = t.commitTimestamp(0L).get
    assert(orphanTs < v0Ts, "fixture needs distinct clocks")
    intercept[IllegalStateException](t.readAsOf(spark, java.time.Instant.ofEpochMilli(v0Ts - 1)))
  }

  test("diffVersions: a later full commit with NEW columns never reads through an older _schema") {
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "a")).toDF("id", "s"))
    val v1 = t.appendCommit(
      Seq((2L, "b", 20L)).toDF("id", "s", "v"), allowEvolution = true)
    // a FULL commit whose rows match v1 exactly in (id, s, v) but add
    // column w — a read of BOTH sides through v1's schema would project w
    // away and report ZERO deltas for a version that demonstrably
    // changed. v2's recorded schema holds every column of v1's, so both
    // sides read through it: every row changed, with w attached
    val v2 = t.commit(
      Seq((1L, "a", Option.empty[Long], 0.5), (2L, "b", Option(20L), 0.7))
        .toDF("id", "s", "v", "w"))
    val d = t.diffVersions(spark, v1, v2)
    assert(d.columns.toSeq === Seq("id", "s", "v", "w", "change"))
    assert(d.collect().map(r => (r.getLong(0), Option(r.get(3)), r.getString(4))).toSet === Set(
      (1L, None, "delete"), (2L, None, "delete"), (1L, Some(0.5), "insert"), (2L, Some(0.7), "insert")))
    // a full commit that drops v and w and adds x: neither schema holds
    // the other, no change feed is defined, and the diff fails by name
    val v3 = t.commit(Seq((1L, "a", 1.0)).toDF("id", "s", "x"))
    val e = intercept[IllegalArgumentException](t.diffVersions(spark, v2, v3).collect())
    assert(e.getMessage.contains("neither snapshot's schema holds"))
  }

  test("stats skipping: a prune on an evolution-added column keeps every pre-evolution file") {
    val t = freshTable()
    import spark.implicits._
    val base = (0L until 100L).map(i => (i, s"s${i % 5}")).toDF("id", "s")
    t.commit(base.repartitionByRange(2, col("id")), statsColumns = Seq("id"))
    val batch = (100L until 200L).map(i => (i, s"s${i % 5}", i * 3)).toDF("id", "s", "n")
    val v1 = t.appendCommit(
      batch.repartitionByRange(2, col("id")),
      statsColumns = Seq("id", "n"), allowEvolution = true)
    // pre-evolution files carry NO stats rows for the added column (their
    // footers never saw it; their rows read as all-NULL) — the no-row
    // default must KEEP them, else rows vanish from IS NULL consumers
    val (kept, total) = t.pruneFiles(v1, "n", 300, 400)
    assert(total === 4)
    val preEvo = t.manifest(v1).get.filter(_.contains("v=0"))
    assert(preEvo.nonEmpty && preEvo.forall(kept.contains), "a pre-evolution file was pruned")
    // ...while the range DOES prune post-evolution files outside it
    assert(kept.length < total)
    // NULL never matches the range read; the rows are still in the table
    assert(scannedFiles(t.read(spark).filter(col("n").between(300L, 400L))) === kept.length)
    assert(t.read(spark).filter(col("n").between(300L, 400L)).count() === 34)
    assert(t.read(spark).filter(col("n").isNull).count() === 100)
  }

  test("bloom skipping: a multi-column opt-in harvests ONE scan's rows for every column") {
    val t = freshTable()
    import spark.implicits._
    // category-clustered: each file holds whole categories (so `s` blooms
    // prune) and a near-arbitrary id set (so `id` blooms prune)
    val df = (0L until 600L).map(i => (i, s"cat${(i * 7919) % 211}")).toDF("id", "s")
    val v0 = t.commit(df.repartition(6, col("s")), bloomColumns = Seq("id", "s"))
    val statsFile = statsFileOf(t, v0)
    val lines = new String(java.nio.file.Files.readAllBytes(statsFile), "UTF-8").split("\n")
    assert(lines.count(l => l.split("\t").lift(1).contains("id")) === 6)
    assert(lines.count(l => l.split("\t").lift(1).contains("s")) === 6)
    val (keptId, totalId) = t.pruneFilesIn(v0, "id", Seq(11L))
    assert(totalId === 6 && keptId.length < totalId)
    val (keptS, totalS) = t.pruneFilesInStrings(v0, "s", Seq("cat7"))
    assert(totalS === 6 && keptS.length < totalS)
    // both plain point reads prune to those files and are row-identical
    // to unpruned reads
    assert(scannedFiles(t.read(spark).filter(col("id") === 11L)) === keptId.length)
    assert(scannedFiles(t.read(spark).filter(col("s") === "cat7")) === keptS.length)
    val idPruned = t.read(spark).filter(col("id") === 11L)
    val idFull = unpruned(t).filter(col("id") === 11L)
    assert(idPruned.exceptAll(idFull).isEmpty && idFull.exceptAll(idPruned).isEmpty)
    val sPruned = t.read(spark).filter(col("s") === "cat7")
    val sFull = unpruned(t).filter(col("s") === "cat7")
    assert(sPruned.exceptAll(sFull).isEmpty && sFull.exceptAll(sPruned).isEmpty)
    assert(sFull.count() > 0)
  }

  test("integrated read path: a PLAIN read().filter() prunes files through the FileIndex") {
    val t = freshTable()
    import spark.implicits._
    val df0 = (0L until 800L).map(i => (i, s"s${i % 7}", i * 2)).toDF("id", "s", "v")
    t.commit(
      df0.filter(col("id") < 600).repartitionByRange(6, col("id")),
      statsColumns = Seq("id", "s"))
    t.appendCommit(
      df0.filter(col("id") >= 600).repartitionByRange(2, col("id")),
      statsColumns = Seq("id", "s"))
    // numeric range: the pushed filter reaches the index and drops files
    val ranged = t.read(spark).filter(col("id") >= 100L && col("id") <= 249L)
    assert(scannedFiles(ranged) < 8, "plain range read scanned every file")
    assert(ranged.collect().map(_.getLong(0)).sorted === (100L to 249L).toArray)
    // point predicate (IN) prunes too, and never drops a match
    val points = t.read(spark).filter(col("id").isin(5L, 650L))
    assert(scannedFiles(points) < 8)
    assert(points.count() === 2)
    // an UNTRANSLATABLE predicate (arithmetic over the column) keeps
    // every file — degrade to an unpruned scan, results exact
    val hard = t.read(spark).filter((col("id") + 1) === 101L)
    assert(scannedFiles(hard) === 8)
    assert(hard.count() === 1)
    // a conjunction composes: the translatable conjunct still prunes
    val mixed = t.read(spark).filter(col("id") <= 99L && length(col("s")) === 2)
    assert(scannedFiles(mixed) < 8)
    assert(mixed.count() === 100)
    // a DISJUNCTION is not a conjunct: untranslated, keeps all, rows exact
    val orred = t.read(spark).filter(col("id") === 5L || col("id") === 790L)
    assert(orred.count() === 2)
    // a NULL literal inside an IN list poisons nothing: the list skips
    // translation entirely (NULL never matches, but pruning must not
    // assume that) and the read stays correct
    assert(t.read(spark).filter(col("id").isin(5L)
      || col("id").isNull).count() === 1)
  }

  test("integrated read path: non-finite double literals refuse translation (keep-all)") {
    // the round-14 ADVICE low: floor(NaN).toLong == 0, so a pushed
    // `x = NaN` used to prune on the meaningless range [0,0] — masked
    // only by harvestStats dropping NaN-bounded d rows (the NaN-bearing
    // file had no stats row and was kept by the missing-row rule, a
    // non-local coupling). Translation now refuses non-finite literals
    // outright: EVERY file is kept, locally and obviously.
    val t = freshTable()
    import spark.implicits._
    val df = ((0 until 100).map(i => (i.toLong, i.toDouble)) :+ (100L, Double.NaN))
      .toDF("id", "x")
    t.commit(df.repartitionByRange(4, col("id")), statsColumns = Seq("x"))
    // finite double range still prunes through the widened long range
    val fin = t.read(spark).filter(col("x") >= 10.0 && col("x") <= 19.0)
    assert(scannedFiles(fin) < 4, "finite double range pruned nothing")
    assert(fin.count() === 10)
    // Spark SQL: NaN = NaN is TRUE — the NaN row must come back, via a
    // keep-all scan (pre-fix this scanned 2 files: [0,0] plus the
    // stats-row-less NaN file)
    val nanEq = t.read(spark).filter(col("x") === Double.NaN)
    assert(scannedFiles(nanEq) === 4, "NaN literal must degrade to keep-all")
    assert(nanEq.count() === 1)
    // NaN sorts greatest: x >= NaN matches only the NaN row — keep-all, exact
    val nanGe = t.read(spark).filter(col("x") >= Double.NaN)
    assert(scannedFiles(nanGe) === 4)
    assert(nanGe.count() === 1)
  }

  test("integrated read path: DATE and TIMESTAMP predicates prune through their l rows") {
    val t = freshTable()
    import spark.implicits._
    val df = (0 until 200).map { i =>
      (i.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(i)),
        java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(i * 3600L)))
    }.toDF("id", "d", "ts")
    t.commit(df.repartitionByRange(4, col("id")), statsColumns = Seq("d", "ts"))
    // DATE range through the plain read: literal days meet the INT32-days rows
    val byDate = t.read(spark).filter(
      col("d") >= java.sql.Date.valueOf("2026-01-11") &&
        col("d") <= java.sql.Date.valueOf("2026-02-09"))
    assert(scannedFiles(byDate) < 4, "date range pruned nothing")
    assert(byDate.count() === 30)
    // TIMESTAMP range: literal micros meet the INT64-micros rows
    val byTs = t.read(spark).filter(
      col("ts") < java.sql.Timestamp.from(java.time.Instant.parse("2026-01-02T00:00:00Z")))
    assert(scannedFiles(byTs) < 4, "timestamp range pruned nothing")
    assert(byTs.count() === 24)
  }

  test("integrated read path: bloom + string rungs serve plain filters; evolution reads stay unified") {
    val t = freshTable()
    import spark.implicits._
    // hash-clustered layout (min/max useless for id points) + bloom rows
    val df = (0L until 800L).map(i => (i, s"k${i % 13}")).toDF("id", "s")
    t.commit(df.repartition(8, col("s")), statsColumns = Seq("s"), bloomColumns = Seq("id", "s"))
    val viaBloom = t.read(spark).filter(col("id").isin(3L, 411L, 777L))
    assert(scannedFiles(viaBloom) < 8, "plain IN read did not engage the bloom rung")
    assert(viaBloom.count() === 3)
    // string equality prunes through the string-kind bloom rows (each
    // file holds whole categories under the hash-clustered layout, so
    // k5 lives in exactly one file and the others' blooms exclude it)
    val str = t.read(spark).filter(col("s") === "k5")
    assert(scannedFiles(str) < 8, "plain string-point read did not engage the bloom rung")
    assert(str.count() === 62) // ids 5, 18, ..., 798: 62 of 800
    // evolution: the added column NULL-fills through the INDEXED read,
    // and pruning on it keeps pre-evolution files (ask #4 through the
    // integrated path)
    val t2 = freshTable()
    t2.commit((0L until 100L).map(i => (i, s"x$i")).toDF("id", "s").coalesce(2),
      statsColumns = Seq("id"))
    t2.appendCommit(
      (100L until 200L).map(i => (i, s"x$i", i * 3)).toDF("id", "s", "n")
        .repartitionByRange(2, col("id")),
      statsColumns = Seq("id", "n"), allowEvolution = true)
    val evolved = t2.read(spark)
    assert(evolved.columns.toSeq === Seq("id", "s", "n"))
    assert(evolved.filter(col("n").isNull).count() === 100)
    val onAdded = t2.read(spark).filter(col("n") >= 300L && col("n") <= 400L)
    assert(onAdded.count() === 34)
    // pre-evolution files are kept (no stats rows for n), one post-
    // evolution file prunes: 2 + 1 scanned of 4
    assert(scannedFiles(onAdded) === 3)
  }

  test("integrated read path: partitioned snapshots compose partition pruning AND stats skipping in ONE scan") {
    val t = freshTable()
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, s"b${i % 3}", s"u$i")).toDF("id", "branch", "s")
    t.commit(
      df.filter(col("id") < 200).repartitionByRange(2, col("id")),
      partitionBy = Seq("branch"), statsColumns = Seq("id"))
    t.appendCommit(df.filter(col("id") >= 200).repartitionByRange(1, col("id")),
      statsColumns = Seq("id"))
    val total = t.manifest(t.latestVersion().get).get.size
    assert(total >= 9, s"fixture expected >=9 files, got $total") // 2x3 + 1x3 dirs
    // the cross-directory partitioned chain reads as ONE scan, no union
    val all = t.read(spark)
    assert(all.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.length === 1, "partitioned chain read is not a single integrated scan")
    assert(all.count() === 300)
    // each pruning measurement on a FRESH frame: a FileSourceScanExec's
    // numFiles metric is populated when its lazy file listing first
    // resolves and is not re-posted on a re-collect of the same plan
    // partition pruning through the plain read: only b1's files scan
    val filesPart = scannedFiles(t.read(spark).filter(col("branch") === "b1"))
    assert(filesPart < total, "partition filter pruned nothing")
    assert(t.read(spark).filter(col("branch") === "b1").count() === 100)
    // stats skipping through the plain read: the id range prunes files
    val filesStats = scannedFiles(t.read(spark).filter(col("id") <= 49L))
    assert(filesStats < total, "stats range pruned nothing")
    assert(t.read(spark).filter(col("id") <= 49L).count() === 50)
    // and they COMPOSE: both pruning walks apply to one listing
    val filesBoth =
      scannedFiles(t.read(spark).filter(col("branch") === "b1" && col("id") <= 49L))
    assert(filesBoth <= math.min(filesPart, filesStats))
    assert(t.read(spark)
      .filter(col("branch") === "b1" && col("id") <= 49L).count() === 17) // ids 1,4,...,49
    // time travel keeps the same integrated behavior on the pinned era
    assert(t.readVersion(spark, 0L).filter(col("branch") === "b2").count() === 66)
  }

  test("partitioned chain: appendCommit continues after deleteWhere/compactFiles maintenance") {
    val t = freshTable()
    import spark.implicits._
    t.commit(
      (1L to 30L).map(i => (i, s"b${i % 3}")).toDF("id", "branch"),
      partitionBy = Seq("branch"))
    t.appendCommit((31L to 60L).map(i => (i, s"b${i % 3}")).toDF("id", "branch"))
    t.deleteWhere(spark, col("id") % 10 === 0L)
    // the chain keeps appending AFTER a maintenance rewrite: keys still
    // derive, the schema recorded by the delete still reads the carried
    // files, and the new batch lands under the same hive layout
    val v = t.appendCommit((61L to 70L).map(i => (i, s"b${i % 3}")).toDF("id", "branch"))
    assert(t.read(spark).count() === 64) // 60 - 6 victims + 10
    assert(t.read(spark).filter(col("branch") === "b0").count() ===
      (1L to 70L).count(i => i % 3 == 0 && !(i % 10 == 0 && i <= 60)))
    val vc = t.compactFiles(spark, smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    assert(vc > v)
    assert(t.read(spark).count() === 64)
    // still one integrated scan after the whole maintenance history
    assert(t.read(spark).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.length === 1)
  }

  test("vacuumOlderThan: drops snapshots published before the cutoff, keeps the floor and references") {
    val t = freshTable()
    import spark.implicits._
    t.commit(Seq((1L, "a")).toDF("id", "s")) // v0
    Thread.sleep(5)
    val mid = java.time.Instant.now()
    Thread.sleep(5)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v1
    t.commit(Seq((3L, "c")).toDF("id", "s"))            // v2 (head)
    // cutoff between v0 and v1: only v0 is old enough to reclaim
    t.vacuumOlderThan(mid)
    assert(t.versions() === Seq(1L, 2L))
    assert(t.read(spark).count() === 1)
    // a cutoff in the future cannot take the head, and `keep` floors
    // the newest snapshots regardless of age
    t.vacuumOlderThan(java.time.Instant.now().plusSeconds(3600), keep = 2)
    assert(t.versions() === Seq(1L, 2L))
    t.vacuumOlderThan(java.time.Instant.now().plusSeconds(3600), keep = 1)
    assert(t.versions() === Seq(2L))

    // referenced ancestors of an append chain survive ANY cutoff while
    // a retained head still references their files
    val t2 = freshTable()
    t2.commit(Seq((1L, "a")).toDF("id", "s"))      // v0
    t2.appendCommit(Seq((2L, "b")).toDF("id", "s")) // v1 refs v0
    t2.vacuumOlderThan(java.time.Instant.now().plusSeconds(3600), keep = 1)
    assert(t2.versions() === Seq(0L, 1L))
    assert(t2.read(spark).count() === 2)
  }

  test("null-count rung: IS NOT NULL / IS NULL prune through the plain read; no n row keeps") {
    val t = freshTable()
    import spark.implicits._
    // base era: the column exists but is ALL NULL (backfill pending) —
    // no ordered bounds possible, so before the n rung these files were
    // unprunable exactly when provably useless
    t.commit(
      (0L until 100L).map(i => (i, s"u$i")).toDF("id", "s")
        .select(col("id"), col("s"), lit(null).cast("long").as("v"))
        .coalesce(2),
      statsColumns = Seq("v"))
    t.appendCommit(
      (100L until 200L).map(i => (i, s"u$i", i * 2)).toDF("id", "s", "v").coalesce(2),
      statsColumns = Seq("v"))
    val total = t.manifest(t.latestVersion().get).get.size
    // IS NOT NULL: the all-null era's files drop at plan time
    val notNull = t.read(spark).filter(col("v").isNotNull)
    assert(scannedFiles(notNull) <= total - 2, "all-null files were not pruned")
    assert(notNull.count() === 100)
    // the inferred-IsNotNull composition: an ordinary range filter on v
    // also skips the all-null era (Catalyst adds isnotnull(v) for free)
    val ranged = t.read(spark).filter(col("v") >= 300L)
    assert(scannedFiles(ranged) <= total - 2)
    assert(ranged.count() === 50)
    // IS NULL: the value-bearing era's null-free files drop
    val isNull = t.read(spark).filter(col("v").isNull)
    assert(scannedFiles(isNull) <= total - 2, "null-free files were not pruned")
    assert(isNull.count() === 100)
    // a column with no n rows (never in statsColumns) keeps everything
    val (keptS, totalS) = t.pruneFilesNotNull(t.latestVersion().get, "s")
    assert(keptS.length === totalS)
    // and the prune APIs agree with the reads
    assert(t.pruneFilesNotNull(t.latestVersion().get, "v")._1.size <= total - 2)
    assert(t.pruneFilesNull(t.latestVersion().get, "v")._1.size <= total - 2)
  }

  test("integrated read path: NULL and escaped partition values round-trip through the index") {
    val t = freshTable()
    import spark.implicits._
    val df = Seq(
      (1L, Option("a b")), (2L, Option.empty[String]),
      (3L, Option("x=y")), (4L, Option("plain"))).toDF("id", "cat")
    t.commit(df, partitionBy = Seq("cat"))
    val r = t.read(spark)
    assert(r.count() === 4)
    // __HIVE_DEFAULT_PARTITION__ reads back as NULL, and IS NULL finds it
    assert(r.filter(col("cat").isNull).select("id").as[Long].collect() === Array(2L))
    // %-escaped values (space, '=') unescape to their original strings
    assert(r.filter(col("cat") === "a b").select("id").as[Long].collect() === Array(1L))
    assert(r.filter(col("cat") === "x=y").select("id").as[Long].collect() === Array(3L))
    // equality on the partition column prunes to that partition's files
    val one = t.read(spark).filter(col("cat") === "plain")
    assert(scannedFiles(one) < t.manifest(0L).get.size)
    assert(one.count() === 1)
  }

  test("deleteWhere on a partitioned append chain: hit files rewrite under the keys, predicate may reference the partition column") {
    val t = freshTable()
    import spark.implicits._
    t.commit(
      (1L to 30L).map(i => (i, s"b${i % 3}", s"u$i")).toDF("id", "branch", "s"),
      partitionBy = Seq("branch"))
    val v1 = t.appendCommit(
      (31L to 60L).map(i => (i, s"b${i % 3}", s"u$i")).toDF("id", "branch", "s"))
    // the predicate references the PARTITION column — restored by the
    // per-directory reads, it must select exactly the b2 rows everywhere
    val v2 = t.deleteWhere(spark, col("branch") === "b2" && col("id") <= 40L)
    assert(v2 > v1)
    val m2 = t.manifest(v2).get
    assert(m2.forall(_.contains("branch=")), "the rewrite lost the hive layout")
    // untouched partitions carried by reference (their files pre-date v2)
    assert(m2.exists(!_.contains(s"v=$v2")), "nothing carried — file granularity lost")
    val r = t.read(spark)
    // ids 1..60 minus {b2 ids <= 40} = 60 - |{2,5,...,38}| = 60 - 13
    assert(r.count() === 47)
    assert(r.filter(col("branch") === "b2").select("id").as[Long].collect().min === 41L)
    // time travel still serves the pre-delete snapshot, partition column intact
    assert(t.readVersion(spark, v1).filter(col("branch") === "b2").count() === 20)
    // CDC across the partitioned delete: only b2 victims, change='delete'
    val d = t.diffVersions(spark, v1, v2)
    assert(d.filter(col("change") =!= "delete").count() === 0)
    assert(d.count() === 13)
    assert(d.select("branch").distinct().collect().map(_.getString(0)).toSeq === Seq("b2"))
  }
}

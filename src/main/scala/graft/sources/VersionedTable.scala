package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.Barrier

/** Snapshot-isolated parquet table: immutable data directories plus an
  * ordered log of immutable commit records, one per published version —
  * the Delta Lake log (Armbrust et al., PVLDB 13(12), 2020) restated on
  * plain parquet for this dependency-closed environment.
  *
  * Why it exists: the reference's precompute cron upserts its Postgres
  * table (precompute_percentages.py:218-233) while the API reads it, and
  * that upsert is transactional. An in-place parquet overwrite is not: a
  * reader that lists files mid-commit sees a half-deleted partition. This
  * table is the engine's one persistence path for served state — the
  * percentages ([[upsert]]), the fitted models (`ModelStore`) and the
  * streamed counts all commit through it.
  *
  * Layout:
  * {{{
  *   table/
  *     _log/3.json        <- commit record of version 3
  *     _log/4.json
  *     v=3/...parquet     <- data directory of version 3's attempt (+ _stats)
  *     v=4/...parquet
  *     v=4_1/...parquet   <- a second attempt at version 4 (another writer held v=4)
  * }}}
  *
  * The record is the version's ONLY commit state: its data files (the
  * snapshot's manifest — own-directory-relative for files it wrote, `~/`
  * root-relative for files carried from earlier versions), its publish
  * wall time, its read schema, the idempotence tag and the path of its
  * `_stats` data-skipping index. Every record carries its schema, so a
  * read resolves a snapshot from its record alone: no footer or
  * partition inference, and no Spark job.
  * Latest version, version list, time travel, tags and vacuum all derive
  * from `_log`; the directory name says nothing about which files a
  * version holds.
  *
  * Protocol (every write — [[commit]], [[upsert]], [[appendCommit]],
  * [[deleteWhere]], [[compactFiles]]):
  *   1. read the head `base`; the new version is `base + 1`;
  *   2. create this attempt's own data directory (`Files.createDirectory`:
  *      `v=<v>`, or the first free `v=<v>_<k>` when a crashed or
  *      concurrent attempt holds that name — no two attempts share one);
  *   3. write the data files, then `_stats` if asked;
  *   4. write the record to a temp name under `_log/` and hard-link it to
  *      `_log/<v>.json` — `link(2)` creates the name only if it is absent,
  *      and atomically with the full contents — then remove the temp.
  * A reader sees a version only once its record exists, so it sees the
  * old snapshot or the new one, never a torn state. A crash anywhere
  * before the link publishes nothing; vacuum reclaims what it left.
  * In-flight queries keep reading the snapshot they resolved even if a
  * commit lands mid-query, because published files are never mutated.
  * Reads never list data directories: a stray file in one is never read.
  *
  * Concurrency contract: optimistic multi-writer, any number of readers.
  * When two writers commit on the same base, exactly one link succeeds;
  * the other gets a [[CommitConflictException]], publishes nothing and
  * may retry on the new head (no automatic retry — the caller decides
  * whether its batch still applies). The check is on the base: a write
  * that reads the table publishes on the version it read ([[upsert]] and
  * the maintenance commits), so a commit landing between its read and its
  * link is a conflict, never silently overwritten. [[appendCommit]]
  * publishes on the version its caller passes (`on`), so a caller that
  * built `df` from a version it read is told too. [[commit]], and an
  * [[appendCommit]] given no version, take the head when they start, so
  * a caller that built `df` from an older snapshot itself is not told. POSIX and HDFS provide the
  * put-if-absent primitive; an object store needs its own (a conditional
  * put, or a catalog compare-and-swap) — only the link step moves.
  * A record that cannot be parsed is a corrupt table, and every read and
  * maintenance commit that needs it fails by name.
  *
  * One read path: [[read]], [[readVersion]] and [[readAsOf]] return a
  * relation over [[SnapshotFileIndex]], so a plain `read(spark).filter(…)`
  * prunes files through the `_stats` sidecar (the `pruneFiles*` rungs)
  * before any task launches; [[diffVersions]] is the change feed.
  */
final class VersionedTable(val root: String) {
  import VersionedTable.{DataDirName, DefaultBloomBits, RecordName, Snapshot, TempRecordName}

  private def rootPath: Path = Paths.get(root)
  private def logDir: Path = rootPath.resolve("_log")
  private def recordPath(v: Long): Path = logDir.resolve(s"$v.json")

  /** Crash-point seam for the specs: called after each protocol step
    * (see [[VersionedTable.Steps]]); throwing from it stops the commit
    * there, leaving on disk exactly what a crash at that point leaves.
    */
  @volatile private[sources] var afterStep: String => Unit = _ => ()

  /** Published version, or None for a never-committed table. */
  def latestVersion(): Option[Long] = versions().lastOption

  /** Protocol step 1: the head a write builds on and publishes on. */
  private def base(): Option[Long] = {
    val head = latestVersion()
    afterStep("base")
    head
  }

  /** All published (and not yet vacuumed) versions, ascending. */
  def versions(): Seq[Long] =
    namesIn(logDir).collect { case RecordName(v) => v.toLong }.sorted

  private def namesIn(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally s.close()
    }

  /** Write `df` as the next snapshot and atomically publish it. Returns the
    * published version; throws [[CommitConflictException]] when another
    * writer published first. `partitionBy` columns keep partition pruning
    * inside the snapshot directory.
    *
    * The record's schema is the one a parquet read of the written files
    * infers, derived without reading them: `df`'s data columns, then the
    * partition columns as Spark's hive partition inference types the
    * directory names the write produced (`month=1` reads as `int`
    * whatever `df`'s type was). A partition column with no directory (an
    * empty frame) keeps `df`'s type.
    */
  def commit(
      df: DataFrame,
      partitionBy: Seq[String] = Nil,
      tag: Option[String] = None,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits): Long =
    commitOn(base(), df, partitionBy, tag, statsColumns, bloomColumns, bloomBits)

  /** [[commit]] published on `base`: a conflict when the head moved past it. */
  private def commitOn(
      base: Option[Long],
      df: DataFrame,
      partitionBy: Seq[String],
      tag: Option[String] = None,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits): Long =
    publish(base, carried = Nil, tag) { dir =>
      val writer = df.write.mode("append")
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(dir.toString)
    } { (dir, own) =>
      val typed = partitionTypes(df.sparkSession, dir, own)
      StructType(df.schema.filterNot(f => partitionBy.contains(f.name)) ++
        partitionBy.map(c => typed.find(_.name == c).getOrElse(df.schema(c))))
    } { own =>
      harvestStats(own, statsColumns.toSet) ++
        harvestBloom(df.sparkSession, own, bloomColumns.toSet, bloomBits)
    }

  /** Key-merge commit — the reference's `INSERT … ON CONFLICT (key) DO
    * UPDATE` (precompute_percentages.py:218-233) as one snapshot: a stored
    * row whose `key` appears in `updates` is replaced, every other stored
    * row survives, and on a never-committed table this is a plain
    * [[commit]]. Stored columns are read in `updates`' order and cast to
    * its types, so a hive partition column (`month` reads back as `int`)
    * merges with a `long` update. The head is read once, and the merge
    * publishes on it: a commit landing in between is a
    * [[CommitConflictException]], not a lost update. Each commit writes
    * the whole merged table into its own directory, so the read never
    * races the write.
    */
  def upsert(
      spark: SparkSession,
      updates: DataFrame,
      key: Seq[String],
      partitionBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    val head = base()
    val merged = head.fold(updates) { v =>
      val stored = readVersion(spark, v)
      stored
        .select(updates.schema.map { f =>
          if (stored.schema(f.name).dataType == f.dataType) col(f.name)
          else col(f.name).cast(f.dataType).as(f.name)
        }: _*)
        .join(updates.select(key.map(col): _*), key, "left_anti")
        .unionByName(updates)
    }
    commitOn(head, merged, partitionBy)
  }

  /** The partition columns Spark's hive partition inference reads from
    * the paths of `files` under `dir` — the listing a parquet read would
    * make, handed over instead of listed, so no file is opened and no
    * job runs.
    */
  private def partitionTypes(spark: SparkSession, dir: Path, files: Seq[String]): StructType = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    import org.apache.spark.sql.execution.datasources.{NoopCache, PartitionSpec, PartitioningAwareFileIndex}
    val statuses = files.map(f => new FileStatus(0L, false, 1, 0L, 0L, new HPath(Paths.get(f).toUri)))
    new PartitioningAwareFileIndex(spark, Map("basePath" -> dir.toUri.toString), None, NoopCache) {
      override val leafFiles = scala.collection.mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
      override val leafDirToChildrenFiles = statuses.toArray.groupBy(_.getPath.getParent)
      override def rootPaths: Seq[HPath] = Seq(new HPath(dir.toUri))
      override def refresh(): Unit = ()
      override def partitionSpec(): PartitionSpec = inferPartitioning()
    }.partitionSchema
  }

  /** Append-only commit: write ONLY `df`'s rows as new files and publish
    * a snapshot whose manifest references them PLUS every file of the
    * previous published snapshot — O(batch) bytes written instead of
    * O(corpus), the move that makes a continuously-growing 100 TB corpus
    * committable per micro-batch (a full [[commit]] would rewrite the
    * whole table every time). The snapshot semantics are unchanged:
    * readers of the new version see previous-rows-plus-batch, readers
    * pinned to an old version see exactly what they resolved, and the
    * publication is the same single put-if-absent link.
    *
    * Hive-partitioned previous snapshots append too (round-13 ask #2 —
    * partitioning is exactly how a 100 TB table is laid out): the
    * partition keys are derived from the previous manifest's own paths,
    * the batch (which must carry the partition columns as data columns,
    * enforced by the schema contract below) writes under the same
    * `partitionBy`, and the snapshot records its FULL schema — data AND
    * partition columns — in its commit record, because no single
    * hive `basePath` can span version directories: reads re-assemble
    * the snapshot as one per-directory-basePath read per owning version
    * directory, unioned under that recorded schema, so partition column
    * TYPES are pinned by the record instead of re-inferred per read.
    * Partition pruning survives: each branch of the union is an
    * ordinary hive layout under its own basePath.
    *
    * Schema EVOLUTION stays refused on partitioned chains (fail-fast,
    * even with `allowEvolution=true`): widening interacts with the
    * derived partition-key set and with per-directory layouts in ways
    * this store deliberately does not model — rewrite with [[commit]]
    * to evolve a partitioned table. (The explicit decision round-13
    * ask #2 requires; evolving a PARTITION column is thereby refused a
    * fortiori.)
    *
    * Vacuum interaction: an appended snapshot keeps old version
    * directories ALIVE (their files are referenced), so [[vacuum]]
    * deletes a directory only when no retained record references it.
    *
    * @param tag opaque idempotence token, readable back via
    *             [[latestTag]] — carried in the commit record itself, so
    *             a committed-tag check and the data it vouches for
    *             cannot be observed out of order.
    *             An exactly-once producer (a streaming foreachBatch that
    *             can replay its last batch after a crash) tags each
    *             commit with its batch id and skips when the published
    *             tag already matches.
    * @param on   the version the append builds on and publishes on
    *             (None: a never-committed table). A caller that derived
    *             `df` from a version it read passes that version, and a
    *             commit landing since is a [[CommitConflictException]]
    *             instead of rows carried in unchecked; the default is the
    *             head when the call starts.
    */
  def appendCommit(
      df: DataFrame,
      tag: Option[String] = None,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits,
      allowEvolution: Boolean = false,
      on: Option[Long] = base()): Long = {
    val prevSnap = on.map(published)
    val prev = prevSnap.map(_.files).getOrElse(Nil)
    // hive partition keys derived from the previous manifest's own paths
    // (empty for unpartitioned chains); the batch writes under the same
    // keys and the snapshot records its full schema — see the scaladoc
    val partKeys = partitionKeysOf(prev)
    // SCHEMA CONTRACT (fail fast, never publish a snapshot that reads
    // wrong): without this check a batch whose schema drifted — a lost
    // column, a retyped column, a silently-added one — would commit
    // fine, and the plain parquet read would then seed its schema from
    // whichever file it lists first: the other files' extra columns
    // VANISH or read as nulls depending on list order. That is silent
    // corruption, the worst failure class a table format can have.
    // Shared columns must keep their exact type; dropping a previous
    // column is always refused (appended files would hole the history);
    // ADDING columns is the one legal evolution and requires the
    // explicit opt-in — the evolved snapshot then records its unified
    // schema in its commit record, and every read goes through that
    // schema, which fills the column with NULL for pre-evolution files
    // deterministically.
    val schema: StructType = prevSnap.filter(_.files.nonEmpty) match {
      // a fileless previous snapshot (empty commit) contracts nothing
      case None => df.schema
      case Some(pv) =>
        // catalogString, not DataType equality: nullability (top-level
        // and NESTED — ArrayType.containsNull, struct field nullability)
        // flips freely across parquet round-trips and query lineages,
        // and is not a type change; catalogString renders the type
        // without any nullability, which is exactly the contract here
        val prevByName = pv.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
        val batchByName = df.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
        val missing = prevByName.keySet -- batchByName.keySet
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"appendCommit batch is missing previous snapshot column(s) " +
            s"${missing.toSeq.sorted.mkString(", ")} under $root — an append may " +
            "ADD columns (allowEvolution=true), never drop them")
        val retyped = prevByName.keySet.intersect(batchByName.keySet)
          .filter(c => prevByName(c) != batchByName(c))
        if (retyped.nonEmpty) throw new IllegalArgumentException(
          s"appendCommit batch retypes column(s) " +
            retyped.toSeq.sorted.map(c => s"$c: ${prevByName(c)} -> ${batchByName(c)}")
              .mkString(", ") + s" under $root — types are immutable across appends")
        val added = batchByName.keySet -- prevByName.keySet
        if (added.nonEmpty && partKeys.nonEmpty) throw new IllegalArgumentException(
          s"appendCommit batch adds column(s) ${added.toSeq.sorted.mkString(", ")} to a " +
            s"hive-partitioned chain under $root — schema evolution is refused on " +
            "partitioned chains (rewrite with commit() to evolve); partition columns " +
            "can therefore never evolve either")
        if (added.nonEmpty && !allowEvolution) throw new IllegalArgumentException(
          s"appendCommit batch adds column(s) ${added.toSeq.sorted.mkString(", ")} " +
            s"under $root — pass allowEvolution=true to widen the table schema")
        // an append that adds nothing keeps the table's schema; an evolved
        // one records the widened batch schema, and a partitioned chain the
        // batch's FULL schema (data + partition columns), which pins
        // partition column types across per-directory basePath reads
        if (added.nonEmpty || partKeys.nonEmpty) df.schema else pv.schema
    }
    publish(prevSnap.map(_.version), carried = prev, tag) { dir =>
      val appendWriter = df.write.mode("append")
      (if (partKeys.nonEmpty) appendWriter.partitionBy(partKeys: _*) else appendWriter)
        .parquet(dir.toString)
    }((_, _) => schema) { own =>
      // O(batch) stats work, like the data write itself: new files'
      // footers are harvested, carried files' rows COPY from the
      // previous _stats (keys are root-relative, so they stay valid
      // across version directories; a carried file with no previous
      // stats row simply stays unprunable — never silently skipped).
      // EVOLUTION INTERACTION (round-13 ask #4): when the widened
      // batch's ADDED column is itself in statsColumns/bloomColumns,
      // only the NEW files get rows for it — pre-evolution files have
      // none (their footers never saw the column; they read as
      // all-NULL) and therefore fall under pruneBy's no-stats-row
      // default: KEPT. A prune on an added column can thus never drop
      // a pre-evolution file, which is required for correctness — its
      // rows surface with NULL in that column, and NULL never matches
      // a range/point predicate, but IS NULL / downstream consumers
      // still need the rows present (spec-pinned).
      if (statsColumns.isEmpty && bloomColumns.isEmpty) Nil
      else prevSnap.map(statsLines).getOrElse(Nil) ++ harvestStats(own, statsColumns.toSet) ++
        harvestBloom(df.sparkSession, own, bloomColumns.toSet, bloomBits)
    }
  }

  /** Targeted row deletion — the right-to-be-forgotten commit every
    * data-retention pipeline eventually owes. File-granular, not
    * table-granular: one scan finds WHICH data files contain matching
    * rows, only those files rewrite (minus the victims) into the new
    * version directory, and every untouched file is carried into the
    * new snapshot by manifest reference — zero read, write, or copy
    * cost for the (at 100 TB, overwhelming) majority of the table that
    * never held the victim's rows. Old snapshots still serve the
    * pre-delete data (time travel is the audit trail); reclaiming the
    * deleted bytes themselves is [[vacuum]]'s job once retention allows
    * — a compliance deadline means "commit the delete now, vacuum by
    * day N".
    *
    * Rows where `cond` evaluates NULL are KEPT — a delete predicate
    * must be provably true to destroy data. A predicate matching
    * nothing is a no-op: the published version is returned unchanged,
    * no empty commit. Hive-partitioned snapshots delete too (round-13
    * ask #2): the predicate may reference partition columns (restored
    * by the per-directory reads), hit files rewrite under the SAME
    * partition keys, and the new snapshot records its full schema so
    * the cross-directory carried read stays type-stable — the same
    * contract as a partitioned [[appendCommit]].
    */
  def deleteWhere(spark: SparkSession, cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, input_file_name, lit, not}
    val v = published(base().getOrElse(
      throw new IllegalStateException(s"deleteWhere on a never-committed table at $root")))
    val files = v.files
    val partKeys = partitionKeysOf(files)
    def canon(p: String): String =
      try Paths.get(new java.net.URI(p)).toString catch { case _: Exception => p }
    // schema-aware reads (readFiles): on an EVOLVED snapshot a plain
    // multi-file read seeds its schema from an arbitrary file — the
    // delete predicate could then reference a vanished column, and the
    // rewrite would silently write files missing it; the unified-schema
    // read fills pre-evolution files' added columns with NULL and the
    // rewrite re-materializes them, keeping the chain homogeneous-izing
    val full = readFiles(spark, v, files)
    val hit = full
      .filter(cond)
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => canon(r.getString(0))).toSet // bounded by |files|
    if (hit.isEmpty) return v.version
    val (rewrite, carry) = files.partition(f => hit.contains(canon(f)))
    // the schema carries forward: it pins partition column types once the
    // rewritten snapshot spans version directories
    publish(Some(v.version), carried = carry, tag = None) { dir =>
      val delWriter = readFiles(spark, v, rewrite)
        .filter(not(coalesce(cond, lit(false))))
        .write.mode("append")
      (if (partKeys.nonEmpty) delWriter.partitionBy(partKeys: _*) else delWriter)
        .parquet(dir.toString)
    }((_, _) => v.schema)(own => propagateStats(spark, v, carry, own))
  }

  /** Small-file compaction — the maintenance commit every appendCommit
    * chain eventually owes. Per-micro-batch appends leave one file per
    * batch, and a reader of the head snapshot pays open + footer +
    * seek PER FILE — at 100 TB the small-file tax dwarfs the data
    * bytes (a day of 30-second micro-batches is ~3k files; a year is
    * a million). This pass rewrites every data file smaller than
    * `smallBytes` into ~`targetBytes`-sized files and carries every
    * file already at weight into the new snapshot by manifest
    * reference — the same file-granular economics as [[deleteWhere]]:
    * zero read/write/copy for the bulk of a mature table, cost
    * proportional to the fragmented tail. Content is bag-identical by
    * construction (rows are only re-binned between files), and the
    * rewrite is a `coalesce`, never a shuffle — compaction at scale is
    * IO-bound and must not pay a corpus exchange on top.
    *
    * Fewer than two qualifying files → no-op: the published version is
    * returned unchanged (merging one file with nothing buys nothing —
    * same no-empty-commit contract as deleteWhere's no-match path).
    * Old snapshots keep referencing the small files (time travel
    * unaffected); [[vacuum]] reclaims them once no retained snapshot
    * does. Hive-partitioned snapshots compact too (round-13 ask #2):
    * the rewrite re-bins under the SAME partition keys (still a
    * coalesce — each output task writes one file per partition value it
    * holds) and the snapshot records its full schema for the
    * cross-directory carried read, the partitioned-appendCommit
    * contract.
    */
  def compactFiles(
      spark: SparkSession,
      smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20): Long = {
    require(smallBytes > 0 && targetBytes > 0, "byte thresholds must be positive")
    val v = published(base().getOrElse(
      throw new IllegalStateException(s"compactFiles on a never-committed table at $root")))
    val files = v.files
    val partKeys = partitionKeysOf(files)
    def canon(p: String): String =
      try Paths.get(new java.net.URI(p)).toString catch { case _: Exception => p }
    // File.length() returns 0 for a missing entry, which would silently
    // classify a vanished file as "small" and feed it to the rewrite —
    // the later parquet read fails, but pointing at the READ instead of
    // the real problem. A manifest referencing a missing file is table
    // corruption (a vacuum raced this snapshot, or external deletion):
    // name it loudly here.
    val missing = files.filterNot(f => Files.exists(Paths.get(canon(f))))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"snapshot v=${v.version} manifest references missing file(s) under $root — " +
          s"table is corrupt (vacuumed under a reader, or externally deleted): " +
          missing.take(3).mkString(", ") +
          (if (missing.size > 3) s" (+${missing.size - 3} more)" else ""))
    val sized = files.map(f => f -> new java.io.File(canon(f)).length())
    val (small, carry) = sized.partition(_._2 < smallBytes)
    if (small.size < 2) return v.version
    // bin count from ON-DISK bytes (what the reader's open/seek cost is
    // proportional to); coalesce concatenates input partitions without
    // an exchange, so each output file is a pure byte-merge of inputs
    val bins = math.max(1L,
      math.ceil(small.map(_._2).sum.toDouble / targetBytes).toLong).toInt
    // the schema of the WHOLE snapshot carries forward (see deleteWhere)
    publish(Some(v.version), carried = carry.map(_._1), tag = None) { dir =>
      val smallFrame = readFiles(spark, v, small.map(_._1)) // schema-aware: see deleteWhere
      val cmpWriter = smallFrame.coalesce(bins).write.mode("append")
      (if (partKeys.nonEmpty) cmpWriter.partitionBy(partKeys: _*) else cmpWriter)
        .parquet(dir.toString)
    }((_, _) => v.schema)(own => propagateStats(spark, v, carry.map(_._1), own))
  }

  /** Stats continuity for the maintenance commits: a snapshot produced
    * by [[deleteWhere]]/[[compactFiles]] keeps data skipping ON instead
    * of silently reverting to full scans until the next stats-bearing
    * full commit (the round-12 "maintenance-blind" gap: compaction — the
    * operation run to HELP reads — used to turn pruning off). Carried
    * files keep their previous `_stats` rows verbatim (root-relative
    * keys stay valid across version directories); rewritten output files
    * are re-harvested from their fresh footers over the SAME column set
    * the previous sidecar tracked — the sidecar itself is the durable
    * record of which columns the table's committer opted into. A
    * previous snapshot with no sidecar propagates nothing (stats were
    * never requested). O(rewritten files) footer reads, in keeping with
    * the maintenance paths' file-granular economics.
    */
  private def propagateStats(
      spark: SparkSession, prev: Snapshot, carriedAbs: Seq[String], own: Seq[String]): Seq[String] = {
    val prevLines = statsLines(prev)
    if (prevLines.isEmpty) Nil
    else {
      // split the column opt-ins by row KIND: min/max rows (l/d/s) re-harvest
      // from footers, bloom rows (b) re-harvest with the previous rows' own
      // bit width — the sidecar is the durable record of both choices
      val tagged = prevLines.flatMap(_.split("\t") match {
        case Array(_, c, t, _, mx) => Some((c, t, mx))
        case _ => None
      })
      val minmaxCols = tagged.collect { case (c, t, _) if t != "b" => c }.toSet
      val bloomCols = tagged.collect { case (c, "b", _) => c }.toSet
      val bloomWidth = tagged.collectFirst { case (_, "b", mx) =>
        scala.util.Try(mx.split(":")(0).toInt).getOrElse(DefaultBloomBits)
      }.getOrElse(DefaultBloomBits)
      val carriedRel = carriedAbs
        .map(a => rootPath.relativize(Paths.get(a)).toString).toSet
      val carriedLines = prevLines.filter(l => l.split("\t").headOption.exists(carriedRel))
      carriedLines ++ harvestStats(own, minmaxCols) ++ harvestBloom(spark, own, bloomCols, bloomWidth)
    }
  }

  /** Row-level change feed between two committed snapshots — the CDC
    * read every downstream incremental consumer (index refresher,
    * replica, cache invalidator) wants instead of a full re-sync.
    * Returns the snapshot delta as rows tagged `change` ∈
    * {'insert','delete'}: inserts are rows of `v2` absent from `v1`,
    * deletes the reverse (an update surfaces as delete + insert of the
    * changed row — this store has no row identity beyond the row's
    * values, so that IS the change).
    *
    * Cost shape: `exceptAll` both ways — two shuffles over the two
    * snapshots' files. For APPEND-only version chains the manifest
    * makes it cheaper still: files shared by both manifests cannot
    * contribute deltas, so only the differing files are read
    * (the same file-granular pruning [[deleteWhere]] writes with).
    */
  def diffVersions(spark: SparkSession, v1: Long, v2: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (s1, s2) = (published(v1), published(v2))
    val (f1, f2) = (s1.files, s2.files)
    // drop the files both versions share — carried-by-reference files are
    // path-identical and delta-free
    val shared = f1.toSet intersect f2.toSet
    val (only1, only2) = (f1.filterNot(shared), f2.filterNot(shared))
    // Reading EXPLICIT file paths skips hive partition inference, so a
    // partitioned snapshot compared that way would drop its partition
    // columns and rows differing only in the partition value would compare
    // equal — wrong CDC with no error. readSubset restores partition
    // columns on every layout: own-dir manifests read under one basePath,
    // partitioned CROSS-directory chains (partitioned appends/maintenance)
    // read per owning directory under the recorded full schema, unioned.
    // Both sides read through ONE recorded schema: v2's when it holds
    // every column of v1's (an evolution adds columns), else v1's when it
    // holds every column of v2's. A row then carries NULL in a column its
    // file lacks on both sides alike, so rows equal in their shared
    // columns produce no spurious deltas and no column is ever projected
    // away. When neither schema holds the other, no change feed is
    // defined, and the diff fails by name.
    def holds(a: StructType, b: StructType): Boolean = b.fieldNames.forall(a.fieldNames.contains)
    val unified =
      if (holds(s2.schema, s1.schema)) s2.schema
      else if (holds(s1.schema, s2.schema)) s1.schema
      else throw new IllegalArgumentException(
        s"diffVersions($v1, $v2) under $root: neither snapshot's schema holds every " +
          s"column of the other (${s1.schema.simpleString} vs ${s2.schema.simpleString})")
    def readSide(fs: Seq[String]): Option[DataFrame] =
      if (fs.isEmpty) None else Some(readSubset(spark, unified, fs))
    (readSide(only2), readSide(only1)) match {
      case (None, None) =>
        // identical manifests — an empty frame in the snapshot's schema
        val base = readVersion(spark, v2)
        base.filter(lit(false)).withColumn("change", lit(""))
      case (ins, del) =>
        val inserts = (ins, del) match {
          case (Some(a), Some(b)) => Some(a.exceptAll(b))
          case (Some(a), None)    => Some(a)
          case _                  => None
        }
        val deletes = (del, ins) match {
          case (Some(a), Some(b)) => Some(a.exceptAll(b))
          case (Some(a), None)    => Some(a)
          case _                  => None
        }
        val tagged = Seq(
          inserts.map(_.withColumn("change", lit("insert"))),
          deletes.map(_.withColumn("change", lit("delete")))).flatten
        tagged.reduce(_ unionByName _)
    }
  }

  /** Hive partition keys of a file set, parsed from the path segments
    * between each file's owning version directory and its file name
    * (`v=3/lang=en/part-….parquet` → `lang`). Every file must carry the
    * SAME key sequence (or none): mixed layouts inside one snapshot are
    * table corruption and are named loudly rather than read wrong.
    */
  private def partitionKeysOf(files: Seq[String]): Seq[String] = {
    val keySeqs = files.map { abs =>
      val rel = rootPath.relativize(Paths.get(abs)).toString
      rel.split('/').drop(1).dropRight(1).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0,
          s"non-hive intermediate directory '$seg' in manifest path '$rel' under $root")
        seg.take(i)
      }
    }.distinct
    require(
      keySeqs.size <= 1,
      s"mixed partition layouts in one snapshot under $root: " +
        keySeqs.map(_.mkString("/")).mkString(" vs "))
    keySeqs.headOption.getOrElse(Nil)
  }

  /** The version directory a manifest file belongs to — its own
    * snapshot's for fresh files, an older snapshot's for carried ones.
    */
  private def owningVersionDir(abs: String): String =
    rootPath.resolve(
      rootPath.relativize(Paths.get(abs)).toString.split('/').head).toString

  /** The idempotence tag of the published snapshot, if its committer set
    * one — see [[appendCommit]]'s `tag` parameter.
    */
  def latestTag(): Option[String] = latestVersion().flatMap(tagOf)

  /** ALL idempotence tags among retained versions. A replay guard must
    * check this set, not just [[latestTag]]: any interleaved commit by
    * another writer (the nightly full-rewrite pass, a compaction) takes
    * over the head and would hide the replayed batch's tag. Vacuum drops
    * a version's tag with its record — replay detection therefore
    * assumes the replayed commit is within the retention window, which a
    * promptly-restarted stream always is. Only published versions count:
    * a crashed attempt has no record, so its batch is never skipped.
    */
  def committedTags(): Set[String] = versions().flatMap(tagOf).toSet

  /** Incremental view of [[committedTags]] for per-batch replay guards:
    * a long-running stream calling [[committedTags]] every micro-batch
    * re-reads the commit record of EVERY retained version, an I/O cost
    * that grows with retained versions until vacuum runs. The cursor
    * reads each version's record once and afterwards only the versions
    * that appeared since the last call — O(new commits) record reads per
    * batch. Tags of since-vacuumed versions stay cached; for a replay
    * guard that is strictly safer than the fresh scan (a replayed batch
    * whose commit was already vacuumed is still skipped, not
    * double-committed).
    */
  final class TagCursor {
    private var seenVersions = Set.empty[Long]
    private var cached = Set.empty[String]
    def committedTags(): Set[String] = {
      val fresh = versions().filterNot(seenVersions)
      cached ++= fresh.flatMap(tagOf)
      seenVersions ++= fresh
      cached
    }
  }

  def tagCursor(): TagCursor = new TagCursor

  private def tagOf(v: Long): Option[String] = snapshot(v).flatMap(_.tag)

  /** Publish one commit (the protocol in the class doc): allocate this
    * attempt's data directory, `write` the data into it, write the
    * `_stats` lines `stats` derives from the files it wrote (none when
    * empty), then link the record as version `base + 1`. Throws
    * [[CommitConflictException]] when another writer published that
    * version first; the attempt's directory and temp record are then
    * removed, and nothing it wrote is referenced.
    */
  private def publish(base: Option[Long], carried: Seq[String], tag: Option[String])(
      write: Path => Unit)(schema: (Path, Seq[String]) => StructType)(
      stats: Seq[String] => Seq[String]): Long = {
    val v = base.fold(0L)(_ + 1L)
    Files.createDirectories(logDir)
    val dir = Iterator.from(0).map(k => rootPath.resolve(if (k == 0) s"v=$v" else s"v=${v}_$k"))
      .find { d =>
        try { Files.createDirectory(d); true } catch { case _: FileAlreadyExistsException => false }
      }.get
    afterStep("allocate")
    write(dir)
    afterStep("data")
    val own = {
      val w = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .map(p => dir.relativize(p).toString)
          .toSeq.sorted
      } finally w.close()
    }
    val ownAbs = own.map(dir.resolve(_).toString)
    val readSchema = schema(dir, ownAbs)
    val statsFile = Some(stats(ownAbs)).filter(_.nonEmpty).map { lines =>
      Files.write(dir.resolve("_stats"), lines.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    afterStep("stats")
    def rel(p: Path): String = rootPath.relativize(p).toString
    // carried files first (root-relative, `~/`), then this version's own
    // (directory-relative), each sorted — the order reads list them in
    val files = carried.map(f => "~/" + rel(Paths.get(f))).sorted ++ own
    val record = JObject(List(
      "version" -> JLong(v),
      "timestamp" -> JLong(System.currentTimeMillis()),
      "dir" -> JString(rel(dir)),
      "files" -> JArray(files.map(JString(_)).toList),
      "schema" -> parse(allNullable(readSchema).json)) ++
      tag.map(t => "tag" -> JString(t)) ++
      statsFile.map(f => "stats" -> JString(rel(f))))
    val tmp = logDir.resolve(s"$v.json.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, compact(render(record)).getBytes(StandardCharsets.UTF_8))
    afterStep("record")
    try Files.createLink(recordPath(v), tmp)
    catch {
      case _: FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        deleteTree(dir)
        throw new CommitConflictException(root, v)
    }
    afterStep("link")
    // deleteIfExists: a concurrent vacuum may already have reclaimed it
    Files.deleteIfExists(tmp)
    afterStep("unlink")
    v
  }

  /** The commit record of version `v`, or None when `v` has none (never
    * published, or vacuumed). A record that exists but cannot be parsed
    * is table corruption and fails by name.
    */
  private def snapshot(v: Long): Option[Snapshot] = {
    val bytes =
      try Some(Files.readAllBytes(recordPath(v))) catch { case _: NoSuchFileException => None }
    bytes.map { b =>
      try {
        val j = parse(new String(b, StandardCharsets.UTF_8))
        def str(f: String): Option[String] = j \ f match {
          case JString(x) => Some(x)
          case _ => None
        }
        def bad(f: String, x: JValue) = new IllegalArgumentException(s"field $f is $x")
        def num(f: String): Long = j \ f match {
          case JInt(x) => x.toLong
          case x => throw bad(f, x)
        }
        val dir = rootPath.resolve(str("dir").get)
        val files = j \ "files" match {
          case JArray(fs) => fs.map {
            case JString(f) if f.startsWith("~/") => rootPath.resolve(f.stripPrefix("~/")).toString
            case JString(f) => dir.resolve(f).toString
            case x => throw bad("files", x)
          }
          case x => throw bad("files", x)
        }
        val schema = j \ "schema" match {
          case s: JObject => DataType.fromJson(compact(render(s))).asInstanceOf[StructType]
          case x => throw bad("schema", x)
        }
        Snapshot(num("version"), num("timestamp"), dir, files, schema, str("tag"),
          str("stats").map(rootPath.resolve))
      } catch {
        case e: Exception => throw new IllegalStateException(
          s"snapshot v=$v under $root has an unreadable commit record ${recordPath(v)} — " +
            "table is corrupt", e)
      }
    }
  }

  /** The record of a version every reader and maintenance commit needs. */
  private def published(v: Long): Snapshot = snapshot(v).getOrElse(
    throw new IllegalStateException(s"no published snapshot v=$v under $root"))

  /** Publish wall time of snapshot `v` (epoch millis), or None when `v`
    * is not published (or vacuumed). Every record carries one.
    */
  def commitTimestamp(v: Long): Option[Long] = snapshot(v).map(_.timestamp)

  /** Timestamp time travel: read the newest snapshot published at or
    * before `ts` — "the table as the 03:00 report saw it", Delta's
    * `timestampAsOf` / Iceberg's `as-of-timestamp`. Resolution is the
    * publish wall clock each record carries; a version's clock is read
    * after its base was published, so clock order and version order
    * agree. Errors when no snapshot is that old, like reading a
    * never-committed table. A crashed attempt has no record, so it can
    * never be served.
    *
    * RETENTION CAVEAT (same as Delta's): the resolution is over RETAINED
    * snapshots — if [[vacuum]] reclaimed the version that was live at
    * `ts`, this returns the nearest OLDER retained snapshot, not an
    * error (the reclaimed record is gone; there is nothing to detect
    * it by). Time-travel consumers own the retention window: only
    * vacuum past the oldest timestamp any report still replays.
    */
  def readAsOf(spark: SparkSession, ts: java.time.Instant): DataFrame = {
    val cutoff = ts.toEpochMilli
    val v = versions().reverseIterator.find(v => commitTimestamp(v).exists(_ <= cutoff))
      .getOrElse(throw new IllegalStateException(
        s"no snapshot published at or before $ts under $root"))
    readVersion(spark, v)
  }

  /** Recorded schemas are forced fully NULLABLE (top-level and nested),
    * as a parquet read reports them: pre-evolution files read the added
    * columns as all-NULL, so a non-null marking inherited from the
    * evolving batch's lineage would hand the reader a promise the data
    * breaks. Nullability was never part of the append contract anyway
    * (see the catalogString compare). Readers pass the recorded schema as
    * the explicit read schema: Spark's parquet source fills columns absent
    * from a file with NULL deterministically, where a multi-file read
    * without one would seed from an arbitrary file and silently drop the
    * others' extra columns.
    */
  private def allNullable(dt: DataType): DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(allNullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(allNullable(m.keyType), allNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Data-file paths of one snapshot per its commit record, or None for a
    * version that is not published (or was vacuumed). Readers resolve
    * files from the record instead of LISTing a directory, so a fresh
    * commit is readable even on object stores with eventually-consistent
    * listings, and stray files that leak into a directory are never read.
    */
  def manifest(v: Long): Option[Seq[String]] = snapshot(v).map(_.files)

  // -------------------------------------------------------------------
  // File-level data skipping: per-file column min/max harvested from the
  // parquet FOOTERS at commit time (no data scan — the footer already
  // carries per-row-group statistics; this folds them per file) and
  // stored in a `_stats` file in the version's data directory, which its
  // commit record names — a data-skipping index, not commit state (bloom
  // rows run to 8 KiB per file and column). A range read then
  // drops whole files whose [min, max] cannot intersect the predicate —
  // the scan lever that matters most at 100 TB: partition pruning cuts
  // directories, z-order cuts row groups INSIDE a file (x64), this cuts
  // FILES through the snapshot manifest, exactly Delta/Iceberg's
  // min/max data skipping. Pruning is an OPTIMIZATION, never semantics:
  // the exact filter always applies to the surviving files, a file with
  // no stats row is always kept, and a range predicate never matches
  // NULL — so all-null chunks (which carry no min/max) cannot cause a
  // wrong skip. Stats rows are keyed ROOT-relative, so appendCommit
  // carries them across version directories at O(batch) cost, and the
  // maintenance commits (deleteWhere/compactFiles) stay stats-bearing:
  // carried files keep their rows, rewritten files re-harvest
  // (propagateStats). Covered types: integral `l` (incl. DATE = INT32
  // days and TIMESTAMP = INT64 micros), floating `d` (NaN-guarded),
  // string `s` (unsigned UTF-8 order, whole-value bounds only), and the
  // opt-in per-file Bloom rows `b` for point predicates (below).
  // -------------------------------------------------------------------

  /** One stats row per (file, column): root-relative path, column name,
    * type tag (l = integral, d = floating, compared exactly / in double),
    * URL-encoded min and max. Columns whose parquet type has no ordered
    * stats (or files that never wrote a non-null value) emit no row.
    *
    * Plus, independently of the ordered-stats rows, one NULL-COUNT row
    * (tag `n`: min field = the file's null count for the column, max
    * field = the file's row count) whenever every chunk's footer has
    * its null count set — the rung that serves `IS NULL` / `IS NOT
    * NULL` predicates, which min/max cannot (an all-null file has no
    * ordered bounds at all, so before this rung it was maximally
    * UNPRUNABLE exactly when it provably holds nothing a non-null
    * predicate wants). Catalyst infers IsNotNull for every filtered
    * column, so this rung also composes silently under ordinary
    * filters. Same degradation contract: no row (or a corrupt one) →
    * keep; readers that predate the tag keep via the permits default.
    */
  private def harvestStats(files: Seq[String], cols: Set[String]): Seq[String] = {
    if (cols.isEmpty) return Nil
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // a bare Configuration is DELIBERATE here, unlike the Avro source's
    // broadcast-driver-conf fix: this class is java.nio/POSIX-scoped end
    // to end (see the class doc's object-store caveat — the record link
    // itself needs a put-if-absent primitive off POSIX), footer reads run on the
    // DRIVER, and the paths are the table's own local files; when the
    // table grows an object-store backend, the conf plumbing moves with
    // the rest of the IO layer, not before
    val conf = new org.apache.hadoop.conf.Configuration()
    def enc(s: String): String =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    files.flatMap { abs =>
      val rel = rootPath.relativize(Paths.get(abs)).toString
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(abs), conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val fileRows = blocks.map(_.getRowCount).sum
        cols.toSeq.sorted.flatMap { c =>
          val chunks = blocks.flatMap(_.getColumns.asScala)
            .filter(ch => ch.getPath.toDotString == c)
          val stats = chunks.map(_.getStatistics)
          // the null-count row stands on its own: it exists even (and
          // especially) for all-null files, which carry no ordered bounds
          val nullRow =
            if (chunks.isEmpty || stats.exists(s => s == null || !s.isNumNullsSet)) None
            else Some(
              s"$rel\t$c\tn\t${enc(stats.map(_.getNumNulls).sum.toString)}\t${enc(fileRows.toString)}")
          val boundsRow =
          if (chunks.isEmpty || stats.exists(s => s == null || !s.hasNonNullValue)) None
          else chunks.head.getPrimitiveType.getPrimitiveTypeName match {
            case INT32 | INT64 =>
              val mn = stats.map(_.genericGetMin.asInstanceOf[java.lang.Number].longValue()).min
              val mx = stats.map(_.genericGetMax.asInstanceOf[java.lang.Number].longValue()).max
              Some(s"$rel\t$c\tl\t${enc(mn.toString)}\t${enc(mx.toString)}")
            case FLOAT | DOUBLE =>
              val mn = stats.map(_.genericGetMin.asInstanceOf[java.lang.Number].doubleValue()).min
              val mx = stats.map(_.genericGetMax.asInstanceOf[java.lang.Number].doubleValue()).max
              // NaN guard (Iceberg's nan_value_counts hazard): parquet-mr's
              // double comparator orders NaN greatest, so a chunk containing
              // NaN can surface min or max of NaN — and pruneFiles would then
              // evaluate `NaN >= lo` as false and WRONGLY skip a file whose
              // non-NaN rows are in range. A NaN bound means the footer
              // cannot bound the file: emit no row, keep it unprunable.
              // Signed zero needs no such guard: the stored bounds are
              // compared with IEEE >=/<= in pruneFiles, where -0.0 == +0.0,
              // so a file whose max harvested as -0.0 still survives a
              // lo = 0 predicate.
              if (mn.isNaN || mx.isNaN) None
              else Some(s"$rel\t$c\td\t${enc(mn.toString)}\t${enc(mx.toString)}")
            case BINARY =>
              // String columns (tag `s`) — the most common real-world
              // predicate class (categories, ids, ISO dates-as-strings).
              // Ordering discipline: these stats come from files THIS
              // table wrote (Spark/parquet-mr), whose string sort order
              // is UNSIGNED byte-wise over UTF-8 — identical to Spark's
              // UTF8String comparison — so footer bounds and the engine's
              // own `>=`/`<=` agree and a skip can never drop a matching
              // row. Truncation discipline: parquet-mr chunk statistics
              // are whole values or ABSENT (dropped above the 4 KB stats
              // cap), never silently truncated, so a present bound is the
              // true bound; belt-and-braces, bounds longer than 192 bytes
              // (or not UTF-8-round-trippable) emit no row — the file
              // just stays unprunable, and the sidecar stays small.
              val mnB = stats.map(_.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary])
                .min(binaryOrd).getBytes
              val mxB = stats.map(_.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary])
                .max(binaryOrd).getBytes
              def utf8Whole(b: Array[Byte]): Option[String] = {
                val s = new String(b, StandardCharsets.UTF_8)
                if (b.length <= 192 && java.util.Arrays.equals(s.getBytes(StandardCharsets.UTF_8), b))
                  Some(s)
                else None
              }
              for { mn <- utf8Whole(mnB); mx <- utf8Whole(mxB) }
                yield s"$rel\t$c\ts\t${enc(mn)}\t${enc(mx)}"
            case _ => None // int96/fixed/boolean ranges: kept unprunable
          }
          nullRow.toSeq ++ boundsRow.toSeq
        }
      } finally reader.close()
    }
  }

  /** Unsigned byte-wise UTF-8 comparison — the ONE ordering shared by
    * parquet's string statistics and Spark's UTF8String comparisons, so
    * footer bounds and the engine's exact filter can never disagree.
    * (Java's String.compareTo orders UTF-16 code units, which diverges
    * from UTF-8 byte order for supplementary characters — using it here
    * would make pruning silently lossy exactly on emoji/CJK-extension
    * content.)
    */
  private def cmpUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** Unsigned lexicographic order over raw parquet Binary stats values
    * (Binary.compareTo's own ordering went through signed-byte eras in
    * parquet-mr's history — depend on the bytes, not the class).
    */
  private val binaryOrd: Ordering[org.apache.parquet.io.api.Binary] =
    (x, y) => java.util.Arrays.compareUnsigned(x.getBytes, y.getBytes)

  // -------------------------------------------------------------------
  // File-level BLOOM skipping (tag `b`) — the pruning rung min/max
  // cannot supply: a point lookup (`column IN (…)`) on a column the
  // table is NOT laid out by finds every file's [min, max] spanning the
  // whole domain, so the range rung keeps everything. A per-file Bloom
  // filter answers "can this file contain value x?" regardless of
  // layout — Delta's bloom-filter index / Iceberg's puffin blobs,
  // restated through the same `_stats` sidecar. One row per (file,
  // column): base64 bitset in the min field, "bits:k" params in the max
  // field, so the existing parse/degrade discipline applies verbatim
  // (corrupt payload → keep the file; unknown tag in an old reader →
  // keep). False positives cost only IO (file read, exact filter still
  // applies); false negatives are impossible by construction — every
  // value written sets its k bits, and both sides compute positions
  // with the SAME hash (Spark's XXH64, seed 42, LONG input) and the
  // same mod-first arithmetic, so executor harvest and driver probe
  // cannot disagree (mod-first also keeps every +/× far below overflow,
  // which matters under ANSI arithmetic).
  //
  // Harvest cost is one column-pruned distributed scan of the NEW files
  // per commit — deliberately more than the footer-only min/max harvest
  // (a bloom needs the values), which is why it is a separate opt-in.
  // v1 covers integral columns (hashed as longs); the per-file bitset
  // is bits/8 bytes (default 8 KiB), bounded driver state like the
  // manifest itself.
  // -------------------------------------------------------------------

  /** Bloom probe count for rows THIS writer harvests. With the default
    * 2^16 bits, k=7 holds the false-positive rate under 1% up to ~6.5k
    * distinct values per file and degrades gracefully past it (worse
    * pruning, never wrong). Write-side only: the probe side always uses
    * the k RECORDED in the row being probed ([[bloomPositions]]), so
    * rows written under a different k stay correct.
    */
  private val BloomK = 7

  /** One `b` stats row per (new file, column): ONE distributed harvest
    * job for ALL opted-in columns (round-13 ADVICE: the per-column form
    * launched one scan per column, multiplying commit-time cost for
    * multi-column opt-ins). The single column-pruned scan computes, per
    * column, the k Kirsch–Mitzenmacher positions pos_i = (h1 + i·h2)
    * mod bits per value with h1/h2 pre-reduced mod bits, TAGS them into
    * one shared position stream as colIndex·bits + pos (far under Long
    * range at the 2^28 bits cap), folds per-(file, column) position
    * sets map-side (collect_set), and — round-14 ADVICE — converts each
    * set to its Base64 BITSET BYTES executor-side before anything
    * reaches the driver: the collect ships |files| × |cols| rows of
    * ~bits/6 Base64 chars each (bits/8 bytes inflated 4/3), never the
    * boxed-Long position sets (~16 B per position × |cols|), so a wide
    * multi-column opt-in at large bloomBits can no longer multiply peak
    * driver memory. The bitset build is a Scala UDF, deliberately: it
    * runs once per (file, column) AFTER the aggregate — commit-time
    * catalog work over manifest-bounded rows, not a per-value hot path
    * (the per-value math stays in codegen expressions). Integral
    * columns hash as longs (kind tag `l` in the params), string columns
    * as their UTF-8 bytes (kind `s`); other or absent column types emit
    * no row (unprunable, never wrong); a file all-null in one column
    * contributes no positions for that tag, so that (file, column)
    * emits no row — exactly the per-column scan's behavior, and the
    * bitsets are bit-identical to it (same hash, same arithmetic).
    */
  private def harvestBloom(
      spark: SparkSession, files: Seq[String], cols: Set[String], bits: Int): Seq[String] = {
    require(bits > 0 && bits <= (1 << 28), s"bloomBits out of range: $bits")
    if (files.isEmpty || cols.isEmpty) return Nil
    import org.apache.spark.sql.functions._
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    val schema = spark.read.parquet(files: _*).schema
    def enc(s: String): String =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    val kinds: Seq[(String, String)] = cols.toSeq.sorted.flatMap { c =>
      schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(t) if integral.contains(t) => Some(c -> "l")
        case Some(org.apache.spark.sql.types.StringType) => Some(c -> "s")
        case _ => None
      }
    }
    if (kinds.isEmpty) return Nil
    val m = lit(bits.toLong)
    val posCols = kinds.zipWithIndex.map { case ((c, k), idx) =>
      val v = if (k == "l") col(c).cast("long") else col(c)
      when(v.isNotNull, transform(
        sequence(lit(0L), lit((BloomK - 1).toLong)),
        i => pmod(pmod(xxhash64(v), m) + i * pmod(xxhash64(lit(1L), v), m), m)
          + lit(idx.toLong * bits)))
        .otherwise(array().cast("array<bigint>"))
    }
    val bitsLocal = bits
    val toBitsetB64 = udf { (ps: Seq[Long]) =>
      val bs = new java.util.BitSet(bitsLocal)
      ps.foreach(p => bs.set(p.toInt))
      java.util.Base64.getEncoder.encodeToString(bs.toByteArray)
    }
    spark.read.parquet(files: _*)
      .select(
        input_file_name().as("__f"),
        explode(concat(posCols: _*)).as("__p"))
      .groupBy(col("__f"), expr(s"__p DIV ${bits.toLong}").cast("int").as("__c"))
      .agg(collect_set(pmod(col("__p"), m)).as("__ps"))
      .select(col("__f"), col("__c"), toBitsetB64(col("__ps")).as("__b64"))
      .collect().toSeq
      .flatMap { r =>
        val abs = try Paths.get(new java.net.URI(r.getString(0))).toString
          catch { case _: Exception => r.getString(0) }
        val rel = rootPath.relativize(Paths.get(abs)).toString
        kinds.lift(r.getInt(1)).map { case (c, k) =>
          s"$rel\t$c\tb\t${enc(r.getString(2))}\t${enc(s"$bits:$BloomK:$k")}"
        }
      }
  }

  /** Driver-side mirror of the harvest job's bit positions — the SAME
    * hash (Spark's XXH64Function, seed 42; h2 seeded by hashing the
    * literal 1L first, exactly the two-child xxhash64 column) and the
    * same mod-first arithmetic, so probe and harvest agree bit for bit.
    * Long values hash as LongType, strings as their UTF8String bytes —
    * matching what the executor-side xxhash64 saw for each column kind.
    * `k` is the probe count RECORDED IN THE ROW being probed, never the
    * writer constant: a row written with a different k (a future or
    * foreign writer, or a configurable-k era) probed at this writer's
    * k would test positions its writer never set — a FALSE NEGATIVE,
    * i.e. a wrongly-pruned file, the exact failure class the
    * degrade-to-keep contract exists to prevent (round-13 ADVICE).
    */
  private def bloomPositions(value: Either[Long, String], bits: Int, k: Int): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{LongType, StringType}
    def h(seed: Long): Long = value match {
      case Left(l) => XxHash64Function.hash(l, LongType, seed)
      case Right(s) => XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType, seed)
    }
    val h1 = Math.floorMod(h(42L), bits.toLong)
    val h2 = Math.floorMod(
      h(XxHash64Function.hash(1L, LongType, 42L)), bits.toLong)
    Array.tabulate(k)(i => Math.floorMod(h1 + i.toLong * h2, bits.toLong).toInt)
  }

  /** Bloom membership for the prune walk: true (keep) unless the row
    * parses cleanly — bits AND the row's own probe count k AND its hash
    * kind — the kind matches the probe's, and every probed value
    * misses. Any parse/shape/kind problem (absent, nonpositive, or
    * unparseable k included) degrades to keep — the standing "pruning
    * is an optimization, never semantics" contract.
    */
  private def bloomAdmits(
      payload: String, params: String, values: Seq[Either[Long, String]]): Boolean =
    (for {
      parts <- scala.util.Try(params.split(":")).toOption
      bits <- scala.util.Try(parts(0).toInt).toOption
      if bits > 0
      k <- parts.lift(1).flatMap(s => scala.util.Try(s.toInt).toOption)
      if k > 0
      kind <- parts.lift(2)
      if values.forall(v => (kind == "l") == v.isLeft)
      bytes <- scala.util.Try(java.util.Base64.getDecoder.decode(payload)).toOption
    } yield {
      val bs = java.util.BitSet.valueOf(bytes)
      values.exists(x => bloomPositions(x, bits, k).forall(bs.get))
    }).getOrElse(true)

  private def statsLines(s: Snapshot): Seq[String] =
    s.stats.filter(Files.exists(_)).toSeq.flatMap(p =>
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty))

  /** The manifest files of snapshot `v` that can hold a row with
    * `column` in [lo, hi], per the `_stats` sidecar — plus the total
    * file count, so callers (and the spec) can SEE the pruning rate. A
    * file without a stats row for `column` is always kept.
    */
  private[graft] def pruneFiles(v: Long, column: String, lo: Long, hi: Long): (Seq[String], Int) =
    pruneBy(v, column) {
      case ("l", mn, mx) => mx.toLong >= lo && mn.toLong <= hi
      case ("d", mn, mx) => mx.toDouble >= lo && mn.toDouble <= hi
      case _ => true // string-tagged stats can't serve a numeric range
    }

  /** String-range variant of [[pruneFiles]]: keeps the files that can
    * hold a `column` value in [lo, hi] under unsigned UTF-8 byte order —
    * the ordering Spark's own string comparison uses, see [[cmpUtf8]].
    * An absent bound leaves that side open (this order has no top
    * sentinel), so each conjunct of a plain-read range prunes alone.
    */
  private[graft] def pruneFilesString(
      v: Long, column: String, lo: Option[String], hi: Option[String]): (Seq[String], Int) =
    pruneBy(v, column) {
      case ("s", mn, mx) => lo.forall(cmpUtf8(mx, _) >= 0) && hi.forall(cmpUtf8(mn, _) <= 0)
      case _ => true // numeric-tagged stats can't serve a string range
    }

  /** Point-set variant of [[pruneFiles]]: keeps the files whose [min,
    * max] admits AT LEAST ONE of `values` — the routing shape (IVF cell
    * probes, shard picks) where the predicate is `column IN (…)` rather
    * than a range. With the table laid out range-partitioned on
    * `column`, a handful of probed values keeps a handful of files.
    */
  private[graft] def pruneFilesIn(v: Long, column: String, values: Seq[Long]): (Seq[String], Int) =
    pruneBy(v, column) {
      case ("l", mn, mx) =>
        val (lo, hi) = (mn.toLong, mx.toLong); values.exists(x => x >= lo && x <= hi)
      case ("d", mn, mx) =>
        val (lo, hi) = (mn.toDouble, mx.toDouble)
        values.exists(x => x.toDouble >= lo && x.toDouble <= hi)
      // bloom rows serve point predicates directly: a file is kept iff at
      // least one probed value hits all k bits. When BOTH an `l` and a `b`
      // row exist for the column, pruneBy's forall intersects them — the
      // range rung and the bloom rung compose.
      case ("b", payload, params) => bloomAdmits(payload, params, values.map(Left(_)))
      case _ => true
    }

  /** String-point-set variant of [[pruneFilesIn]]: `s` min/max rows
    * bound membership under unsigned UTF-8 order, string-kind bloom
    * rows probe directly; numeric hints keep (cannot serve strings).
    */
  private[graft] def pruneFilesInStrings(
      v: Long, column: String, values: Seq[String]): (Seq[String], Int) =
    pruneBy(v, column) {
      case ("s", mn, mx) =>
        values.exists(x => cmpUtf8(x, mn) >= 0 && cmpUtf8(x, mx) <= 0)
      case ("b", payload, params) => bloomAdmits(payload, params, values.map(Right(_)))
      case _ => true
    }

  /** Null rung, non-null side: keeps the files that can hold at least
    * one NON-NULL value of `column` per their `n` (nullCount:rowCount)
    * stats rows — an all-null file is provably useless to any
    * `IS NOT NULL` consumer (and, since Catalyst infers IsNotNull for
    * every filtered column, to most ordinary filters too). A file
    * without an `n` row is kept, the standing degradation contract.
    */
  private[graft] def pruneFilesNotNull(v: Long, column: String): (Seq[String], Int) =
    pruneBy(v, column) {
      case ("n", nulls, rows) => nulls.toLong < rows.toLong
      case _ => true
    }

  /** Null rung, null side: keeps the files whose `n` rows admit at
    * least one NULL of `column` — serving `IS NULL` audits (the
    * validation scans every quality pipeline runs) without reading the
    * files that provably contain none.
    */
  private[graft] def pruneFilesNull(v: Long, column: String): (Seq[String], Int) =
    pruneBy(v, column) {
      case ("n", nulls, _) => nulls.toLong > 0
      case _ => true
    }

  /** Shared prune walk: `permits(tag, min, max)` decides survival per
    * stats row. Degradation discipline ("pruning is an optimization,
    * never semantics"): a file with no stats row for `column` is kept;
    * an UNKNOWN tag (future writer) is kept via the permits default; and
    * a stats row whose min/max fail to PARSE (corrupt sidecar line) is
    * kept too — a malformed optimization hint must degrade to an
    * unpruned read, not fail it with a NumberFormatException.
    */
  private def pruneBy(v: Long, column: String)(
      permits: (String, String, String) => Boolean): (Seq[String], Int) = {
    val snap = published(v)
    val files = snap.files
    def dec(s: String): String = java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
    // line-level Try: a malformed sidecar line (bad %-escape, wrong field
    // count) contributes no entry, so its file is KEPT — same degradation
    // contract as the comparison below
    // a file may carry SEVERAL hint rows for one column (min/max `l` plus
    // bloom `b`) — it survives only if EVERY row permits it: each hint is
    // an independent proof of absence, so the prunable set is their union
    val byFile: Map[String, Seq[(String, String, String)]] = statsLines(snap).flatMap { line =>
      scala.util.Try {
        line.split("\t") match {
          case Array(rel, c, tag, mn, mx) if c == column =>
            Some(rootPath.resolve(rel).toString -> ((tag, dec(mn), dec(mx))))
          case _ => None
        }
      }.toOption.flatten
    }.groupMap(_._1)(_._2)
    val kept = files.filter { f =>
      byFile.getOrElse(f, Nil).forall { case (tag, mn, mx) =>
        scala.util.Try(permits(tag, mn, mx)).getOrElse(true)
      } // no stats rows: never skip
    }
    (kept, files.size)
  }

  // an evolved snapshot reads through its recorded unified schema —
  // pre-evolution files fill the added columns with NULL
  private def readFiles(spark: SparkSession, s: Snapshot, files: Seq[String]): DataFrame =
    readSubset(spark, s.schema, files)

  /** Read an arbitrary manifest-file subset under an explicit recorded
    * schema, restoring hive partition columns whatever version
    * directories the files live in: a single-owner subset reads under
    * its owning directory's basePath (the schema types its partition
    * columns); an unpartitioned multi-directory subset reads flat (no
    * partition columns to restore); a PARTITIONED multi-directory subset — the
    * partitioned append/maintenance chains of round-13 ask #2 — reads
    * one per-directory basePath group at a time, unioned under the
    * snapshot's recorded full schema, which pins partition column types
    * so per-group inference can never flicker between directories.
    * Filters on partition columns still prune: each branch of the union
    * is an ordinary hive layout under its own basePath.
    */
  private def readSubset(spark: SparkSession, schema: StructType, files: Seq[String]): DataFrame = {
    def rd = spark.read.schema(schema)
    val groups = files.groupBy(owningVersionDir).toSeq.sortBy(_._1)
    if (groups.size == 1)
      rd.option("basePath", groups.head._1).parquet(files: _*)
    else if (partitionKeysOf(files).isEmpty)
      rd.parquet(files: _*)
    else
      groups.map { case (dir, fs) => rd.option("basePath", dir).parquet(fs: _*) }.reduce(_ unionByName _)
  }

  /** Read the published snapshot (errors on a never-committed table, like
    * reading a missing path).
    */
  def read(spark: SparkSession): DataFrame = readVersion(spark, latestVersion()
    .getOrElse(throw new IllegalStateException(s"no published version under $root")))

  /** Read one pinned snapshot — time travel over retained versions — and
    * the one read path of this table: [[read]] and [[readAsOf]] resolve a
    * version and land here. Files come from the snapshot's commit record
    * (no directory LIST); a version without one fails by name.
    */
  def readVersion(spark: SparkSession, v: Long): DataFrame = {
    // the INTEGRATED skipping relation (round-13 ask #1): a
    // SnapshotFileIndex under a stock parquet HadoopFsRelation, so a
    // plain read().filter() prunes files through the _stats sidecar
    // without the caller knowing any API, and hive partition pruning
    // evaluates against per-file path-parsed values in the SAME
    // listing, composing with the stats walk (one scan even when a
    // partitioned chain spans version directories). Evolution still
    // holds: the relation's dataSchema is the recorded unified schema,
    // so pre-evolution files NULL-fill. The schema comes from the record,
    // so resolving the relation opens no file and runs no job.
    readIndexed(spark, published(v))
  }

  /** The integrated-skipping relation behind [[readVersion]]: a
    * [[SnapshotFileIndex]] (which receives the query's pushed partition
    * AND data filters and runs partition pruning plus the min/max +
    * point-set + Bloom prune walk before task planning) under a stock
    * parquet HadoopFsRelation — Spark executes the survivors with its
    * ordinary vectorized/codegen scan. A snapshot whose partition
    * values the index cannot type (exotic partition column types —
    * see SnapshotFileIndex.partValuesOf) falls back to the
    * per-directory hive read: integration is an optimization, never
    * semantics.
    */
  private def readIndexed(spark: SparkSession, s: Snapshot): DataFrame = {
    val files = s.files
    val fullSchema = s.schema
    val partKeys = partitionKeysOf(files)
    val partSchema = StructType(partKeys.map(k =>
      fullSchema.fields.find(_.name == k).getOrElse(throw new IllegalStateException(
        s"partition column '$k' missing from snapshot v=${s.version}'s schema under $root"))))
    val dataSchema = StructType(
      fullSchema.fields.filterNot(f => partKeys.contains(f.name)))
    scala.util.Try(new SnapshotFileIndex(this, s.version, files, partSchema)) match {
      case scala.util.Success(index) =>
        val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
          location = index,
          partitionSchema = partSchema,
          dataSchema = dataSchema,
          bucketSpec = None,
          fileFormat =
            new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
          options = Map.empty)(spark)
        spark.baseRelationToDataFrame(relation)
      case scala.util.Failure(_) => readFiles(spark, s, files)
    }
  }

  /** Drop all but the newest `keep` snapshots (never the published one).
    * A version goes whole or not at all — record first, then its data
    * directory — and a version whose directory a RETAINED record still
    * reads from stays, record included: append-committed snapshots carry
    * files from older directories, and deleting those would corrupt the
    * live table (the same reason Delta's VACUUM walks the retained log).
    * Callers own the retention contract: only vacuum past the oldest
    * snapshot an in-flight reader may still hold.
    */
  def vacuum(keep: Int = 2): Unit =
    reclaim(versions().reverse.drop(math.max(keep, 1)))

  /** Retention-window vacuum — the enforcement half of [[readAsOf]]'s
    * caveat ("only vacuum past the oldest timestamp any report still
    * replays"): drop snapshots PUBLISHED before `cutoff`, always
    * keeping the newest `keep` regardless of age, never the published
    * head, and never a version a retained record still reads from.
    */
  def vacuumOlderThan(cutoff: java.time.Instant, keep: Int = 1): Unit = {
    val ms = cutoff.toEpochMilli
    reclaim(versions().reverse.drop(math.max(keep, 1))
      .filter(v => commitTimestamp(v).exists(_ < ms)))
  }

  /** Shared vacuum tail. Retained records pin the directories their
    * files live in; a candidate whose own directory is pinned is retained
    * too (fixpoint, so its own references hold). The rest go, record
    * first. Then the dead attempts: a data directory no record claims,
    * named for a version at or below the head, belongs to a crashed or
    * conflicted attempt (one above the head may still be in flight, and
    * stays), and so does a temp record at or below the head.
    */
  private def reclaim(candidates: Seq[Long]): Unit = {
    val snaps = versions().flatMap(snapshot)
    if (snaps.isEmpty) return
    val head = snaps.last.version
    def pins(s: Snapshot): Set[Path] =
      s.files.map(f => Paths.get(owningVersionDir(f))).toSet + s.dir
    val (kept, dropped) =
      snaps.partition(s => !candidates.contains(s.version) || s.version == head)
    var (pinned, drop) = (kept.flatMap(pins).toSet, dropped)
    while (drop.exists(s => pinned(s.dir))) {
      val (more, rest) = drop.partition(s => pinned(s.dir))
      pinned ++= more.flatMap(pins)
      drop = rest
    }
    drop.foreach { s =>
      Files.delete(recordPath(s.version))
      deleteTree(s.dir)
    }
    namesIn(rootPath).foreach {
      case n @ DataDirName(v) if v.toLong <= head && !pinned(rootPath.resolve(n)) =>
        deleteTree(rootPath.resolve(n))
      case _ =>
    }
    namesIn(logDir).foreach {
      case n @ TempRecordName(v) if v.toLong <= head => Files.deleteIfExists(logDir.resolve(n))
      case _ =>
    }
  }

  private def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    import scala.jdk.CollectionConverters._
    val all = Files.walk(dir)
    try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally all.close()
  }
}

/** Another writer published the version this commit was about to
  * publish: nothing of this commit is published or referenced. Retry on
  * the new head if the batch still applies.
  */
final class CommitConflictException(val root: String, val version: Long)
  extends IllegalStateException(
    s"commit conflict: another writer published v=$version under $root first")

object VersionedTable {
  def apply(root: String): VersionedTable = new VersionedTable(root)

  /** One published version as its commit record states it; `files` are
    * absolute, `dir` is the data directory the version's attempt wrote.
    */
  private final case class Snapshot(
      version: Long, timestamp: Long, dir: Path, files: Seq[String],
      schema: StructType, tag: Option[String], stats: Option[Path])

  private val RecordName = """(\d+)\.json""".r
  private val TempRecordName = """(\d+)\.json\.[^.]+\.tmp""".r
  private val DataDirName = """v=(\d+)(?:_\d+)?""".r

  /** The commit protocol's steps, in order: the head is read as the
    * base, the data directory is allocated, the data written, `_stats`
    * written, the temp record written, linked as the version's record,
    * and removed.
    */
  private[sources] val Steps: Seq[String] =
    Seq("base", "allocate", "data", "stats", "record", "link", "unlink")

  /** Default per-file Bloom width: 2^16 bits = 8 KiB per (file, column)
    * row — at 7 probes that keeps the false-positive rate under 1% to
    * ~6.5k distinct values per file, and a miss only costs the IO the
    * prune would have saved.
    */
  val DefaultBloomBits: Int = 1 << 16

  /** Materialize a corpus-scale intermediate frame once for its multiple
    * consumers: into `sink` as a committed snapshot when given — the
    * 100 TB path (fault-tolerant, resumable, inspectable, survives the
    * job) — else through [[graft.Barrier]] (the single-job path;
    * executor-local blocks, lost with the job). Both run under the
    * barrier name `name`, and both return a frame whose downstream plans
    * read materialized rows instead of recomputing the lineage. The
    * table path re-reads through parquet, so physical partitioning from
    * the producing plan is NOT carried over (a downstream join
    * re-establishes it with one exchange); the checkpoint path preserves
    * it.
    */
  def materialize(frame: DataFrame, sink: Option[VersionedTable], name: String): DataFrame =
    sink match {
      // pin the read to the version just committed — read() re-resolves
      // latestVersion(), so a concurrent committer (or a re-evaluated
      // query lambda) between commit and read would silently swap in a
      // DIFFERENT snapshot than the one this frame produced
      case Some(vt) =>
        Barrier.named(frame, name)(vt.readVersion(frame.sparkSession, vt.commit(frame)))
      case None => Barrier(frame, name)
    }
}

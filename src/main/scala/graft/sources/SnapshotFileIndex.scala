package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._

/** [[FileIndex]] over one published [[VersionedTable]] snapshot — the
  * only place the stats/bloom file-skipping ladder runs on a read, so
  * skipping is how the table reads rather than an API the caller must
  * know: Catalyst's FileSourceStrategy hands [[listFiles]] the query's
  * PUSHED data filters, supported conjuncts translate into the table's
  * `pruneFiles*` rungs — the min/max rungs, the point-set rung, the
  * Bloom rung, the null rung, composed by intersection across
  * conjuncts — and only the surviving manifest files become scan
  * tasks. Everything else about execution is stock Spark
  * (ParquetFileFormat, vectorized reader, whole-stage codegen):
  * only the LISTING is ours, exactly where Delta/Iceberg integrate
  * their data skipping (a FileIndex below the optimizer, receiving
  * pushed data filters).
  *
  * Degradation discipline is the prune walk's, inherited verbatim:
  * an unsupported or non-literal conjunct contributes no pruning; a
  * column with no stats rows keeps every file; a corrupt sidecar row
  * keeps its file; an empty surviving set is legal (zero tasks). The
  * pruning can never change results — FileSourceStrategy keeps the
  * exact filters ABOVE the scan, so kept files' non-matching rows
  * filter as usual, and a skipped file is one the sidecar PROVED holds
  * no match. Double-typed predicates widen to the enclosing integer
  * range before pruning (floor/ceil, saturating) — conservative by
  * construction, so fractional bounds can never shave a matching file.
  *
  * At 100 TB this is the read-path lever that matters most: partition
  * pruning cuts directories, THIS cuts files through the snapshot
  * manifest before task planning (no listing, no footer reads for
  * skipped files), z-order cuts row groups inside the survivors.
  *
  * HIVE-PARTITIONED snapshots integrate here too: each manifest file's
  * partition values are parsed from its own path segments at
  * construction (hive-unescaped, `__HIVE_DEFAULT_PARTITION__` → NULL,
  * typed by the snapshot's recorded schema), grouped into one
  * [[PartitionDirectory]] per value tuple — so ONE relation serves
  * partition pruning (the pushed partitionFilters evaluate against each
  * group's values, the PartitioningAwareFileIndex discipline) AND
  * stats/bloom file skipping (the dataFilters walk), composed — and a
  * partitioned append/maintenance chain whose files span version
  * directories reads as a single scan, no per-directory union. A
  * partition value the parser cannot type (exotic partition column
  * types) fails construction loudly; [[VersionedTable.readVersion]]
  * catches and falls back to the per-directory read — integration is an
  * optimization, never semantics.
  */
final class SnapshotFileIndex(
    table: VersionedTable,
    version: Long,
    manifestFiles: Seq[String],
    override val partitionSchema: StructType) extends FileIndex {

  private val statuses: Seq[(String, FileStatus)] = manifestFiles.map { abs =>
    val f = new java.io.File(abs)
    abs -> new FileStatus(f.length(), false, 1, 128L << 20, f.lastModified(),
      new Path(f.toURI))
  }

  /** Partition values of one manifest file, parsed from its hive path
    * segments (`v=3/lang=en/part….parquet` → values for
    * `partitionSchema` in order). Parsing mirrors Spark's own hive
    * reading: unescapePathName for %-escapes, DEFAULT_PARTITION_NAME →
    * NULL; values are typed by the RECORDED schema (never re-inferred,
    * so a type can't flicker between files). Supported partition types
    * are the practical hive set — string, the integer family, boolean,
    * float/double, DATE; anything else throws and the caller falls back
    * to the non-indexed read.
    */
  private def partValuesOf(abs: String): Seq[Any] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val rel = java.nio.file.Paths.get(table.root)
      .relativize(java.nio.file.Paths.get(abs)).toString
    val segs = rel.split('/').drop(1).dropRight(1)
    require(segs.length == partitionSchema.length,
      s"manifest path '$rel' does not carry the snapshot's ${partitionSchema.length} partition segment(s)")
    partitionSchema.fields.zip(segs).map { case (field, seg) =>
      val i = seg.indexOf('=')
      require(i > 0 && ExternalCatalogUtils.unescapePathName(seg.take(i)) == field.name,
        s"expected partition key '${field.name}' in '$rel', found '$seg'")
      val raw = ExternalCatalogUtils.unescapePathName(seg.drop(i + 1))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else field.dataType match {
        case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
        case ByteType => raw.toByte
        case ShortType => raw.toShort
        case IntegerType => raw.toInt
        case LongType => raw.toLong
        case BooleanType => raw.toBoolean
        case FloatType => raw.toFloat
        case DoubleType => raw.toDouble
        case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
        case other => throw new IllegalArgumentException(
          s"unsupported partition column type $other for '${field.name}'")
      }
    }.toSeq
  }

  /** One group per distinct partition-value tuple (a single all-files
    * group with an empty row for unpartitioned snapshots).
    */
  private val groups: Seq[(InternalRow, Seq[(String, FileStatus)])] =
    if (partitionSchema.isEmpty) Seq(InternalRow.empty -> statuses)
    else statuses
      .groupBy { case (abs, _) => partValuesOf(abs) }
      .toSeq
      .sortBy(_._2.head._1)
      .map { case (vals, fs) =>
        (InternalRow.fromSeq(vals): InternalRow) -> fs
      }

  override def rootPaths: Seq[Path] =
    Seq(new Path(new java.io.File(table.root).toURI))

  // URI form (file:/…), matching Spark's own InMemoryFileIndex — callers
  // parse inputFiles entries as URIs
  override def inputFiles: Array[String] = statuses.map(_._2.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  /** One prunable constraint per supported conjunct, expressed through
    * the table's `pruneFiles*` rungs, which hold what each `_stats` tag
    * proves; this index only maps predicates onto them.
    */
  private type Prune = () => Seq[String]

  private def columnOf(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name)
    case _ => None
  }

  /** A literal as a prunable value: Left = long (DATE as epoch days,
    * TIMESTAMP as epoch micros — exactly the units the `l` stats rows
    * carry), Right = string, None for anything the sidecar cannot serve
    * exactly. (scala.util-qualified: the catalyst wildcard import
    * shadows Left/Right with its own expressions.)
    */
  private def longOrString(l: Literal): Option[Either[Long, String]] =
    (l.value, l.dataType) match {
      case (null, _) => None
      case (v: java.lang.Number, ByteType | ShortType | IntegerType | LongType) =>
        Some(scala.util.Left(v.longValue()))
      case (v: java.lang.Integer, DateType) => Some(scala.util.Left(v.longValue()))
      case (v: java.lang.Long, TimestampType | TimestampNTZType) => Some(scala.util.Left(v))
      case (v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        Some(scala.util.Right(v.toString))
      case _ => None
    }

  /** Doubles widen to the enclosing long range (saturating at the Long
    * bounds) — conservative: the widened range admits every file the
    * exact range would, possibly more, never fewer.
    */
  private def doubleOf(l: Literal): Option[Double] = (l.value, l.dataType) match {
    case (null, _) => None
    // Non-finite literals refuse translation (round-14 ADVICE): NaN
    // through math.floor/ceil .toLong collapses to 0, so `col = NaN` /
    // `col >= NaN` would prune on the meaningless range [0,0] — safe
    // today ONLY because harvestStats drops NaN-bounded d rows, a
    // non-local coupling that would silently become row loss if that
    // guard ever changed. Degrade to keep-all instead. (±Infinity
    // saturates correctly through toLong, but a predicate on an infinite
    // literal matches no finite stats row either way — refusing all
    // non-finite values keeps the rule locally obvious.)
    case (v: java.lang.Float, FloatType) if !v.isNaN && !v.isInfinite =>
      Some(v.doubleValue())
    case (v: java.lang.Double, DoubleType) if !v.isNaN && !v.isInfinite => Some(v)
    case _ => None
  }

  private def range(col: String, lo: Long, hi: Long): Prune =
    () => table.pruneFiles(version, col, lo, hi)._1

  private def rangeOf(col: String, lo: Option[Either[Long, String]],
      hi: Option[Either[Long, String]]): Option[Prune] = (lo, hi) match {
    case (Some(scala.util.Left(a)), None) => Some(range(col, a, Long.MaxValue))
    case (None, Some(scala.util.Left(b))) => Some(range(col, Long.MinValue, b))
    // string bounds prune one side at a time; the two conjuncts of a
    // string range intersect in listFiles like every other pair
    case (Some(scala.util.Right(a)), None) =>
      Some(() => table.pruneFilesString(version, col, Some(a), None)._1)
    case (None, Some(scala.util.Right(b))) =>
      Some(() => table.pruneFilesString(version, col, None, Some(b))._1)
    case _ => None
  }

  private def dblRange(col: String, lo: Double, hi: Double): Prune = {
    def fl(x: Double) = math.floor(x).toLong // Double->Long saturates
    def ce(x: Double) = math.ceil(x).toLong
    range(col, fl(lo), ce(hi))
  }

  private def inSet(col: String, vs: Seq[Either[Long, String]]): Option[Prune] =
    if (vs.isEmpty) None
    else if (vs.forall(_.isLeft))
      Some(() => table.pruneFilesIn(version, col, vs.collect { case scala.util.Left(x) => x })._1)
    else if (vs.forall(_.isRight))
      Some(() => table.pruneFilesInStrings(version, col, vs.collect { case scala.util.Right(s) => s })._1)
    else None

  /** Translate one conjunct. Strict comparisons reuse the closed range
    * (a superset — conservative); flipped literal-first forms normalize.
    */
  private def translate(e: Expression): Option[Prune] = e match {
    case EqualTo(a, l: Literal) if columnOf(a).isDefined => eqPrune(columnOf(a).get, l)
    case EqualTo(l: Literal, a) if columnOf(a).isDefined => eqPrune(columnOf(a).get, l)
    case EqualNullSafe(a, l: Literal) if columnOf(a).isDefined && l.value != null =>
      eqPrune(columnOf(a).get, l)
    case EqualNullSafe(l: Literal, a) if columnOf(a).isDefined && l.value != null =>
      eqPrune(columnOf(a).get, l)
    case GreaterThanOrEqual(a, l: Literal) if columnOf(a).isDefined => lower(columnOf(a).get, l)
    case GreaterThan(a, l: Literal) if columnOf(a).isDefined => lower(columnOf(a).get, l)
    case LessThanOrEqual(a, l: Literal) if columnOf(a).isDefined => upper(columnOf(a).get, l)
    case LessThan(a, l: Literal) if columnOf(a).isDefined => upper(columnOf(a).get, l)
    case GreaterThanOrEqual(l: Literal, a) if columnOf(a).isDefined => upper(columnOf(a).get, l)
    case GreaterThan(l: Literal, a) if columnOf(a).isDefined => upper(columnOf(a).get, l)
    case LessThanOrEqual(l: Literal, a) if columnOf(a).isDefined => lower(columnOf(a).get, l)
    case LessThan(l: Literal, a) if columnOf(a).isDefined => lower(columnOf(a).get, l)
    case In(a, vs) if columnOf(a).isDefined && vs.forall(_.isInstanceOf[Literal]) =>
      val lits = vs.map(_.asInstanceOf[Literal]).flatMap(longOrString)
      // every IN member must translate, else the untranslated ones could
      // match inside a file the translated subset would prune
      if (lits.length == vs.length) inSet(columnOf(a).get, lits) else None
    case InSet(a, hset) if columnOf(a).isDefined =>
      val dt = a.dataType
      val lits = hset.toSeq.map(Literal(_, dt)).flatMap(longOrString)
      if (lits.length == hset.size) inSet(columnOf(a).get, lits) else None
    // the null rung: `n` (nullCount:rowCount) rows prove a file all-null
    // or null-free. IsNotNull matters doubly — Catalyst infers it for
    // every filtered column, so all-null files (e.g. a pre-evolution
    // column explicitly committed as NULL) drop out of ordinary filters
    case IsNotNull(a) if columnOf(a).isDefined =>
      Some(() => table.pruneFilesNotNull(version, columnOf(a).get)._1)
    case IsNull(a) if columnOf(a).isDefined =>
      Some(() => table.pruneFilesNull(version, columnOf(a).get)._1)
    case _ => None
  }

  private def eqPrune(col: String, l: Literal): Option[Prune] =
    longOrString(l).flatMap(v => inSet(col, Seq(v)))
      .orElse(doubleOf(l).map(d => dblRange(col, d, d)))

  private def lower(col: String, l: Literal): Option[Prune] =
    rangeOf(col, longOrString(l), None)
      .orElse(doubleOf(l).map(d => dblRange(col, d, Long.MaxValue.toDouble)))

  private def upper(col: String, l: Literal): Option[Prune] =
    rangeOf(col, None, longOrString(l))
      .orElse(doubleOf(l).map(d => dblRange(col, Long.MinValue.toDouble, d)))

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // partition pruning first: bind the pushed partition filters BY NAME
    // to positions in the per-group value row (the
    // PartitioningAwareFileIndex discipline) and keep the groups that
    // pass. Any binding/eval surprise degrades to keep-all — pruning is
    // an optimization, never semantics.
    val survivingGroups =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) groups
      else scala.util.Try {
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name) // throws if absent
            BoundReference(i, partitionSchema.fields(i).dataType, nullable = true)
        }
        val pred = Predicate.createInterpreted(bound)
        pred.initialize(0)
        groups.filter { case (row, _) => pred.eval(row) }
      }.getOrElse(groups)
    // then the stats walk — intersection across conjuncts: each
    // translated conjunct is an independent proof of absence, so the
    // prunable set is their union (the pruneBy composition rule, lifted
    // to the filter level). The sidecar is a small driver-side file
    // re-read per prune call — listFiles runs once per (re)plan, not
    // per task.
    val kept = dataFilters.flatMap(conjuncts).flatMap(translate)
      .foldLeft(manifestFiles.toSet) { (acc, prune) =>
        acc.intersect(prune().toSet)
      }
    survivingGroups
      .map { case (row, fs) =>
        PartitionDirectory(row, fs.collect { case (abs, st) if kept.contains(abs) => st }.toArray)
      }
      .filter(_.files.nonEmpty)
  }
}

package graft.api

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression, In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

import graft.sources.SnapshotFileIndex

/** `/forecast/`'s percentage slices, served from a driver index of the
  * snapshot's data files: one entry per file, mapping each
  * (branch, move type) to that file's (month, day, avg_percentage) rows
  * whose avg_percentage is not null, in primitive arrays.
  *
  * A snapshot data file never changes once a commit record names it, so
  * an entry, keyed by the file's path and length (and the columns it
  * reads), can never go stale: a new version lists new files, and a
  * reader pinned to an old version keeps listing the old ones.
  *
  * An entry is built on the calling thread by Spark's own parquet reader
  * (`ParquetFileFormat.buildReaderWithPartitionValues`, returning rows),
  * with no task and no Spark job; callers asking for one cold file at the
  * same time wait for one build. Entries are evicted least recently used
  * once their estimated size passes `spark.sql.autoBroadcastJoinThreshold`,
  * the size Spark already agrees to hold on the driver (and the bound
  * [[graft.LocalFold]] uses).
  */
private[graft] object SliceIndex {

  /** One (branch, move type)'s rows in one file, in file order. */
  final class Slice(val month: Array[Int], val day: Array[Int], val pct: Array[Double])

  /** One file's slices and their estimated size in bytes. */
  final class FileSlices(val slices: Map[(String, String), Slice], val bytes: Long)

  /** The slice of `pct` for (`branch`, `moveType`) in `months`, as the
    * query `pct.filter(branch, move_type, month in months, avg_percentage
    * is not null).select(month, day, avg_percentage)` returns it up to row
    * order; None when `pct` is not a snapshot read this index serves.
    */
  def slice(
      spark: SparkSession,
      pct: DataFrame,
      branch: String,
      moveType: String,
      months: Seq[Long]): Option[Seq[(Int, Int, Double)]] =
    source(pct).map { s =>
      val wanted = months.toSet
      s.files(months).flatMap { file =>
        entry(spark, s, file).slices.get((branch, moveType)).toSeq.flatMap { sl =>
          sl.month.indices.collect {
            case i if wanted(sl.month(i).toLong) => (sl.month(i), sl.day(i), sl.pct(i))
          }
        }
      }
    }

  /** The slice's columns, by name. */
  private val Roles = Seq("branch", "move_type", "month", "day", "avg_percentage")

  /** A [[SnapshotFileIndex]] parquet relation and the relation column each
    * of [[Roles]] reads.
    */
  private final case class Source(rel: HadoopFsRelation, index: SnapshotFileIndex, cols: Seq[Attribute]) {
    private val month = cols(2)

    /** The files the month predicate keeps: the pruning a scan of `pct`
      * filtered on `month` gets.
      */
    def files(months: Seq[Long]): Seq[PartitionedFile] = {
      val in: Expression = In(month, months.map(m => Literal(Cast(Literal(m), month.dataType).eval(), month.dataType)))
      val dirs =
        if (rel.partitionSchema.fieldNames.contains(month.name)) index.listFiles(Seq(in), Nil)
        else index.listFiles(Nil, Seq(in))
      for (dir <- dirs; f <- dir.files) yield
        PartitionedFile(dir.values, SparkPath.fromPath(f.getPath), 0L, f.getLen, Array.empty[String],
          f.fileStatus.getModificationTime, f.getLen)
    }
  }

  /** `pct`'s snapshot relation when its analyzed plan is one, under
    * projections that only rename columns or widen integral ones, and the
    * slice's columns have the types the query reads: strings, integral
    * months and days, a double percentage.
    */
  private def source(pct: DataFrame): Option[Source] = {
    val plan = pct.queryExecution.analyzed
    val resolver = pct.sparkSession.sessionState.conf.resolver
    relation(plan).flatMap { case (rel, index, underlying) =>
      val cols = Roles.flatMap { role =>
        plan.output.filter(a => resolver(a.name, role)) match {
          case Seq(a) => underlying.get(a).toSeq
          case _ => Nil
        }
      }
      val typed = cols.map(_.dataType) match {
        case Seq(StringType, StringType, m, d, DoubleType) => Integral(m) && Integral(d)
        case _ => false
      }
      if (typed) Some(Source(rel, index, cols)) else None
    }
  }

  /** The relation under `plan` and, for each output column, the relation
    * column it carries unchanged.
    */
  private def relation(plan: LogicalPlan): Option[(HadoopFsRelation, SnapshotFileIndex, Map[Attribute, Attribute])] =
    plan match {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case rel @ HadoopFsRelation(index: SnapshotFileIndex, _, _, None, _: ParquetFileFormat, _) =>
          Some((rel, index, l.output.map(a => (a: Attribute) -> (a: Attribute)).toMap))
        case _ => None
      }
      case Project(list, child) =>
        relation(child).flatMap { case (rel, index, m) =>
          val carried = list.map {
            case a: Attribute => m.get(a).map(a -> _)
            case al @ Alias(a: Attribute, _) => m.get(a).map(al.toAttribute -> _)
            case al @ Alias(Cast(a: Attribute, to, _, _), _)
                if Integral(a.dataType) && Integral(to) && Cast.canUpCast(a.dataType, to) =>
              m.get(a).map(al.toAttribute -> _)
            case _ => None
          }
          if (carried.forall(_.isDefined)) Some((rel, index, carried.flatten.toMap)) else None
        }
      case _ => None
    }

  private val Integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)

  // ---- the index ------------------------------------------------------

  /** A file's entry: its path, its length and the columns read. */
  private type Key = (String, Long, Seq[String])

  /** One file's slices, built by the first caller that asks for them. */
  private final class Entry(private var build: () => FileSlices) {
    private var built: FileSlices = _
    var counted = false
    def slices: FileSlices = synchronized {
      if (built == null) {
        built = build()
        build = null
      }
      built
    }
  }

  /** In access order, least recently used first. */
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var total = 0L
  private val builds = new java.util.concurrent.atomic.AtomicLong

  /** The estimated size of every held entry, in bytes. */
  private[graft] def bytes: Long = synchronized(total)

  /** The entries built so far. */
  private[graft] def built: Long = builds.get

  private def entry(spark: SparkSession, s: Source, file: PartitionedFile): FileSlices = {
    val key: Key = (file.filePath.toString, file.fileSize, s.cols.map(_.name))
    val e = synchronized(entries.computeIfAbsent(key, _ => new Entry(() => read(spark, s, file))))
    val slices = e.slices
    synchronized {
      if (!e.counted && (entries.get(key) eq e)) {
        e.counted = true
        total += slices.bytes
        val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
        val eldest = entries.values.iterator
        while (total > budget && eldest.hasNext) {
          val old = eldest.next()
          if (old.counted) {
            total -= old.slices.bytes
            eldest.remove()
          }
        }
      }
    }
    slices
  }

  /** Reads `file`'s slice columns with the relation's own parquet reader,
    * as a scan task would, closing the reader on every exit.
    */
  private def read(spark: SparkSession, s: Source, file: PartitionedFile): FileSlices = {
    builds.incrementAndGet()
    val names = s.cols.map(_.name)
    val required = StructType(s.rel.dataSchema.filter(f => names.contains(f.name)))
    val layout = (required ++ s.rel.partitionSchema).map(_.name)
    val Seq(b, mt, m, d, p) = names.map(layout.indexOf(_))
    def long(row: InternalRow, i: Int, t: DataType): Long = t match {
      case ByteType => row.getByte(i).toLong
      case ShortType => row.getShort(i).toLong
      case IntegerType => row.getInt(i).toLong
      case _ => row.getLong(i)
    }
    val (mType, dType) = (s.cols(2).dataType, s.cols(3).dataType)
    val reader = s.rel.fileFormat.buildReaderWithPartitionValues(
      spark, s.rel.dataSchema, s.rel.partitionSchema, required, Nil,
      s.rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(s.rel.options))
    val rows = reader(file)
    val grouped = scala.collection.mutable.LinkedHashMap.empty[(String, String), Builder]
    try rows.foreach { row =>
      if (!row.isNullAt(b) && !row.isNullAt(mt) && !row.isNullAt(m) && !row.isNullAt(d) && !row.isNullAt(p)) {
        val (month, day) = (long(row, m, mType), long(row, d, dType))
        // no calendar month or day lies outside int range, where the
        // query's int cast would fail
        if (month.isValidInt && day.isValidInt)
          grouped.getOrElseUpdate((row.getUTF8String(b).toString, row.getUTF8String(mt).toString), new Builder)
            .add(month.toInt, day.toInt, row.getDouble(p))
      }
    } finally rows match {
      case c: java.io.Closeable => c.close()
      case _ =>
    }
    val slices = grouped.map { case (k, v) => k -> v.result() }.toMap
    new FileSlices(slices, slices.map { case ((br, ty), sl) =>
      // three arrays and their headers, two strings, the map entry
      16L * sl.month.length + 3 * 16 + 2 * 40 + 2L * (br.length + ty.length) + 48
    }.sum)
  }

  private final class Builder {
    private val month = Array.newBuilder[Int]
    private val day = Array.newBuilder[Int]
    private val pct = Array.newBuilder[Double]
    def add(m: Int, d: Int, p: Double): Unit = { month += m; day += d; pct += p }
    def result(): Slice = new Slice(month.result(), day.result(), pct.result())
  }
}

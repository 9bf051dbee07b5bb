package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Forecast
import graft.sources.Tables

/** Seeded inputs. Every generated value is a pure function of the seed, so
  * the same seed yields byte-identical tables and request streams. Tables
  * are written once per seed under the cache directory and reused.
  */
object Inputs {

  /** Serving "today": requests ask about dates between here and the
    * program's horizon cap, so the clamped window always lies past the
    * 2019-2024 history the models are fitted on.
    */
  val Today: LocalDate = LocalDate.parse("2025-05-01")

  /** The reference does not list its move types; three keep the dense
    * percentages table at 110 x 366 x 3 rows.
    */
  val MoveTypes: Seq[String] = Seq("household", "office", "vehicle")

  val HistoryStart: LocalDate = LocalDate.of(Tables.YearLo, 1, 1)

  /** The seed of the inputs every run shares, whatever `--seed` is: the
    * history, and the reference requests and corpus whose outputs are
    * committed under `perfbench/digests/`.
    */
  val ReferenceSeed = 1L

  val HistoryDays: Int =
    java.time.temporal.ChronoUnit.DAYS.between(HistoryStart, LocalDate.of(Tables.YearHi + 1, 1, 1)).toInt

  /** Mean events per branch-day, before seasonality: ~0.5 M events over
    * the six years and 110 branches.
    */
  private val MeanPerBranchDay = 2.0

  // uniform in (0, 1) from a 64-bit hash of (seed, parts...)
  private def unif(seed: Long, parts: Column*): Column =
    (pmod(xxhash64((lit(seed) +: parts): _*), lit(1L << 24)).cast("double") + 0.5) / (1L << 24).toDouble

  /** Events for the day indices in [dayLo, dayHi), in the testdata
    * `events` schema. `salt` separates independent draws of the same days.
    */
  def events(spark: SparkSession, seed: Long, salt: Long, dayLo: Int, dayHi: Int, parts: Int): DataFrame = {
    val nb = Tables.BranchCount.toLong
    val cells = spark.range(dayLo * nb, dayHi * nb, 1, parts)
      .select(col("id").as("cell"), (col("id") / nb).cast("int").as("day"), pmod(col("id"), lit(nb)).as("b"))
      .withColumn("date", date_add(lit(java.sql.Date.valueOf(HistoryStart)), col("day")))
    // branch size follows a Zipf-like law; summer peak, weekend lift, slow growth
    val branchW = lit(2.2) / pow(col("b") + 1.0, lit(0.45))
    val season = lit(1.0) + lit(0.35) * sin((dayofyear(col("date")) - 100) * (2 * math.Pi / 365.25))
    val week = when(dayofweek(col("date")).isin(1, 7), 1.2).otherwise(1.0)
    val trend = lit(1.0) + (year(col("date")) - Tables.YearLo) * 0.04
    val mean = lit(MeanPerBranchDay) * branchW * season * week * trend
    val gauss = sqrt(lit(-2.0) * log(unif(seed, lit(salt), col("cell"), lit(1)))) *
      cos(unif(seed, lit(salt), col("cell"), lit(2)) * (2 * math.Pi))
    val n = greatest(lit(0L), round(mean + sqrt(mean) * gauss).cast("long"))
    cells
      .withColumn("n", n)
      .filter(col("n") > 0)
      .withColumn("k", explode(sequence(lit(1L), col("n"))))
      .select(
        (lit(salt) * (1L << 40) + col("cell") * 1000L + col("k")).as("event_id"),
        timestamp_seconds(
          unix_timestamp(col("date").cast("timestamp")) +
            pmod(xxhash64(lit(seed), lit(salt), col("cell"), col("k"), lit(3)), lit(86400L)))
          .as("ts"),
        (col("b") + lit(nb) * pmod(xxhash64(lit(seed), lit(salt), col("cell"), col("k"), lit(4)), lit(40L)))
          .as("user_id"),
        moveType(col("b"), unif(seed, lit(salt), col("cell"), col("k"), lit(5))).as("event_type"),
        (floor(unif(seed, lit(salt), col("cell"), col("k"), lit(6)) * 20000) / 100.0).as("value"),
        concat(lit("{\"k\": "),
          pmod(xxhash64(lit(seed), lit(salt), col("cell"), col("k"), lit(7)), lit(100L)).cast("string"),
          lit("}")).as("props"))
  }

  // branch-dependent move-type mix: shares 55/30/15 rotated by branch
  private def moveType(b: Column, u: Column): Column = {
    val shares = Seq(0.55, 0.30, 0.15)
    val slot = shares.scanLeft(0.0)(_ + _).tail.zipWithIndex
      .foldRight(lit(shares.size - 1)) { case ((hi, i), acc) => when(u < hi, lit(i)).otherwise(acc) }
    element_at(array(MoveTypes.map(lit): _*), (pmod(slot + b.cast("int"), lit(MoveTypes.size)) + 1))
  }

  /** The 2019-2024 history `Tables.historicalData` and
    * `Tables.forecastingDataAll` read: `<dir>/events.parquet`. The
    * benchmark draws it from [[ReferenceSeed]], like a database snapshot
    * that every run serves; the run's seed drives the requests and refresh
    * days.
    */
  def history(spark: SparkSession, seed: Long, cache: Path): String =
    cached(cache.resolve(s"history-$seed")) { dir =>
      events(spark, seed, salt = 0L, 0, HistoryDays, parts = 8)
        .write.parquet(dir.resolve("events.parquet").toString)
    }

  /** One new day of events for precompute cycle `cycle`: a fresh draw for
    * a day inside the history window, so every cycle changes the
    * percentages a request can read.
    */
  def newDay(spark: SparkSession, seed: Long, cycle: Int): DataFrame = {
    val day = new SplittableRandom(seed * 7919 + cycle).nextInt(HistoryDays)
    events(spark, seed, salt = 1L + cycle, day, day + 1, parts = 1)
  }

  // ------------------------------------------------------------------
  // Curation-batch inputs: `documents` and `lineitem` in the testdata
  // schema. Documents draw words from the testdata's 30-word vocabulary;
  // one in ten is a light edit of an earlier document (tagged "dup"), so
  // the near-duplicate joins have real pairs to find.
  // ------------------------------------------------------------------

  private val Vocab = ("spark window merge table column vector stream value data small join filter " +
    "big group hash customer sort order slow line part fast row the agg key query a scan batch")
    .split(' ').toIndexedSeq
  private val Langs = Seq("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.15)

  def batch(spark: SparkSession, seed: Long, cache: Path, docs: Int, lineitems: Long): String =
    cached(cache.resolve(s"batch-$seed")) { dir =>
      import spark.implicits._
      val rnd = new SplittableRandom(seed)
      val texts = new Array[String](docs)
      val rows = (0 until docs).map { i =>
        val text =
          if (i >= 10 && rnd.nextInt(10) == 0) {
            val words = texts(rnd.nextInt(i)).split(' ').toBuffer
            (0 until 1 + rnd.nextInt(3)).foreach(_ => words(rnd.nextInt(words.size)) = Vocab(rnd.nextInt(Vocab.size)))
            (words :+ "dup").mkString(" ")
          } else Seq.fill(8 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
        texts(i) = text
        val u = rnd.nextDouble()
        val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }.tail
          .find(_._2 > u).map(_._1).getOrElse("de")
        (i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
      }
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)

      val u = (k: Int) => unif(seed, col("id"), lit(k))
      spark.range(0, lineitems, 1, 4)
        .select(
          (col("id") / 4).cast("long").as("l_orderkey"),
          floor(u(1) * 20000).cast("long").as("l_partkey"),
          floor(u(2) * 1000).cast("long").as("l_suppkey"),
          (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
          (floor(u(3) * 50) + 1).as("l_quantity"),
          round((floor(u(3) * 50) + 1) * (lit(900.0) + u(4) * 1100), 2).as("l_extendedprice"),
          (floor(u(5) * 11) / 100).as("l_discount"),
          (floor(u(6) * 9) / 100).as("l_tax"),
          when(u(7) < 0.25, "R").when(u(7) < 0.5, "A").otherwise("N").as("l_returnflag"),
          when(u(8) < 0.5, "O").otherwise("F").as("l_linestatus"),
          timestamp_seconds(lit(788918400L) + floor(u(9) * 2500).cast("long") * 86400L).as("l_shipdate"))
        .write.parquet(dir.resolve("lineitem.parquet").toString)
    }

  /** Generate into a temporary sibling and rename, so an interrupted run
    * never leaves a half-written cache entry behind.
    */
  private def cached(dir: Path)(write: Path => Unit): String = {
    if (!Files.isDirectory(dir)) {
      val tmp = dir.resolveSibling(dir.getFileName.toString + s".tmp-${ProcessHandle.current.pid}")
      write(tmp)
      Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    dir.toString
  }

  // ------------------------------------------------------------------
  // Request streams. The mix is a guess (the reference has no traffic
  // logs): 70% /forecast/ with a move type, 10% without, 15%
  // /historical_trends/, 5% quirk requests. Branches are Zipf(1.1)
  // over the 110; dates are uniform over the serving horizon.
  // ------------------------------------------------------------------

  sealed trait Kind
  case object ForecastMt extends Kind
  case object ForecastAll extends Kind
  case object TrendsReq extends Kind
  case object BadDate extends Kind
  case object PastMax extends Kind
  case object UnknownMt extends Kind

  final case class Request(kind: Kind, branch: String, date: String, moveType: Option[String]) {
    def isForecast: Boolean = kind != TrendsReq
    /** Identity of the response: two requests with equal keys read the
      * same snapshot version and must return the same rows.
      */
    def key: String = s"${if (isForecast) "F" else "T"}|$branch|$date|${moveType.getOrElse("-")}"
  }

  private val ZipfCdf: Array[Double] = {
    val w = (1 to Tables.BranchCount).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** The mix as a fixed, evenly spread cycle of 20 kinds ('Q' = quirk):
    * every run of a few requests then holds close to the same shares, so
    * run-to-run differences come from the program, not from the draw.
    */
  private val Cycle = "FFTFFAFFTFFFQFTFFAFF"

  /** Where each caller starts in [[Cycle]]. A run measures only a few
    * requests per caller, so the starts are chosen such that the callers'
    * first two requests together already hold /forecast/ with and without
    * a move type and /historical_trends/, and their first three hold them
    * in close to their shares.
    */
  private val CallerStart = Array(0, 5, 9, 13)

  /** Caller `caller`'s stream: its i-th request depends only on
    * (seed, caller, i).
    */
  def request(seed: Long, caller: Int, i: Int): Request = {
    val rnd = new SplittableRandom(seed * 1000003L + caller * 10007L + i)
    val rank = ZipfCdf.indexWhere(_ > rnd.nextDouble()) max 0
    // Zipf ranks map to branches through a seeded rotation
    val branch = s"B${Math.floorMod(rank * 37 + seed, Tables.BranchCount.toLong)}"
    val horizon = java.time.temporal.ChronoUnit.DAYS.between(Today, Forecast.MaxDate).toInt
    val date = Today.plusDays(rnd.nextInt(horizon + 1)).toString
    val mt = MoveTypes(rnd.nextInt(MoveTypes.size))
    val pos = i + CallerStart(caller)
    Cycle(pos % Cycle.length) match {
      case 'F' => Request(ForecastMt, branch, date, Some(mt))
      case 'A' => Request(ForecastAll, branch, date, None)
      case 'T' => Request(TrendsReq, branch, date, Some(mt))
      case _ => (pos / Cycle.length) % 3 match {
        case 0 => Request(BadDate, branch, date.replace('-', '/'), Some(mt))
        case 1 => Request(PastMax, branch, Forecast.MaxDate.plusDays(1 + rnd.nextInt(150)).toString, Some(mt))
        case _ => Request(UnknownMt, branch, date, Some("relocation"))
      }
    }
  }

  /** Most callers any workload runs. */
  val MaxCallers = 4

  /** The requests whose responses are committed: the first of each kind
    * in the reference seed's streams, so every quirk rule is covered.
    */
  def referenceRequests: Seq[Request] =
    (0 until 100).flatMap(i => (0 until MaxCallers).map(c => request(ReferenceSeed, c, i)))
      .groupBy(_.kind).values.map(_.head).toSeq.sortBy(_.key)

  /** The first `n` requests of each caller, written once per seed as one
    * tab-separated file per caller and read back from there.
    */
  def requestStreams(seed: Long, n: Int, cache: Path): IndexedSeq[IndexedSeq[Request]] = {
    val dir = cached(cache.resolve(s"requests-$seed-$n")) { tmp =>
      Files.createDirectories(tmp)
      (0 until MaxCallers).foreach { c =>
        val lines = (0 until n).map { i =>
          val r = request(seed, c, i)
          s"${r.kind}\t${r.branch}\t${r.date}\t${r.moveType.getOrElse("")}"
        }
        Files.write(tmp.resolve(s"caller-$c.tsv"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
    }
    val kinds = Seq(ForecastMt, ForecastAll, TrendsReq, BadDate, PastMax, UnknownMt).map(k => k.toString -> k).toMap
    (0 until MaxCallers).map { c =>
      Files.readAllLines(Path.of(dir, s"caller-$c.tsv"), StandardCharsets.UTF_8).toArray(Array.empty[String])
        .toIndexedSeq.map { l =>
          val f = l.split("\t", -1)
          Request(kinds(f(0)), f(1), f(2), Option(f(3)).filter(_.nonEmpty))
        }
    }
  }
}

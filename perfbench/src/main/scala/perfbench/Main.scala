package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Entry point: `--workload <serve|batch> --seed <n>
  * --seconds <s> --trace <0|1>`, run from the root of a checkout. Prints
  * one line of host sentinels, then the result as the last line of
  * standard output.
  *
  * `--record <file>` instead writes the reference digests to `<file>`:
  * the responses to [[Inputs.referenceRequests]], or every batch query's
  * output over the reference corpus.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, record: Option[Path])

  /** Requests per caller written to the request cache; a caller wraps
    * around at the end.
    */
  val StreamLength = 200

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Map.empty)
    val root = Path.of("").toAbsolutePath
    val work = root.resolve(".bench_build").resolve("perfbench")
    val cache = Files.createDirectories(work.resolve("cache"))
    val run = Files.createDirectories(work.resolve(s"run-${ProcessHandle.current.pid}"))
    val code =
      try {
        val ctx = Ctx(a, root, cache, run)
        val result = a.workload match {
          case "serve" => ServeRun(ctx, callers = Inputs.MaxCallers min Sentinels.nproc)
          case "batch" => BatchRun(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload '$w'")
        }
        a.record match {
          case Some(_) => 0
          case None =>
            if (a.trace) {
              val f = work.resolve(s"spans-${a.workload}-${a.seed}.jsonl")
              Trace.write(f)
              System.err.println(s"perfbench: spans written to $f")
            }
            println(ctx.sentinels)
            println(result)
            0
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${a.workload} failed: $e")
          e.printStackTrace()
          1
      } finally deleteTree(run)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is already out
    Runtime.getRuntime.halt(code)
  }

  private def parse(l: List[String], m: Map[String, String]): Args = l match {
    case k :: v :: rest if k.startsWith("--") => parse(rest, m + (k.drop(2) -> v))
    case Nil =>
      Args(m.getOrElse("workload", "serve"), m.getOrElse("seed", "1").toLong,
        m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1", m.get("record").map(Path.of(_)))
    case bad => throw new IllegalArgumentException(s"bad arguments: ${bad.mkString(" ")}")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def session(): SparkSession = GraftSession.getOrCreate(s"local[${Sentinels.nproc}]")

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Committed reference digests: `key<TAB>digest` lines. */
  def committedDigests(root: Path, name: String): Map[String, String] =
    Files.readAllLines(root.resolve("perfbench").resolve("digests").resolve(name), StandardCharsets.UTF_8)
      .asScala.filter(_.contains('\t'))
      .map { l => val i = l.lastIndexOf('\t'); l.take(i) -> l.drop(i + 1) }.toMap

  def writeDigests(f: Path, entries: Seq[(String, String)]): Unit = {
    Files.createDirectories(f.getParent)
    Files.write(f, entries.sorted.map { case (k, d) => s"$k\t$d" }.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

/** What every workload shares: arguments, paths, the result line. */
final case class Ctx(args: Main.Args, root: Path, cache: Path, run: Path) {
  val failures = new ConcurrentLinkedQueue[String]()
  @volatile var attempted = 0L
  @volatile var failed = 0L
  private val host = new Sentinels.Window

  def fail(what: String): Unit = synchronized { failed += 1; failures.add(what) }

  def sentinels: String = Json.obj(Seq(
    "sentinels" -> Json.obj(Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "nproc" -> Sentinels.nproc.toString,
      "steal_cores" -> Json.num(host.stealCores),
      "external_load" -> Json.num(host.externalLoad),
      "jvm_max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "git_commit" -> Json.str(Sentinels.gitCommit(root)),
      "failures" -> failures.asScala.take(20).map(Json.str).mkString("[", ", ", "]")))))

  /** The result line: end-to-end metrics untraced, per-layer traced. */
  def result(metrics: Seq[(String, Double, String)]): String = {
    failures.asScala.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
    Json.obj(Seq(
      "correct" -> (failed == 0 && attempted > 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }
}

package graft.sources

/** Stops a [[VersionedTable]] commit after one protocol step, through the
  * table's step seam, leaving on disk exactly what a crash there leaves.
  */
object CrashPoint {
  final class Crash(val step: String) extends RuntimeException(s"crash after step '$step'")

  /** The protocol's steps, in order (see [[VersionedTable]]'s class doc). */
  val steps: Seq[String] = VersionedTable.Steps

  /** Run `body` (a commit on `t`), stopping it after `step`. */
  def crashAfter(t: VersionedTable, step: String)(body: => Any): Unit = {
    require(steps.contains(step), s"unknown step $step")
    t.afterStep = s => if (s == step) throw new Crash(s)
    try {
      body
      throw new AssertionError(s"the commit never reached step '$step'")
    } catch {
      case c: Crash if c.step == step => ()
    } finally t.afterStep = _ => ()
  }

  /** Run `between` when `t`'s next commit reaches `step`, then let it go on. */
  def interleave[T](t: VersionedTable, step: String)(between: => Unit)(body: => T): T = {
    require(steps.contains(step), s"unknown step $step")
    t.afterStep = s => if (s == step) { t.afterStep = _ => (); between }
    try body finally t.afterStep = _ => ()
  }
}

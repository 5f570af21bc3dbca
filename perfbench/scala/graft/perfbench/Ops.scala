package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** Failure accounting for timed operations. An operation that throws,
  * or whose output check returns an error, counts as failed and its
  * time is dropped: only operations that completed AND passed their
  * check contribute a timing. */
final class Ops {
  private var nAttempted = 0
  private var nFailed = 0
  val errors: ArrayBuffer[String] = ArrayBuffer.empty

  def attempted: Int = nAttempted
  def failed: Int = nFailed
  def failedShare: Double = if (nAttempted == 0) 0.0 else nFailed.toDouble / nAttempted

  /** Runs `body`, then `check` on its value (None = correct). Returns
    * the value and its wall seconds, or None when the operation failed. */
  def timed[T](name: String)(body: => T)(check: T => Option[String]): Option[(T, Double)] = {
    nAttempted += 1
    val t0 = System.nanoTime()
    val outcome =
      try Right(body)
      catch { case e: Throwable => Left(s"threw ${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}") }
    val secs = (System.nanoTime() - t0) / 1e9
    outcome.flatMap(v => check(v).toLeft(v)) match {
      case Right(v) => Some((v, secs))
      case Left(err) => fail(name, err); None
    }
  }

  /** Counts an operation whose outcome is only known later; pair it
    * with [[fail]] if that outcome is a failure. */
  def attempt(): Unit = nAttempted += 1

  /** Records the failure of an already-attempted operation. */
  def fail(name: String, err: String): Unit = {
    nFailed += 1
    errors += s"$name: $err"
  }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.take(1).mkString).getOrElse("")
}

/** The closed loop both workloads run. A pass returns its value and
  * wall seconds, or None when it failed (see [[Ops.timed]]); a failed
  * pass ends the loop. */
object Passes {

  /** Untraced run: a warm-up pass (checked, not timed), then `minTimed`
    * timed passes whatever the budget, more while another pass as long
    * as the last fits in `seconds` of timed passes. Returns the timed
    * passes. */
  def timed[T](seconds: Double, minTimed: Int)(pass: () => Option[(T, Double)]): Seq[(T, Double)] = {
    val done = ArrayBuffer.empty[(T, Double)]
    def more = done.size < minTimed || done.map(_._2).sum + done.last._2 <= seconds
    var ok = pass().isDefined
    Timeline.mark("warmup")
    while (ok && more) pass() match {
      case Some(r) => done += r
      case None => ok = false
    }
    Timeline.mark("passes")
    done.toSeq
  }

  /** Traced run: two warm-up passes (the JIT still speeds up the pass
    * after the first), then one pass with the tracer attached between
    * two untraced passes. Returns the traced pass and the tracing
    * overhead in %: traced minus untraced pass time, over untraced,
    * where untraced is the mean of the two around it. */
  def traced[T](plain: () => Option[(T, Double)], traced: () => Option[(T, Double)])
      : Option[((T, Double), Metric)] =
    for {
      _ <- plain()
      _ <- plain()
      (_, before) <- plain()
      r <- traced()
      (_, after) <- plain()
      base = (before + after) / 2
    } yield (r, Metric("trace.overhead_pct", 100 * (r._2 - base) / base, "%"))
}

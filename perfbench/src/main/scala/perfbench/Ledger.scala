package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Failure-aware accounting of a run's operations (catalog keys, micro-batches,
  * executions, output checks). An operation that throws, or a check that does
  * not hold, counts as failed and never yields a timing, so a failure can
  * not be mistaken for a fast success.
  */
final class Ledger {
  private var attemptedOps = 0
  private val failedOps = ArrayBuffer.empty[(String, String)]

  def attempted: Int = attemptedOps
  def failed: Int = failedOps.size
  /** (operation, reason) for every failed operation, in order. */
  def failures: Seq[(String, String)] = failedOps.toSeq

  /** Runs one operation; an exception marks it failed and gives None. */
  def attempt[T](name: String)(op: => T): Option[T] = {
    attemptedOps += 1
    try Some(op)
    catch { case NonFatal(e) => failedOps += name -> e.toString; None }
  }

  /** Runs one output check; false or an exception marks it failed. */
  def check(name: String)(ok: => Boolean): Boolean =
    attempt(name)(ok) match {
      case Some(true) => true
      case Some(false) => failedOps += name -> "output check failed"; false
      case None => false
    }

  /** Records `n` operations that could not run, e.g. the batches a stopped
    * streaming query never reached.
    */
  def lost(name: String, n: Int, reason: String): Unit =
    if (n > 0) {
      attemptedOps += n
      (0 until n).foreach(_ => failedOps += name -> reason)
    }
}

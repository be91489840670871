package graft

import org.scalatest.Assertions._

/** The driver == distributed harness for the driver-local fast paths
  * (Ivf.train and the dedup cluster relation).
  * A fast path is only legal because it is a semantic no-op, so every spec
  * runs the same body twice: under the heap-derived collect budget, which
  * takes the fast path on the small inputs the specs use, and under a zero
  * budget, which forces every fast path to its distributed fallback. */
object DriverPaths {

  /** `body` under a collect budget of `bytes` (see [[DriverCollect]]). */
  def withBudget[T](bytes: Long)(body: => T): T =
    DriverCollect.budgetOverride.withValue(Some(bytes))(body)

  /** `body` with every driver fast path forced to its distributed twin. */
  def distributed[T](body: => T): T = withBudget(0L)(body)

  /** Runs `body` on both paths, asserts the results equal, and returns the
    * driver path's result. */
  def bothAgree[T](label: String)(body: => T): T = {
    val driver = body
    val dist = distributed(body)
    assert(driver == dist,
      s"$label: driver path != distributed path:\n driver=$driver\n distributed=$dist")
    driver
  }
}

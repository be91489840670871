package graft

import scala.util.DynamicVariable

import org.apache.spark.sql.Dataset

/** How much a driver-local fast path may collect, decided for both of them:
  * IVF training (`Ivf.driverTrain`) and the dedup cluster relation
  * (`TextQueries.driverClusterRelation`) each fall back to a distributed
  * twin when their input does not fit. One byte budget per collect,
  * maxMemory / 64 of the live driver heap (48 MB at 3 GiB, 128 MB at
  * 8 GiB), so a small heap lowers every cap instead of OOMing. A caller
  * states only the worst-case heap bytes of one collected row and, where its
  * local work outgrows the input, a compute cap in rows. */
object DriverCollect {

  /** Replaces the heap-derived budget for the calling thread. Tests only:
    * `Some(0L)` forces every fast path to its distributed fallback. */
  private[graft] val budgetOverride = new DynamicVariable[Option[Long]](None)

  /** All rows of `ds`, or None when they exceed the budget at `rowBytes`
    * each or `computeCap` rows. One action, `limit(cap + 1)` then collect:
    * "too many" shows without a count, and an overflow wastes at most one
    * budget of rows. `ds` must use a primitive encoder (longs, tuples of
    * longs, `Array[Double]`), so `rowBytes` is the real heap cost and no
    * row is boxed element by element. */
  def collect[T](ds: Dataset[T], rowBytes: Long,
      computeCap: Long = Long.MaxValue): Option[Array[T]] = {
    val budget = budgetOverride.value.getOrElse(Runtime.getRuntime.maxMemory / 64)
    val cap = math.min(math.min(budget / math.max(rowBytes, 1L), computeCap),
      Int.MaxValue - 1L).toInt
    if (cap <= 0) None
    else {
      val rows = ds.limit(cap + 1).collect()
      if (rows.length > cap) None else Some(rows)
    }
  }
}

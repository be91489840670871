package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Session-scoped memoization shared by the table readers
  * ([[graft.sources.Tables]]) and the expensive multi-consumer pipelines
  * (TextQueries.dedupClusters). One JVM can host many SparkSessions over its
  * lifetime (every ScalaTest suite, Verify run and Bench run builds one), so
  * entries are keyed by `applicationId + startTime + identityHashCode` and a
  * hit additionally requires the cached entry's session to be THE SAME
  * object (`eq`) with a live context — two sessions sharing one
  * SparkContext (`newSession()`/`cloneSession()`) have distinct session
  * state (function registry, confs), so handing one session's DataFrame to
  * the other would silently bind the wrong state. Distinct sessions that
  * collide on a key simply rebuild (correct, merely un-memoized). Any cache
  * MISS sweeps entries whose owning context has stopped, and the map keeps
  * entries for at most [[MaxSessions]] distinct sessions (stalest evicted
  * first), so stale values (in particular lazily-checkpointed DataFrames
  * from discarded `newSession()` children whose shared context never
  * stops) cannot accumulate for the JVM lifetime on a multi-session host.
  *
  * Cache-coherence contract: values are keyed by a caller-chosen tag that
  * embeds the source directory; the test datasets are immutable per path
  * (a mutable corpus would key on a snapshot/version id instead).
  *
  * Builds are NOT locked: concurrent misses may build twice, but every
  * cached value in this engine is deterministic by construction, so
  * last-put-wins is byte-identical to the first build. That keeps the
  * common hit path a single lock-free map read.
  */
object SessionCache {
  private final case class Entry(session: SparkSession, value: AnyRef)

  private val map = new ConcurrentHashMap[(String, String), Entry]()

  /** Cap on DISTINCT sessions holding entries. `sweepStopped` can only
    * reclaim sessions whose CONTEXT stopped — a session-per-job pattern
    * over one long-lived SparkContext (`newSession()` per unit of work)
    * never stops the context, and each discarded session's entries
    * (memoized table DataFrames, pinned checkpoint plans) would otherwise
    * accumulate for the JVM lifetime. Beyond the cap, the stalest
    * sessions' entries are dropped wholesale: evicting a LIVE session's
    * entries is always safe (values rebuild on next use; a lost pin
    * degrades to the benign log-ERROR documented on [[pin]], and only if
    * that session still has task events in flight — vanishingly unlikely
    * for the least-recently-USED session). */
  private val MaxSessions = 8
  private val tick = new java.util.concurrent.atomic.AtomicLong()
  private val lastTouch = new ConcurrentHashMap[String, java.lang.Long]()

  private def sessionKey(s: SparkSession): String =
    s.sparkContext.applicationId + "/" + s.sparkContext.startTime + "/" +
      Integer.toHexString(System.identityHashCode(s))

  private def touch(sKey: String): Unit =
    lastTouch.put(sKey, tick.incrementAndGet())

  /** Drops stopped-context entries, then — if more than [[MaxSessions]]
    * distinct sessions remain — the stalest sessions' entries (never the
    * calling session's). */
  private def sweepStopped(current: String): Unit = {
    val it = map.entrySet().iterator()
    while (it.hasNext)
      if (it.next().getValue.session.sparkContext.isStopped) it.remove()
    val present = new scala.collection.mutable.HashSet[String]
    map.keySet().forEach(k => { present += k._1; () })
    // The caller is about to insert an entry for `current` — count it now
    // so the map never exceeds MaxSessions distinct sessions after the put.
    present += current
    if (present.size > MaxSessions) {
      val stalest = present.toSeq
        .filter(_ != current)
        .sortBy(k => Option(lastTouch.get(k)).map(_.longValue).getOrElse(0L))
        .take(present.size - MaxSessions)
        .toSet
      val it2 = map.keySet().iterator()
      while (it2.hasNext) if (stalest(it2.next()._1)) it2.remove()
    }
    // lastTouch strictly shadows map's session keys — drop orphans so it
    // cannot outgrow the map it orders.
    val remaining = new scala.collection.mutable.HashSet[String]
    map.keySet().forEach(k => { remaining += k._1; () })
    lastTouch.keySet().removeIf(k => !remaining.contains(k))
  }

  /** The memoized value for (session, tag), building (and sweeping dead
    * sessions' entries) on miss. A hit whose owning context has since been
    * stopped — or whose entry belongs to a DIFFERENT session object that
    * collided on the key — is rebuilt rather than handed out. */
  def getOrBuild[T <: AnyRef](s: SparkSession, tag: String)(build: => T): T = {
    val sKey = sessionKey(s)
    val key = (sKey, tag)
    touch(sKey)
    val hit = map.get(key)
    if (hit != null && (hit.session eq s) && !hit.session.sparkContext.isStopped)
      hit.value.asInstanceOf[T]
    else {
      sweepStopped(sKey)
      val v = build
      map.put(key, Entry(s, v))
      v
    }
  }

  /** Drops every memoized value owned by `s` — and only by `s` — keeping
    * pins. Used by Bench's outlier retry: the committed band measured each
    * query's first-touch work (q133's clustering build, q86's IVF training
    * via Ivf.trainCached, table footer reads), so a retry riding the
    * session cache would understate against the band — the opposite
    * failure of the host noise the retry exists to remove. Pins are
    * retained: they exist solely to keep already-executed plans'
    * accumulators strongly reachable (see [[pin]]), and dropping them for a
    * live session buys nothing except the r4 log-ERROR race. */
  def invalidateMemoized(s: SparkSession): Unit = {
    val sKey = sessionKey(s)
    map.keySet().removeIf(k => k._1 == sKey && !k._2.startsWith("pin:"))
  }

  /** Visible for tests: session keys currently holding entries. */
  private[graft] def sessionKeysForTest: Seq[String] = {
    val b = Seq.newBuilder[String]
    map.keySet().forEach(k => { b += k._1; () })
    b.result()
  }

  /** Pins `value` for the lifetime of `s` under a per-site tag (swept when
    * the context stops; REPLACED when the same site pins the same tag again
    * in the same session, so a long-lived session holds at most one pinned
    * plan per (site, input) rather than one per query construction —
    * [[lazyLocalCheckpoint]] folds the input identity into the tag).
    *
    * Used by [[lazyLocalCheckpoint]] to keep a checkpointed plan's
    * driver-side SQLMetric accumulators strongly reachable: Spark's
    * accumulator registry holds only WEAK references, and a lazy local
    * checkpoint drops its own strong ones when the first consumer's job
    * truncates the lineage (`markCheckpointed` nulls the closures mid-way
    * through that consumer's multi-job AQE execution). Any task-completion
    * event still in flight then logs `ERROR DAGScheduler: ... attempted to
    * access non-existent accumulator` once GC has collected the metrics —
    * reproduced 125× on q122 with a 3 GiB driver heap, gone with the pin.
    * Replacement is safe in this engine because repeated constructions of
    * the same site within a session are sequential (Verify/Bench/tests run
    * queries one at a time); if two executions of one site ever did
    * overlap, the worst case is the original benign log ERROR, not a wrong
    * result. */
  def pin(s: SparkSession, tag: String, value: AnyRef): Unit = {
    val sKey = sessionKey(s)
    val key = (sKey, "pin:" + tag)
    touch(sKey)
    if (map.get(key) == null) sweepStopped(sKey)
    map.put(key, Entry(s, value))
  }

  /** `df.localCheckpoint(eager = false)` with the originating plan pinned
    * (see [[pin]]). Only the result stage is deferred: under AQE the call
    * runs every shuffle and broadcast stage of `df` at once, so checkpoint
    * a frame only where some path reads it. Every multi-consumer shared
    * subplan in the engine (the near-dup set relation and set pairs of
    * q33/q78/q133 and q78/q133's cluster relation, the Components label
    * rounds, q122/q129, MinHash, q51, SemanticDedup) goes through here,
    * each under its own site tag. */
  def lazyLocalCheckpoint(tag: String)(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // The site tag alone is NOT the pin key: sites whose tag doesn't embed
    // the source directory (MinHash, SemanticDedup, q122/q129) would let a
    // second input (ScaleCheck runs src THEN its 10× replica in one
    // session) evict the first input's pin while that input's
    // task-completion events could still be in flight. Scoping by the
    // analyzed plan's semantic hash keeps re-constructions over the SAME
    // input replacing one pin, while distinct inputs pin separately — the
    // pin set stays bounded by (sites × distinct inputs), which is the set
    // correctness needs alive.
    val h = df.queryExecution.analyzed.semanticHash()
    pin(df.sparkSession, tag + ":" + h, df)
    df.localCheckpoint(eager = false)
  }

  /** Unpersists the blocks of every checkpoint `df` reads (a
    * [[lazyLocalCheckpoint]] frame or a projection of one). Only for a
    * frame that no later plan reads. A checkpoint that a later pinned plan
    * reads stays reachable, so the ContextCleaner never drops its blocks on
    * its own (the Components label rounds). */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Visible for tests: current number of live pins. */
  private[graft] def pinCount: Int = {
    var n = 0
    val it = map.keySet().iterator()
    while (it.hasNext) if (it.next()._2.startsWith("pin:")) n += 1
    n
  }
}

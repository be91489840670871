package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine's documented concurrency contracts, which no other
  * harness path exercises (Verify/Bench/tests all run queries one at a
  * time): SessionCache's unlocked last-put-wins builds, the per-function
  * registration guards in VectorFunctions.register, Ivf.trainCached's
  * SessionCache entry, and lazyLocalCheckpoint pin replacement under
  * overlapping constructions. A multi-tenant Spark application (one session
  * serving several request threads) is the production shape this models.
  */
class ConcurrencySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sf0001
  // A dedicated pool sized to the query count, not ExecutionContext.global:
  // global's parallelism is the host's core count, so on a small machine
  // the "concurrent" futures would degrade toward sequential execution and
  // the spec would exercise less overlap than it claims. One thread per
  // query guarantees every collect() is in flight at once regardless of
  // host size (the blocking happens Spark-side, so oversubscription here
  // costs nothing).
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8))

  /** Queries chosen to cover every shared JVM/session-level mechanism:
    * q78+q133 share the cluster cache and the Components checkpoint loop,
    * q86+q94 share the cached IVF index and race the graft_dot
    * registration, q105 races the graft_topk registration, q71 races the
    * extraStrategies/extraOptimizations append, q32 is a plain query that
    * must be unaffected by any of it. */
  private val names = Seq(
    "q78_dedup_clusters", "q133_dedup_roi", "q86_ivf_ann",
    "q94_semantic_dedup", "q105_topk_aggregate", "q71_knn_operator",
    "q32_exact_dedup")

  private def run(s: org.apache.spark.sql.SparkSession,
      name: String): Seq[org.apache.spark.sql.Row] =
    Registry.queries(name)(s, dir).collect().toSeq

  test("concurrent query execution equals sequential execution") {
    val sequential = names.map(n => n -> run(spark, n)).toMap
    val concurrent = Await.result(
      Future.sequence(names.map(n => Future(n -> run(spark, n)))),
      5.minutes).toMap
    names.foreach { n =>
      assert(concurrent(n) == sequential(n),
        s"$n must produce identical rows under concurrent execution")
    }
  }

  test("concurrent first-use on a fresh session populates shared state safely") {
    // newSession(): empty function registry and a distinct SessionCache
    // identity, so every thread races the initial registration + memoized
    // builds at once — the path the per-function ensure() guards and the
    // unlocked getOrBuild were written for.
    val fresh = spark.newSession()
    val subset = Seq("q86_ivf_ann", "q94_semantic_dedup",
      "q105_topk_aggregate", "q133_dedup_roi")
    val expected = subset.map(n => n -> run(spark, n)).toMap
    val got = Await.result(
      Future.sequence(subset.map(n => Future(n -> run(fresh, n)))),
      5.minutes).toMap
    subset.foreach { n =>
      assert(got(n) == expected(n),
        s"$n on a fresh session under concurrency must match the base session")
    }
  }

  test("concurrent first eventsRaw builds leave the nanos shim conf untouched") {
    // The round-10 lock contract (Tables.nanosShimLock): SessionCache
    // builds are unlocked, so several threads can be inside the first
    // eventsRaw build at once — unserialized, each could capture another's
    // transient "true" as prev and leave the shim flipped. A fresh session
    // makes every thread race the initial build; on the current µs fixture
    // the conf must come back exactly as it was.
    val fresh = spark.newSession()
    val before = fresh.conf.getOption(graft.sources.Tables.NanosAsLongConf)
    val dfs = Await.result(
      Future.sequence((1 to 8).map(_ =>
        Future(graft.sources.Tables.eventsRaw(fresh, dir)))),
      2.minutes)
    assert(dfs.forall(_.schema.fieldNames.contains("ts")))
    assert(fresh.conf.getOption(graft.sources.Tables.NanosAsLongConf) === before,
      "racing first builds must not leave the nanos shim conf flipped")
  }
}

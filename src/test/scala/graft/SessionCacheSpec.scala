package graft

import graft.sources.Tables
import org.scalatest.funsuite.AnyFunSuite

/** Session-scoped memoization contracts: table reads share one DataFrame
  * per (session, dir, table) — the per-query fixed-cost fix — and
  * lazyLocalCheckpoint pins its source plan against the accumulator race
  * (SessionCache.pin scaladoc). */
class SessionCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Tables.read memoizes the DataFrame per (session, dir, table)") {
    val a = Tables.read(spark, TestSpark.sf0001, "nation")
    val b = Tables.read(spark, TestSpark.sf0001, "nation")
    // Same object ⇒ the parquet file index and schema footer read are
    // shared across all queries of the session, not repeated per call.
    assert(a eq b)
    // Distinct tables / dirs get distinct entries.
    assert(!(Tables.read(spark, TestSpark.sf0001, "region") eq a))
  }

  test("a failed build caches nothing and the retry rebuilds cleanly") {
    // The cancellation-safety contract: getOrBuild's put happens AFTER the
    // build returns, so a build aborted mid-flight (cancelled Spark job,
    // interrupted checkpoint, OOM) must leave NO entry under its tag — the
    // next call re-runs the build instead of handing out a poisoned value.
    // Deterministic by construction (no jobs involved; any thrown build
    // exercises the same path a cancelled action does).
    val tag = "spec-failed-build"
    val boom = intercept[RuntimeException] {
      SessionCache.getOrBuild[AnyRef](spark, tag) {
        throw new RuntimeException("build aborted")
      }
    }
    assert(boom.getMessage == "build aborted")
    var built = 0
    val v = SessionCache.getOrBuild[AnyRef](spark, tag) {
      built += 1; "rebuilt"
    }
    assert(built == 1 && v == "rebuilt",
      "the failed attempt must not have cached anything under the tag")
    // And the recovered value is now a normal hit.
    val again = SessionCache.getOrBuild[AnyRef](spark, tag) { fail("hit expected") }
    assert(again eq v)
  }

  test("lazyLocalCheckpoint pins the source plan and stays correct") {
    import spark.implicits._
    val before = SessionCache.pinCount
    val src = Seq(1L, 2L, 3L).toDF("x").groupBy().sum("x")
    val ck = SessionCache.lazyLocalCheckpoint("spec-pin-a")(src)
    // >= rather than ==: pin() sweeps stopped-context entries from the
    // shared global map, so an exact delta would couple this test to
    // whatever other suites did with their sessions.
    assert(SessionCache.pinCount >= before + 1)
    // Lazy: schema is inspectable pre-action; the action then sees the
    // checkpointed result with unchanged semantics.
    assert(ck.columns.sameElements(Array("sum(x)")))
    assert(ck.collect().map(_.getLong(0)).toSeq == Seq(6L))
  }

  test("invalidateMemoized drops values but keeps pins (bench retry contract)") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Tables.read(spark, TestSpark.sf0001, "nation") }
    val a = SessionCache.getOrBuild(spark, "spec-invalidate-a")(build())
    assert(SessionCache.getOrBuild(spark, "spec-invalidate-a")(build()) eq a)
    assert(builds === 1)
    val pinsBefore = {
      val src = Seq(1L).toDF("x").groupBy().sum("x")
      SessionCache.lazyLocalCheckpoint("spec-invalidate-pin")(src)
      SessionCache.pinCount
    }
    SessionCache.invalidateMemoized(spark)
    // Memoized value gone → rebuild on next ask; pins untouched.
    val b = SessionCache.getOrBuild(spark, "spec-invalidate-a")(build())
    assert(builds === 2)
    assert(!(b eq null))
    assert(SessionCache.pinCount === pinsBefore)
  }

  test("invalidating one session keeps another session's trained IVF index") {
    // A bench retry in session B must not make session A retrain.
    def trained(s: org.apache.spark.sql.SparkSession): Array[Array[Double]] = {
      graft.plans.VectorFunctions.register(s)
      val v = Tables.read(s, TestSpark.sf0001, "embeddings")
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.expr(
            "transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      graft.functions.Ivf.trainCached(v, "vec_id", "e", nlist = 8, iters = 3,
        cacheKey = TestSpark.sf0001)
    }
    val a = spark.newSession()
    val b = spark.newSession()
    val indexA = trained(a)
    trained(b)
    SessionCache.invalidateMemoized(b)
    val kept = trained(a) eq indexA
    assert(kept, "session A's index must survive B's invalidation")
  }

  test("pin replaces per (site, input) instead of accumulating per call") {
    import spark.implicits._
    def mk() = Seq(1L).toDF("x").filter($"x" > 0)
    SessionCache.lazyLocalCheckpoint("spec-pin-b")(mk())
    val after1 = SessionCache.pinCount
    // Re-pinning the SAME site over a semantically identical plan must not
    // grow the pin set — a long-lived session re-running one query holds
    // one pinned plan, not one per construction.
    SessionCache.lazyLocalCheckpoint("spec-pin-b")(mk())
    assert(SessionCache.pinCount == after1)
    // A DIFFERENT input at the same site pins SEPARATELY rather than
    // evicting the first input's plan (whose task events may be in
    // flight) — ScaleCheck runs src then its 10x replica in one session.
    SessionCache.lazyLocalCheckpoint("spec-pin-b")(Seq(2L, 3L).toDF("x"))
    assert(SessionCache.pinCount == after1 + 1)
  }

  test("entries for discarded newSession() children are bounded") {
    // Session-per-job over one SparkContext: the context never stops, so
    // the stopped-context sweep can't reclaim anything — the distinct-
    // session cap must. 30 discarded sessions x 1 entry each must not
    // leave 30 sessions' entries (memoized reads pin parquet indexes and
    // checkpoint plans) in the global map.
    (1 to 30).foreach { _ =>
      val child = spark.newSession()
      Tables.read(child, TestSpark.sf0001, "nation").count()
    }
    val sessions = scala.collection.mutable.HashSet[String]()
    SessionCache.sessionKeysForTest.foreach(sessions += _)
    assert(sessions.size <= 8, s"distinct sessions in cache: ${sessions.size}")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r20 driver-local dedup-cluster fast path to the distributed
  * crossJoin+Components pipeline, row-exactly (DriverPaths): the two must
  * produce the identical (doc_id, cluster_rep, cluster_size) relation —
  * the fast path is only legal because it is a semantic no-op. The
  * oracle (q78/q133's recursive-CTE twin) independently checks the same
  * thing per Verify run; this spec keeps the check in `sbt test` and
  * exercises the over-budget fallback probe, which Verify never hits. */
class DedupClusterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // A fresh session per call: the masks and pairs are memoized per session.
  private def rel(dir: String): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    graft.operators.TextQueries
      .dedupClustersUncached(spark.newSession(), dir)
      .as[(Long, Long, Long)].collect().toSeq.sorted
  }

  test("driver cluster relation == distributed pipeline (sf0.001)") {
    val driver = DriverPaths.bothAgree("sf0.001")(rel(TestSpark.sf0001))
    assert(driver.nonEmpty && driver.exists(_._3 > 1),
      "fixture must contain at least one non-trivial cluster")
  }

  test("driver cluster relation == distributed pipeline (sf0.01)") {
    DriverPaths.bothAgree("sf0.01")(rel(TestSpark.sf0001.replace("sf0.001", "sf0.01")))
  }

  test("over-cap probe falls back to the distributed pipeline (cap=1)") {
    // A budget of one (mask, srep) row < the fixture's distinct-set count:
    // the limit-probe must overflow, return None, and the distributed path
    // must produce the same relation as the driver path does.
    assert(DriverPaths.withBudget(64L)(rel(TestSpark.sf0001)) ==
      rel(TestSpark.sf0001))
  }
}

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

  // A fresh session per call: the set relation and pairs are memoized per
  // session.
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

  test("a NULL-text document is its own size-1 cluster (q78, q133)") {
    // The oracle's reach relation seeds every document, so a document with
    // no tokens stays as a singleton; it must not vanish from the output.
    val s = spark.newSession()
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nulltext").toString
    Seq[(Long, String)]((1L, "a b c"), (2L, "a b c"), (3L, null), (4L, "x y"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val (q78, q133) = DriverPaths.bothAgree("null text") {
      val f = s.newSession()
      (SparkEntry.queries("q78_dedup_clusters")(f, dir)
        .as[(Long, Long, Long)].collect().toSeq,
        SparkEntry.queries("q133_dedup_roi")(f, dir)
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq)
    }
    assert(q78 == Seq((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L), (4L, 4L, 1L)))
    // (cluster_size, n_clusters, n_docs, docs_removable, tokens_total,
    // tokens_removable): docs 3 and 4 are the two size-1 clusters.
    assert(q133 == Seq((1L, 2L, 2L, 0L, 2L, 0L), (2L, 1L, 2L, 1L, 6L, 3L)))
  }

  test("over-cap probe falls back to the distributed pipeline (cap=1)") {
    // A budget of one (mask, rep) row < the fixture's distinct-set count:
    // the limit-probe must overflow, return None, and the distributed path
    // must produce the same relation as the driver path does.
    assert(DriverPaths.withBudget(64L)(rel(TestSpark.sf0001)) ==
      rel(TestSpark.sf0001))
  }
}

package graft

import graft.functions.Ivf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r20 driver-local IVF training fast path to the distributed
  * loop, BIT-exactly (DriverPaths): the default budget takes the driver
  * path on every input below, and the two must agree on every centroid
  * coordinate's raw bits — the fast path is only legal because it is a
  * semantic no-op. */
class IvfTrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bits(c: Array[Array[Double]]): Seq[Seq[Long]] =
    c.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)).toSeq

  private def bothPathsAgree(vecs: DataFrame, nlist: Int, iters: Int,
      label: String): Seq[Seq[Long]] =
    DriverPaths.bothAgree(label)(bits(Ivf.train(vecs, "vec_id", "e", nlist, iters)))

  private def fixtureVecs(dir: String): DataFrame = {
    graft.plans.VectorFunctions.register(spark)
    graft.sources.Tables.read(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
  }

  test("driver path == loop path on the sf0.001 embeddings (q86/q94 call shape)") {
    val c = bothPathsAgree(fixtureVecs(TestSpark.sf0001), nlist = 8, iters = 3,
      "sf0.001")
    assert(c.length == 8 && c.forall(_.length == 64))
  }

  test("driver path == loop path on the sf0.01 embeddings") {
    bothPathsAgree(fixtureVecs("/root/testdata/sf0.01"), nlist = 8, iters = 3,
      "sf0.01")
  }

  test("driver path == loop path with fewer distinct vectors than nlist") {
    val vecs = Seq((10L, Seq(1.0, 2.0)), (11L, Seq(1.0, 2.0)),
      (12L, Seq(3.0, -4.0))).toDF("vec_id", "e")
    val c = bothPathsAgree(vecs, nlist = 8, iters = 2, "few-distinct")
    assert(c.length == 2)
  }

  test("driver path == loop path with non-finite vectors (filtered) and duplicates") {
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.1, 0.0)), (2L, Seq(5.0, 5.0)),
      (3L, Seq(5.1, 5.0)), (4L, Seq(Double.NaN, 1.0)),
      (5L, Seq(Double.PositiveInfinity, 2.0)), (6L, Seq(0.1, 0.0))
    ).toDF("vec_id", "e")
    bothPathsAgree(vecs, nlist = 2, iters = 2, "non-finite")
  }

  test("driver path == loop path with negative zero coordinates") {
    // Spark's groupBy normalizes -0.0 to 0.0 in the grouping key
    // (NormalizeFloatingNumbers); the driver path must reproduce that for
    // init-centroid selection AND for the returned init coordinates.
    val vecs = Seq((1L, Seq(-0.0, 1.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(2.0, -0.0))).toDF("vec_id", "e")
    bothPathsAgree(vecs, nlist = 3, iters = 1, "neg-zero")
  }

  test("driver path == loop path on empty input") {
    val vecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "e")
    val c = bothPathsAgree(vecs, nlist = 4, iters = 2, "empty")
    assert(c.isEmpty)
  }

  test("driver path == loop path on 300 seeded-random vectors (dim 8)") {
    val rnd = new scala.util.Random(20260819L)
    // Values on a coarse grid AND free doubles: the grid exercises exact
    // decimal ties in the mean update, the free doubles exercise the
    // 14-digit HALF_UP rounding path.
    val data = (0 until 300).map { i =>
      (i.toLong, Seq.fill(8)(
        if (rnd.nextBoolean()) rnd.nextInt(7) - 3.0 else rnd.nextDouble() * 4 - 2))
    }
    bothPathsAgree(data.toDF("vec_id", "e"), nlist = 5, iters = 3, "random")
  }

  test("ANSI off: driver path == loop path when a coordinate overflows the mean's decimal") {
    // 1e15 does not fit DECIMAL(28,14). With ANSI on both paths throw;
    // with it off the loop's cast yields NULL and its sums skip it, so the
    // driver path must stand down rather than throw. Vector 3 joins
    // vector 2's cluster, whose sums then still have a non-null term.
    val vecs = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(100.0, 100.0)),
      (3L, Seq(1e15, 0.0)), (4L, Seq(1.0, 2.0))).toDF("vec_id", "e")
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try bothPathsAgree(vecs, nlist = 2, iters = 2, "ansi-off overflow")
    finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  private def refusal(vecs: DataFrame): String =
    intercept[IllegalArgumentException](
      Ivf.train(vecs, "vec_id", "e", nlist = 1, iters = 1)).getMessage

  test("mixed dimensions fail loud with one named error on both paths") {
    // nlist 1 puts [1,1,1] in [1,1]'s cluster, where the mean update used
    // to write past the end of the 2-dim centroid.
    val pair = Seq((1L, Seq(1.0, 1.0)), (2L, Seq(1.0, 1.0, 1.0)))
    val msg = DriverPaths.bothAgree("mixed dims")(refusal(pair.toDF("vec_id", "e")))
    assert(msg.contains("differ in length (2 to 3 coordinates)"), msg)
    // The zero budget still runs driverTrain's size probe; int ids and
    // ANSI off skip the driver path and so reach loopTrain's check.
    assert(refusal(pair.map { case (id, v) => (id.toInt, v) }.toDF("vec_id", "e")) == msg)
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(refusal(pair.toDF("vec_id", "e")) == msg)
    finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("mixed dimensions: refused by the size probe before any row is collected") {
    // Row 0 (lowest id) has 2 coordinates, the other 60 have 512, and the
    // budget holds ~10 rows of 512: the min/max size probe must refuse.
    val vecs = ((0L, Seq(100.0, 100.0)) +: (1 to 60).map(i =>
      (i.toLong, Seq.fill(512)(i % 7 - 3.0)))).toDF("vec_id", "e")
    val e = intercept[IllegalArgumentException](DriverPaths.withBudget(10 * 512 * 8L)(
      Ivf.driverTrain(vecs, "vec_id", "e", 2, 2)))
    assert(e.getMessage.contains("(2 to 512 coordinates)"), e.getMessage)
  }

  test("driver fast path stays off for non-long ids (loop handles them)") {
    // Type gate: an int id must not take the collect path; both calls run
    // the loop and still agree (trivially) — the point is no crash and no
    // schema assumptions inside driverTrain.
    val vecs = Seq((1, Seq(1.0, 0.0)), (2, Seq(0.0, 1.0)))
      .toDF("vec_id", "e")
    val c = Ivf.train(vecs, "vec_id", "e", nlist = 2, iters = 1)
    assert(c.length == 2)
  }
}

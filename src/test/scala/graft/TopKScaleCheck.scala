package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Wall-clock evidence for the custom top-k aggregate: times the
  * `graft_topk` formulation against the row_number() window formulation of
  * the same result on sf0.1 orders and on ScaleCheck's 10× replica (run
  * `sbt "Test/runMain graft.ScaleCheck"` first to build /tmp/graft_sf1).
  *
  * Spark ≥3.5 already bounds the window plan's shuffle via a Partial
  * WindowGroupLimit, but that operator needs sorted input — each map
  * partition fully sorts ALL its rows first (and the reduce side sorts
  * again). The aggregate needs no sort anywhere (k-bounded heaps), which
  * is exactly the gap this runner measures; it should WIDEN with scale.
  * Run: `sbt "Test/runMain graft.TopKScaleCheck"`.
  */
object TopKScaleCheck {
  def main(a: Array[String]): Unit = {
    val spark = TestSpark.spark
    graft.plans.VectorFunctions.register(spark)

    def viaAgg(dir: String): Long =
      graft.sources.Tables.read(spark, dir, "orders")
        .groupBy("o_custkey")
        .agg(expr("graft_topk(o_totalprice, o_orderkey, 3)").as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "e")))
        .count()

    def viaWindow(dir: String): Long = {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      graft.sources.Tables.read(spark, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .count()
    }

    def time(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = f
      (n, (System.nanoTime() - t0) / 1e9)
    }

    val dirs = Seq("/root/testdata/sf0.1") ++
      (if (new java.io.File("/tmp/graft_sf1/orders.parquet").exists())
         Seq("/tmp/graft_sf1")
       else { println("[topk] /tmp/graft_sf1 missing — run ScaleCheck first"); Nil })

    // Warm both paths once so neither formulation absorbs codegen warm-up.
    dirs.foreach { d => viaAgg(d); viaWindow(d) }
    dirs.foreach { d =>
      val (na, ta) = time(viaAgg(d))
      val (nw, tw) = time(viaWindow(d))
      require(na == nw, s"row count mismatch at $d: agg $na vs window $nw")
      println(f"[topk] $d%-24s rows=$na%9d  graft_topk=$ta%6.2fs  window=$tw%6.2fs  speedup=${tw / ta}%4.1fx")
    }
    // No spark.stop(): TestSpark.spark is suite-shared; Test/runMain forks,
    // so JVM exit cleans it up.
  }
}

package graft

import graft.functions.Components
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connected components: edge endpoints share a label; reps are members") {
    val verts = (0L to 9L).toDF("id")
    // {0,1,2} via chain, {3,4} pair, {5} .. {9} singletons
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("src", "dst")
    val comp = Components.connectedComponents(verts, edges)
      .as[(Long, Long)].collect().toMap
    assert(comp(0L) == 0L && comp(1L) == 0L && comp(2L) == 0L)
    assert(comp(3L) == 3L && comp(4L) == 3L)
    (5L to 9L).foreach(v => assert(comp(v) == v, s"singleton $v"))
  }

  test("cluster labels are a fixpoint (second pass changes nothing)") {
    val verts = (0L to 6L).toDF("id")
    val edges = Seq((6L, 0L), (5L, 6L), (2L, 4L)).toDF("src", "dst")
    val once = Components.connectedComponents(verts, edges)
    // Relabel using reps as vertices with the same edges mapped through reps:
    val m = once.as[(Long, Long)].collect().toMap
    val mappedEdges = edges.as[(Long, Long)].collect()
      .map { case (a, b) => (m(a), m(b)) }.toSeq.toDF("src", "dst")
    val twice = Components.connectedComponents(
      once.select(col("rep").as("id")).distinct(), mappedEdges)
      .as[(Long, Long)].collect().toMap
    twice.foreach { case (id, rep) => assert(id == rep, "reps must be stable") }
  }

  /** Plain union-find reference: rep = min vertex id of each component. */
  private def ufComponents(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(v => v.toLong -> find(v).toLong).toMap
  }

  /** Reference for the documented phantom-endpoint rule: union-find over
    * the edges whose endpoints are both declared (ids in [0, n)); each
    * component's rep is the minimum of its member ids and their one-hop
    * undeclared neighbours. */
  private def phantomComponents(n: Int,
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    def declared(v: Long): Boolean = v >= 0 && v < n
    val uf = ufComponents(n,
      edges.filter { case (a, b) => declared(a) && declared(b) })
    val phantomNbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (u, v) => declared(u) && !declared(v) }
      .map { case (u, v) => uf(u) -> v }
    val compMin = (uf.toSeq.map(_.swap) ++ phantomNbrs)
      .groupMapReduce(_._1)(_._2)(math.min)
    uf.map { case (v, r) => v -> compMin(r) }
  }

  private def ccOf(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val verts = (0L until n.toLong).toDF("id")
    val edf = if (edges.isEmpty)
      Seq.empty[(Long, Long)].toDF("src", "dst")
    else edges.toDF("src", "dst")
    Components.connectedComponents(verts, edf)
      .as[(Long, Long)].collect().toMap
  }

  // Randomized insurance on the round-10 fixpoint-exit rewrite: the loop now
  // exits on the edge-violation certificate (round ≥1) or changed==0 (round
  // 0), and round 0 skips the label join entirely — so every exit path and
  // the round-0 shortcut must still produce the exact union-find labeling.
  test("connected components equal a union-find reference on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 6) {
      val n = 1 + rnd.nextInt(40)
      val m = rnd.nextInt(60)
      // Self-loops and duplicate/reversed edges on purpose — und unions both
      // directions and min-propagation must be idempotent under them.
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(ccOf(n, edges) == ufComponents(n, edges),
        s"trial $trial (n=$n, m=$m, edges=$edges)")
    }
  }

  test("phantom-endpoint random graphs: driver and loop paths agree") {
    // Random graphs with endpoints drawn from [-n, 2n): ids outside [0, n)
    // are undeclared, including ones SMALLER than every declared id (the
    // label-lowering case). The loop must follow the documented rule
    // exactly: phantoms lower a label one hop, never bridge.
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 2 + rnd.nextInt(20)
      val m = 1 + rnd.nextInt(40)
      val edges = Seq.fill(m)(
        ((rnd.nextInt(3 * n) - n).toLong, (rnd.nextInt(3 * n) - n).toLong))
      assert(ccOf(n, edges) == phantomComponents(n, edges),
        s"trial $trial (n=$n, m=$m, edges=$edges)")
    }
  }

  test("connected components: a round that throws releases the cached edge frame") {
    // The vertex relation raises when evaluated: the edge frame caches and
    // materializes, then the first label count throws.
    val verts = spark.range(3)
      .select(expr("coalesce(assert_true(id < 0), id)").as("id"))
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    intercept[Exception](Components.connectedComponents(verts, edges))
    // The lazy label checkpoint the failed round made is weakly held and
    // goes with a GC; a leaked edge frame is held by the cache manager and
    // stays, so poll through a few GCs before comparing.
    def added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    var polls = 0
    while (added.nonEmpty && polls < 40) {
      System.gc()
      Thread.sleep(250)
      polls += 1
    }
    assert(added.isEmpty,
      s"persisted RDDs left behind: ${added.values.map(_.name)}")
  }

  test("connected components: only the returned labels stay persisted") {
    // Path 0-1-...-24 takes several label rounds, each of which checkpoints
    // step1 and step; every superseded checkpoint must be released by the
    // time the call returns, with no GC to help.
    val verts = (0L until 25L).toDF("id")
    val edges = (0L until 24L).map(i => (i, i + 1)).toDF("src", "dst")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val labels = Components.connectedComponents(verts, edges)
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(added.size == 1,
      s"persisted RDDs left by the call: ${added.values.mkString(", ")}")
    assert(labels.as[(Long, Long)].collect().toMap ==
      (0L until 25L).map(_ -> 0L).toMap)
  }

  test("adversarial shapes: long path, cycle, star, edge-free round-0 exit") {
    // Path 0-1-...-24: diameter 24 forces multiple certificate rounds and
    // real pointer-jump contraction (labels converge in O(log diameter)).
    val path = (0L until 24L).map(i => (i, i + 1))
    assert(ccOf(25, path) == (0L until 25L).map(_ -> 0L).toMap)
    // Cycle (closing edge makes min propagate both ways) + separate star.
    val cycle = (0L until 9L).map(i => (i, i + 1)) :+ (9L, 0L)
    val star = (11L to 15L).map(v => (10L, v))
    val got = ccOf(16, cycle ++ star)
    assert(got == ufComponents(16, cycle ++ star))
    assert((0 to 9).forall(v => got(v.toLong) == 0L) &&
      (10 to 15).forall(v => got(v.toLong) == 10L))
    // Edge-free graph: round 0's changed==0 exit (certificate skipped).
    assert(ccOf(7, Nil) == (0L until 7L).map(v => v -> v).toMap)
  }

  test("q133 dedup ROI accounting matches q78's cluster histogram") {
    val rows = Registry.queries("q133_dedup_roi")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    val nDocs = graft.sources.Tables
      .read(spark, TestSpark.sf0001, "documents").count()
    assert(rows.map(_.getLong(2)).sum == nDocs, "doc conservation")
    rows.foreach { r =>
      val (size, nClusters, n, tokTotal, tokRemovable) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))
      assert(n == size * nClusters, s"docs = size x clusters: $r")
      assert(tokRemovable <= tokTotal, s"removable tokens bounded: $r")
      // Size-1 clusters remove nothing.
      if (size == 1L) assert(r.getLong(3) == 0L && tokRemovable == 0L)
    }
    // The real cross-check: q133's per-size histogram must equal the one
    // derived from q78's declared output (same clustering, two queries).
    val fromQ78 = Registry
      .queries("q78_dedup_clusters")(spark, TestSpark.sf0001)
      .groupBy("cluster_size")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromQ133 = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fromQ133 == fromQ78,
      s"q133 histogram $fromQ133 diverges from q78's $fromQ78")
  }
}

package graft

import graft.functions.{Components, Ivf, MinHash, SemanticDedup, SimHash}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input contracts for the pipeline functions: empty corpora,
  * single elements, and fewer vectors than clusters. On a real cluster
  * empty partitions and empty day-slices of a feed are routine — a
  * pipeline stage that throws on zero rows fails the whole job, so every
  * library entry point must return an EMPTY (or trivially correct) result
  * instead. */
class EdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connectedComponents: no edges means every vertex is its own rep") {
    val verts = (0L to 4L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val comp = Components.connectedComponents(verts, edges)
      .as[(Long, Long)].collect().toMap
    assert(comp == (0L to 4L).map(v => v -> v).toMap)
  }

  test("connectedComponents: empty graph returns an empty relation") {
    val verts = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Components.connectedComponents(verts, edges).count() == 0L)
  }

  test("connectedComponents: self-loops and dangling edges are no-ops (both paths)") {
    // Self-loops add nothing (a vertex is already in its own component);
    // edges naming vertices absent from the vertex relation are dropped by
    // the label join rather than conjuring phantom vertices — at scale a
    // pair list is routinely staler than the document snapshot it joins.
    val verts = (0L to 3L).toDF("id")
    val edges = Seq(
      (0L, 0L),   // self-loop
      (1L, 2L),   // real edge
      (3L, 99L),  // dangling dst
      (98L, 97L)) // both absent
      .toDF("src", "dst")
    val comp =
      Components.connectedComponents(verts, edges).as[(Long, Long)].collect().toMap
    assert(comp == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("connectedComponents: phantom endpoints lower labels one hop, never bridge (both paths)") {
    // The documented phantom semantics (Components.connectedComponents): an
    // undeclared endpoint can LOWER its declared neighbor's label at round
    // 0 — and that label spreads through the component's declared edges —
    // but two declared vertices connected only THROUGH an undeclared id
    // stay separate (the label join drops phantom edges after round 0).
    val verts = Seq(5L, 6L, 7L).toDF("id")
    val edges = Seq(
      (5L, 9L),  // transitive-phantom half 1: 5-9
      (9L, 7L),  // transitive-phantom half 2: 9-7 (must NOT merge 5 and 7)
      (5L, 6L),  // declared edge: 6 must inherit 5's phantom-lowered label
      (5L, 3L))  // smaller-id phantom: lowers {5,6}'s rep to 3
      .toDF("src", "dst")
    val comp =
      Components.connectedComponents(verts, edges).as[(Long, Long)].collect().toMap
    assert(comp == Map(5L -> 3L, 6L -> 3L, 7L -> 7L), s"$comp")
  }

  test("nearDupPairs: empty and single-doc corpora yield zero pairs") {
    val empty = Seq.empty[(Long, Seq[String])].toDF("doc_id", "toks")
    assert(MinHash.nearDupPairs(empty, "doc_id", "toks", 16, 4, 0.5).count() == 0L)
    val one = Seq((1L, Seq("a", "b", "c"))).toDF("doc_id", "toks")
    assert(MinHash.nearDupPairs(one, "doc_id", "toks", 16, 4, 0.5).count() == 0L)
  }

  test("nearDupPairs: two identical docs pair up even at threshold 1.0") {
    // Identical-set members bypass the banding entirely (Jaccard 1.0 by
    // definition) — the degenerate corpus where EVERYTHING is a dup must
    // still come out exactly right, not empty and not self-paired.
    val twins = Seq((1L, Seq("x", "y")), (2L, Seq("y", "x")))
      .toDF("doc_id", "toks")
    val pairs = MinHash.nearDupPairs(twins, "doc_id", "toks", 16, 4, 1.0)
      .select("d1", "d2").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("nearDupPairs: empty-token docs pair with each other, never with real docs") {
    // Zero-token documents are routine at scale (stripped boilerplate,
    // binary-only rows). Their MinHash signature is all-null (array_min of
    // an empty array) — this pins that the null-signature rows flow through
    // banding without a crash, that two empty docs count as identical
    // (same distinct set, Jaccard 1.0 by convention), and that an empty doc
    // never pairs with a non-empty one (intersection 0).
    val docs = Seq(
      (1L, Seq.empty[String]), (2L, Seq.empty[String]), (3L, Seq("a", "b")))
      .toDF("doc_id", "toks")
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "toks", 16, 4, 0.5)
      .select("d1", "d2").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("nearDupPairs: two sets of only null tokens never pair") {
    // [null] and [null, null] are distinct sets, both fold to bitmask 0
    // (a null token sets no bit) and share one signature (a null token
    // hashes to a per-seed constant), so they collide in every band; the
    // confirm's Jaccard is 0/0 for them and must be dropped, not compared
    // against the threshold.
    val docs = Seq((1L, Seq[String](null)), (2L, Seq[String](null, null)),
      (3L, Seq("a", "b")))
      .toDF("doc_id", "toks")
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "toks", 16, 4, 0.5)
      .select("d1", "d2").as[(Long, Long)].collect().toSeq
    assert(pairs.isEmpty)
  }

  test("nearDupPairs: null tokens pair the same at any vocabulary size") {
    // The bitmask confirm (vocabulary ≤ 64 words) drops null tokens; the
    // open-vocabulary confirm must too, or [null] vs [null, null] pairs with
    // Jaccard 1.0 only once some unrelated document pushes the vocabulary
    // past 64 words.
    val docs = Seq((1L, Seq[String](null)), (2L, Seq[String](null, null)),
      (3L, Seq("a", null)), (4L, Seq("a")), (5L, Seq("a", "b")))
    val wide = (9L, (0 until 65).map(i => s"w$i"))
    def pairs(d: Seq[(Long, Seq[String])]): Seq[(Long, Long, Double)] =
      MinHash.nearDupPairs(d.toDF("doc_id", "toks"), "doc_id", "toks", 16, 4, 0.5)
        .select("d1", "d2", "jac").as[(Long, Long, Double)].collect().toSeq.sorted
    val bitmask = pairs(docs)
    assert(!bitmask.exists(p => p._1 == 1L && p._2 == 2L))
    assert(pairs(docs :+ wide) == bitmask)
  }

  test("simhashAgg: empty input returns an empty fingerprint relation") {
    val empty = Seq.empty[(Long, Seq[String])].toDF("id", "toks")
    assert(SimHash.simhashAgg(empty, "id", "toks").count() == 0L)
  }

  test("Ivf.train tolerates fewer distinct vectors than nlist") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)), (3L, Array(1.0, 1.0)))
      .toDF("vec_id", "e")
    val centroids = Ivf.train(vecs, "vec_id", "e", nlist = 8, iters = 2)
    // Init takes the distinct vectors it can get; k-means keeps them.
    assert(centroids.length == 3)
    assert(centroids.forall(_.length == 2))
  }

  test("Ivf.search works when nprobe exceeds the centroid count") {
    // Register graft_dot up front: the withColumn below analyzes eagerly,
    // before Ivf.train (which registers it as a side effect) ever runs —
    // without this the test only passes when an earlier test in the same
    // session already registered the function.
    graft.plans.VectorFunctions.register(spark)
    val corpus = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)), (3L, Array(0.9, 0.1)))
      .toDF("vec_id", "e")
      .withColumn("nrm", expr("sqrt(graft_dot(e, e))"))
    val centroids = Ivf.train(corpus, "vec_id", "e", nlist = 2, iters = 1)
    val res = Ivf.search(corpus, corpus, centroids, nprobe = 10, k = 2)
      .as[(Long, Long, Long, Double)].collect()
    // Probing more buckets than exist degrades to exhaustive search —
    // with all 3 vectors reachable, vector 1's best neighbor must be 3.
    val best = res.filter(r => r._1 == 1L && r._2 == 1L).map(_._3)
    assert(best.toSeq == Seq(3L))
  }

  test("graft_dot compiles under whole-stage codegen for NON-nullable input") {
    // Regression: a statically non-nullable array input (what a
    // forall()/IsNotNull filter produces — routine in a real pipeline)
    // previously made DotProduct's generated code reference an undeclared
    // isNull variable; the class failed to compile and EVERY batch fell
    // back to interpreted execution. fallback=false turns that silent
    // perf cliff into a test failure.
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    graft.plans.VectorFunctions.register(strict)
    import strict.implicits._
    val vecs = Seq((1L, Array(1.0, 2.0)), (2L, Array(3.0, 4.0)))
      .toDF("id", "e").filter(forall(col("e"), v => !isnan(v)))
    val got = vecs.selectExpr("id", "graft_dot(e, array(1.0D, 10.0D)) AS d")
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 21.0, 2L -> 43.0))
    // Float arrays exercise the getFloat branch of the generated loop.
    val f = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "e")
      .filter(size(col("e")) === 2)
    val fd = f.selectExpr("graft_dot(e, e) AS d").as[Double].collect()
    assert(fd.toSeq == Seq(5.0))
  }

  test("Knn.topK rejects non-positive k at construction") {
    val v = Seq((1L, Array(1.0f, 0.0f), 1.0)).toDF("id", "e", "nrm")
    // Inside the operator k=0 would surface as NoSuchElementException on an
    // empty heap's head in an executor task; the guard fails fast instead.
    intercept[IllegalArgumentException] {
      graft.plans.Knn.topK(spark, v, v, 0)
    }
    intercept[IllegalArgumentException] {
      graft.plans.Knn.topK(spark, v, v, -3)
    }
  }

  test("Knn.topK over an empty corpus returns zero rows, not a throw") {
    val q = Seq((1L, Array(1.0f, 0.0f), 1.0)).toDF("id", "e", "nrm")
    val none = q.filter(col("id") < 0L)
    assert(graft.plans.Knn.topK(spark, q, none, 3).count() == 0L)
    // Empty QUERY side likewise: no heaps, no output.
    assert(graft.plans.Knn.topK(spark, none, q, 3).count() == 0L)
    // Self-only corpus: the operator excludes q_id == nb_id, so a corpus
    // containing only the query itself yields no neighbors.
    assert(graft.plans.Knn.topK(spark, q, q, 3).count() == 0L)
  }

  test("SemanticDedup.summary on an empty corpus is empty, not a throw") {
    val empty = Seq.empty[(Long, Array[Double], Double)]
      .toDF("vec_id", "e", "nrm")
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    assert(SemanticDedup.summary(empty, centroids, 0.9).count() == 0L)
  }
}

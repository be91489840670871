package graft

import graft.functions.{MinHash, MinHashAggregator, SimHash}
import graft.multimodal.Multimodal
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Statistical contracts of the hash-seeded (non-oracle) operators. */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val toks = Tables.read(spark, TestSpark.sf0001, "documents")
    .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    .cache()

  /** Exact Jaccard pairs ≥ t by brute force (500 docs at sf0.001 → cheap). */
  private def exactPairs(t: Double) = {
    val a = toks.select(col("doc_id").as("d1"), col("toks").as("t1"))
    val b = toks.select(col("doc_id").as("d2"), col("toks").as("t2"))
    a.crossJoin(b).filter($"d1" < $"d2")
      .withColumn("jac", size(array_intersect($"t1", $"t2")).cast("double") /
        size(array_union($"t1", $"t2")))
      .filter($"jac" >= t)
      .select("d1", "d2")
  }

  test("graft_minhash equals the built-in xxhash64 formulation byte-for-byte") {
    // The custom codegen'd MinHashSignature must reproduce the chained
    // xxhash64 semantics EXACTLY — real corpus plus the edges that have
    // distinct semantics: empty array (all-null sig), null element
    // (contributes hashInt(i, 42)), unicode, duplicate tokens.
    val edges = Seq(
      (9001L, Seq.empty[String]),
      (9002L, Seq("")),
      (9003L, Seq("a", null, "b")),
      (9004L, Seq("héllo", "wörld", "héllo")),
      (9005L, Seq("é中文", "x"))
    ).toDF("doc_id", "toks")
    val both = toks.unionByName(edges)
      .withColumn("fused", MinHash.signature(col("toks"), 96))
      .withColumn("builtin", MinHash.signatureBuiltin(col("toks"), 96))
    val mismatches = both
      .filter(not(col("fused") <=> col("builtin")))
      .count()
    assert(mismatches == 0L,
      s"$mismatches rows where graft_minhash differs from the built-in " +
        "formulation — the fused expression drifted from xxhash64 semantics")
    // And it must actually participate in whole-stage codegen (the whole
    // point): the projection over the fused column contains a
    // WholeStageCodegen span covering the project.
    // `*(n)` is the whole-stage-codegen marker in executedPlan.toString.
    val plan = toks.withColumn("sig", MinHash.signature(col("toks"), 96))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("graft_minhash") && l.trim.startsWith("*(")),
      s"graft_minhash projection fell out of whole-stage codegen:\n$plan")
  }

  test("graft_shingles equals the transform+concat_ws formulation byte-for-byte") {
    // Includes the size<3 edge (built-in needs a guard because
    // sequence(1, 0) descends; the fused expression is total) and
    // concat_ws's skip-null semantics.
    val edges = Seq(
      (9001L, Seq.empty[String]), (9002L, Seq("one")), (9003L, Seq("a", "b")),
      (9004L, Seq("a", null, "c", "d")), (9005L, Seq("é中", "x", "y", "", "z"))
    ).toDF("doc_id", "toks")
    val both = toks.unionByName(edges)
      .withColumn("fused", graft.plans.GramShingles.shingles(col("toks"), 3))
      .withColumn("builtin",
        when(size(col("toks")) >= 3,
          expr("""transform(sequence(1, size(toks) - 2),
                  i -> concat_ws(' ', element_at(toks, i),
                                 element_at(toks, i + 1),
                                 element_at(toks, i + 2)))"""))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
    val mismatches = both.filter(not(col("fused") <=> col("builtin"))).count()
    assert(mismatches == 0L,
      s"$mismatches rows where graft_shingles differs from the built-in " +
        "formulation")
    val plan = toks.withColumn("shs",
        graft.plans.GramShingles.shingles(col("toks"), 3))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("graft_shingles") && l.trim.startsWith("*(")),
      s"graft_shingles projection fell out of whole-stage codegen:\n$plan")
  }

  test("graft SQL builders: descriptive arity errors and foldable int args") {
    // Round-8 ADVICE: `graft_minhash(toks)` used to die with
    // IndexOutOfBoundsException from a bare exprs(1), and
    // foldable-but-non-literal args (CAST(8 AS INT)) were rejected. The
    // shared builders guard arity with a descriptive message and
    // constant-evaluate any foldable INT argument.
    graft.plans.VectorFunctions.register(spark)
    def allMessages(t: Throwable): String = {
      val sb = new StringBuilder
      var cur = t
      while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
      sb.toString
    }
    val arityErr = intercept[Throwable] {
      toks.selectExpr("graft_minhash(toks)").collect()
    }
    assert(allMessages(arityErr).contains("expects 2 arguments"),
      s"wrong-arity graft_minhash must fail with the descriptive builder " +
        s"message, got: ${allMessages(arityErr)}")
    val shArityErr = intercept[Throwable] {
      toks.selectExpr("graft_shingles(toks, 3, 4)").collect()
    }
    assert(allMessages(shArityErr).contains("expects 2 arguments"))
    // Foldable non-literal int args: accepted, identical to the literal form.
    val mhDiff = toks
      .selectExpr("graft_minhash(toks, CAST(8 AS INT)) AS a",
        "graft_minhash(toks, 8) AS b")
      .filter(expr("NOT (a <=> b)")).count()
    assert(mhDiff == 0L, "CAST(8 AS INT) must behave exactly like literal 8")
    val shDiff = toks
      .selectExpr("graft_shingles(toks, 1 + 2) AS a",
        "graft_shingles(toks, 3) AS b")
      .filter(expr("NOT (a <=> b)")).count()
    assert(shDiff == 0L, "1 + 2 must behave exactly like literal 3")
  }

  test("I2: MinHash/LSH near-dup pairs have perfect precision and high recall") {
    val lsh = MinHash.nearDupPairs(toks, "doc_id", "toks", 96, 16, 0.8)
      .select("d1", "d2").cache()
    // Precision 1.0 by construction (exact-Jaccard confirm step):
    assert(lsh.exceptAll(exactPairs(0.8)).isEmpty)
    // Recall: 16 bands × 6 rows ⇒ P(candidate | j=0.8) ≈ 0.992 per the
    // S-curve, and most true pairs sit well above 0.8 — measured ≥ 0.99.
    val exact = exactPairs(0.8).cache()
    val nExact = exact.count().toDouble
    val nFound = exact.intersect(lsh).count().toDouble
    assert(nExact > 0)
    assert(nFound / nExact >= 0.99, s"recall ${nFound / nExact}")
  }

  test("q50 pairs are q33 pairs with the same jac, at a q33 recall >= 0.95 (sf0.01)") {
    // q50 keeps jac >= 0.8 and q33 keeps jac > 0.8 (exact, all set pairs),
    // so q50's pairs strictly above 0.8 must all be q33 pairs. Recall: 16
    // bands × 6 rows gives P(candidate | J = 0.8) ≈ 0.992 per pair.
    val dir = TestSpark.sf0001.replace("sf0.001", "sf0.01")
    def pairs(q: String) =
      Registry.queries(q)(spark, dir).as[(Long, Long, Double)].collect().toSet
    val lsh = pairs("q50_minhash_lsh").filter(_._3 > 0.8)
    val exact = pairs("q33_neardup_pairs")
    assert(exact.nonEmpty)
    val stray = lsh -- exact
    assert(stray.isEmpty, s"${stray.size} q50 pairs are not q33 pairs: ${stray.take(5)}")
    val recall = lsh.size.toDouble / exact.size
    info(s"q33 recall of q50: ${lsh.size} / ${exact.size} = $recall")
    assert(recall >= 0.95, s"recall $recall")
  }

  test("I2 open-vocabulary branch: >64 distinct tokens takes the array-confirm path, same contract") {
    // The fixture corpus has a 31-word vocabulary, so every other test runs
    // the bitmask confirm branch. Build a deterministic 200-token-vocab
    // corpus (seeded, in-test only) with planted near-dup pairs to exercise
    // the array_intersect/array_union branch.
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 200).map(i => s"tok$i")
    val base = (0 until 60).map { d =>
      (d.toLong, rnd.shuffle(vocab).take(20 + rnd.nextInt(10)))
    }
    // plant near-dups: copy of doc d with one token swapped (jac ≈ 0.9)
    val dups = base.take(15).map { case (d, ts) =>
      (d + 1000L, ts.dropRight(1) :+ s"tok${rnd.nextInt(200)}")
    }
    val df = (base ++ dups).toDF("doc_id", "toks")
      .withColumn("toks", array_distinct($"toks"))
    val lsh = MinHash.nearDupPairs(df, "doc_id", "toks", 96, 16, 0.8)
      .select("d1", "d2").cache()
    val a = df.select($"doc_id".as("d1"), $"toks".as("t1"))
    val b = df.select($"doc_id".as("d2"), $"toks".as("t2"))
    val exact = a.crossJoin(b).filter($"d1" < $"d2")
      .withColumn("jac", size(array_intersect($"t1", $"t2")).cast("double") /
        size(array_union($"t1", $"t2")))
      .filter($"jac" >= 0.8)
      .select("d1", "d2").cache()
    assert(exact.count() >= 10, "planted near-dups must survive the threshold")
    assert(lsh.exceptAll(exact).isEmpty, "precision must be 1.0 (exact confirm)")
    val recall = exact.intersect(lsh).count().toDouble / exact.count()
    assert(recall >= 0.99, s"recall $recall")
  }

  test("simhashAgg keeps ids with empty token arrays (sim 0, like simhash64)") {
    val df = Seq(
      (1L, Seq("spark", "join")),
      (2L, Seq.empty[String])).toDF("id", "toks")
    val bulk = SimHash.simhashAgg(df, "id", "toks")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bulk.keySet == Set(1L, 2L), "empty-set id must not vanish")
    assert(bulk(2L) == 0L, "empty set fingerprints to 0, matching simhash64")
    val perRow = df.select($"id", SimHash.simhash64($"toks").as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bulk == perRow, "bulk path must equal the per-row expression")
  }

  test("SimHash: identical token sets hash identically; hamming is a metric zero") {
    val fp = toks.withColumn("sim", SimHash.simhash64($"toks"))
    // doc 0 ≡ doc 82 have identical token sets at sf0.001 (FIXTURES.md)
    val pair = fp.filter($"doc_id".isin(0, 82)).select("sim").as[Long].collect()
    assert(pair.length == 2 && pair(0) == pair(1))
    val self = fp.limit(5).select(SimHash.hamming($"sim", $"sim")).as[Long].collect()
    assert(self.forall(_ == 0))
  }

  test("D3: HyperLogLog distinct counts stay within 5% of exact") {
    val r = Tables.events(spark, TestSpark.sf0001)
      .groupBy("event_type")
      .agg(approx_count_distinct($"user_id").as("approx"),
        countDistinct($"user_id").as("exact"))
      .select("approx", "exact").as[(Long, Long)].collect()
    r.foreach { case (approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact <= 0.05,
        s"approx $approx vs exact $exact")
    }
  }

  test("D9/K2: MinHashAggregator UDAF equals a direct per-doc computation") {
    val agg = udaf(new MinHashAggregator(8))
    val viaUdaf = toks.limit(20)
      .groupBy("doc_id").agg(agg($"toks").as("sig"))
      .select("doc_id", "sig").as[(Long, Array[Long])].collect().toMap
    val direct = toks.limit(20).as[(Long, Seq[String])].collect().map {
      case (id, tokens) =>
        id -> new MinHashAggregator(8).reduce(Array.fill(8)(Long.MaxValue), tokens)
    }.toMap
    assert(viaUdaf.keySet == direct.keySet)
    viaUdaf.foreach { case (id, sig) => assert(sig.sameElements(direct(id))) }
  }

  test("Multimodal: partition-wise batch decode equals the columnar stub path") {
    val docs = Tables.read(spark, TestSpark.sf0001, "documents")
    val viaBatch = Multimodal.decodeBatch(spark, Multimodal.withPayload(docs))
      .toDF().orderBy("doc_id")
    val viaStub = Multimodal.decodeStub(Multimodal.withPayload(docs))
      .select(col("doc_id"), col("n_bytes"), col("sha"),
        col("width"), col("height"), col("frames"))
      .orderBy("doc_id")
    assert(viaBatch.exceptAll(viaStub).isEmpty && viaStub.exceptAll(viaBatch).isEmpty)
  }

  test("I5: LSH-bucketed ANN recall vs exact brute-force kNN") {
    val exact = Registry.queries("q44_knn_topk")(spark, TestSpark.sf0001)
      .select("q_id", "nb_id").as[(Long, Long)].collect().toSet
    val approx = Registry.queries("q52_embedding_lsh_ann")(spark, TestSpark.sf0001)
      .select("q_id", "nb_id").as[(Long, Long)].collect().toSet
    // 8 hyperplanes over loose clusters: expect modest but nonzero recall;
    // the contract is plumbing correctness + a measurable recall floor.
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"ANN recall $recall")
    assert(approx.nonEmpty)
  }

  test("I5: IVF ANN recall vs exact kNN, and byte-stable across runs") {
    val exact = Registry.queries("q44_knn_topk")(spark, TestSpark.sf0001)
      .select("q_id", "nb_id").as[(Long, Long)].collect().toSet
    def run() = Registry.queries("q86_ivf_ann")(spark, TestSpark.sf0001)
      .select("q_id", "rank", "nb_id").as[(Long, Int, Long)].collect().toSeq
    val a = run()
    val approx = a.map(t => (t._1, t._3)).toSet
    // nprobe=3 of nlist=8 buckets scans ~3/8 of the corpus per query; true
    // neighbors concentrate in the probed buckets, so recall beats the
    // scanned fraction by a wide margin.
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall")
    // Determinism: lowest-id init + decimal-exact mean updates + first-min
    // tie-breaks make the whole index-and-search path order-independent.
    assert(a == run(), "IVF results must be identical across runs")
  }

  test("semantic dedup: leader drop rule matches a brute-force check and is deterministic") {
    import graft.functions.{Ivf, SemanticDedup}
    graft.plans.VectorFunctions.register(spark)
    val v = graft.sources.Tables.read(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .withColumn("nrm", expr("sqrt(graft_dot(e, e))"))
    val cents = Ivf.train(v, "vec_id", "e", nlist = 8, iters = 3)
    // Training determinism asserted on DIRECT train() calls: the q86/q94
    // queries go through trainCached, whose session memo would mask a
    // nondeterministic-training regression from any cache-hitting test.
    assert(cents.map(_.toSeq).toSeq ==
      Ivf.train(v, "vec_id", "e", nlist = 8, iters = 3).map(_.toSeq).toSeq,
      "IVF training must be deterministic (cache bypassed)")
    // 0.3, not a production 0.95: the synthetic embeddings are
    // near-orthogonal (max pairwise cosine ≈ 0.48), see the q94 comment.
    val t = 0.3
    val got = SemanticDedup.dropped(v, cents, t)
      .select("vec_id").as[Long].collect().toSet
    // Brute force on the driver (sf0.001 = 500 vectors): drop v iff some
    // lower-id vector in the same cluster has cosine > t.
    val rows = v.withColumn("c", Ivf.assignment(col("e"), cents))
      .select("vec_id", "e", "c").as[(Long, Seq[Double], Int)]
      .collect().sortBy(_._1)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val want = (for {
      (aId, ae, ac) <- rows
      (bId, be, bc) <- rows
      if bId < aId && bc == ac
      c = cos(ae, be)
      if !c.isNaN && c > t
    } yield aId).toSet
    assert(got == want,
      s"leader-drop mismatch: extra=${got -- want} missing=${want -- got}")
    assert(want.nonEmpty, "fixture should contain at least one semantic dup")
    // Summary must reconcile and be byte-stable across runs.
    def summ() = Registry.queries("q94_semantic_dedup")(spark, TestSpark.sf0001)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val s1 = summ()
    assert(s1.map(_._2).sum == rows.length.toLong)
    assert(s1.map(_._3).sum == want.size.toLong)
    assert(s1.forall { case (_, n, d, k) => n == d + k })
    assert(s1 == summ(), "semantic dedup must be deterministic")
  }

  test("IVF tolerates non-finite vectors: train skips them, assignment buckets them") {
    import graft.functions.Ivf
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.1, 0.0)), (2L, Seq(5.0, 5.0)),
      (3L, Seq(5.1, 5.0)), (4L, Seq(Double.NaN, 1.0)),
      (5L, Seq(Double.PositiveInfinity, 2.0))
    ).toDF("vec_id", "e")
    // Before the guard this threw (train: ArrayIndexOutOfBounds on cluster
    // -1; or ANSI cast of NaN to decimal in the mean update).
    val cents = Ivf.train(vecs, "vec_id", "e", nlist = 2, iters = 2)
    assert(cents.length == 2 && cents.forall(_.forall(v => !v.isNaN)))
    // Non-finite rows must land in SOME bucket (dist2 coalesces NaN ->
    // +Infinity), never the silent -1 that dropped them from every bucket.
    val assigned = vecs
      .withColumn("c", Ivf.assignment(col("e"), cents))
      .select("vec_id", "c").as[(Long, Int)].collect().toMap
    assert(assigned.size == 6 && assigned.values.forall(c => c >= 0 && c < 2),
      s"got $assigned")
  }
}

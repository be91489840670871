package graft

import graft.functions.MinHashAggregator
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY §5.3). Pure-function properties run
  * without Spark; the lambda-consistency property runs on small generated
  * DataFrames. */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit =
    assert(SCTest.check(SCTest.Parameters.default, p).passed)

  private val tokenGen: Gen[List[String]] =
    Gen.listOfN(12, Gen.oneOf("spark", "query", "join", "the", "fast", "key",
      "sort", "scan", "merge", "row"))

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size

  test("Jaccard is symmetric, bounded, and 1 on identical sets") {
    check(forAll(tokenGen, tokenGen) { (x, y) =>
      val (a, b) = (x.toSet, y.toSet)
      val j = jaccard(a, b)
      j >= 0.0 && j <= 1.0 && j == jaccard(b, a) && jaccard(a, a) == 1.0
    })
  }

  test("MinHashAggregator merge is commutative and matches single-pass reduce") {
    check(forAll(tokenGen, tokenGen) { (x, y) =>
      def fresh = Array.fill(8)(Long.MaxValue)
      val agg = new MinHashAggregator(8)
      val ab = agg.merge(agg.reduce(fresh, x), agg.reduce(fresh, y))
      val ba = agg.merge(agg.reduce(fresh, y), agg.reduce(fresh, x))
      val onePass = agg.reduce(agg.reduce(fresh, x), y)
      ab.sameElements(ba) && ab.sameElements(onePass)
    })
  }

  test("graft_minhash equals the built-in formulation on random token arrays") {
    // Complements SketchSpec's corpus+edges equivalence with generated
    // inputs: arbitrary unicode-ish strings, duplicates, varying lengths.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val arrGen = Gen.listOfN(40,
      Gen.choose(0, 24).flatMap(n => Gen.stringOfN(n,
        Gen.frequency(8 -> Gen.alphaNumChar, 2 -> Gen.oneOf('é', '中', '∂', ' ')))))
    val rows = Gen.listOfN(60, arrGen).sample.get
    val df = rows.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("id", "toks")
    val n = df
      .withColumn("fused", graft.functions.MinHash.signature(col("toks"), 24))
      .withColumn("builtin",
        graft.functions.MinHash.signatureBuiltin(col("toks"), 24))
      .filter(org.apache.spark.sql.functions.not(col("fused") <=> col("builtin")))
      .count()
    assert(n == 0L, s"$n generated rows disagree between graft_minhash and " +
      "the built-in xxhash64 formulation")
  }

  test("graft_shingles equals the transform+concat_ws formulation on random arrays") {
    // Complements SketchSpec's corpus+crafted-edges byte-equivalence with a
    // randomized sweep (VERDICT r8 task #3): arbitrary strings incl. nulls,
    // empties, spaces and unicode, lengths 0..9 (so every size<n edge is
    // hit), checked at n = 1, 2, 3 against the HOF formulation the fused
    // expression replaced. The expression feeds three oracled queries
    // (q93/q106/q122) — hash-critical path.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, not, size, when}
    val tokGen: Gen[String] = Gen.frequency(
      1 -> Gen.const(null: String),
      1 -> Gen.const(""),
      8 -> Gen.choose(0, 12).flatMap(len => Gen.stringOfN(len,
        Gen.frequency(8 -> Gen.alphaNumChar, 2 -> Gen.oneOf('é', '中', '∂', ' ')))))
    val arrGen = Gen.choose(0, 9).flatMap(len => Gen.listOfN(len, tokGen))
    val rows = Gen.listOfN(120, arrGen).sample.get
    val df = rows.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("id", "toks")
    def builtin(n: Int): org.apache.spark.sql.Column = {
      val wins = (1 to n).map(j => s"element_at(toks, i + ${j - 1})")
        .mkString(", ")
      when(size(col("toks")) >= n,
        expr(s"transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> concat_ws(' ', $wins))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
    }
    for (n <- 1 to 3) {
      val bad = df
        .withColumn("fused", graft.plans.GramShingles.shingles(col("toks"), n))
        .withColumn("builtin", builtin(n))
        .filter(not(col("fused") <=> col("builtin")))
        .count()
      assert(bad == 0L, s"$bad generated rows disagree between " +
        s"graft_shingles(toks, $n) and the built-in formulation")
    }
  }

  test("graft_lsh_buckets equals the when(graft_dot > 0) compositional fold") {
    // Pins the round-13 q52 rewrite: the fused L×k bucket expression
    // replaced a 16-column when(graft_dot(e, plane_p) > 0, 1<<j) fold whose
    // generated filter method sat at HotSpot's 8 KB huge-method limit (the
    // corpus gate's one extra conjunct tipped it into never-JIT-compiled,
    // 5× per-task). Random vectors — finite values, NaN, ±Inf, zeros, null
    // elements, dims 0..80 (shorter AND longer than the planes) — must
    // bucket bit-identically under both formulations, including the
    // null-element case (null dot → CASE falls to 0 → all-zero buckets).
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.plans.VectorFunctions.register(spark)
    val nTables = 4
    val k = 4
    val planes: Seq[Seq[Double]] = (0 until nTables * k).map { p =>
      (0 until 64).map { d =>
        val h: Int = (scala.util.hashing.MurmurHash3.productHash((p, d)): @scala.annotation.nowarn("cat=deprecation"))
        (h % 1000) / 1000.0
      }
    }
    val elemGen: Gen[java.lang.Double] = Gen.frequency(
      12 -> Gen.choose(-2.0, 2.0).map(java.lang.Double.valueOf),
      1 -> Gen.const(java.lang.Double.valueOf(Double.NaN)),
      1 -> Gen.const(java.lang.Double.valueOf(Double.PositiveInfinity)),
      1 -> Gen.const(java.lang.Double.valueOf(0.0)),
      1 -> Gen.const(null: java.lang.Double))
    val vecGen = Gen.choose(0, 80).flatMap(len => Gen.listOfN(len, elemGen))
    // Crafted rows pin the edges the random draw only sometimes produces,
    // in particular the one a randomized run caught live (suite run 9,
    // round 13): a null element PAST the planes' 64 dims must not zero the
    // buckets, because graft_dot's fold never reaches it — the fused
    // expression's first cut prescanned the whole vector for nulls and
    // diverged exactly there.
    val crafted: List[List[java.lang.Double]] = List(
      // null only at index 67 of a dim-70 vector (outside every dot range)
      List.tabulate[java.lang.Double](70)(i =>
        if (i == 67) null else java.lang.Double.valueOf(0.5 - (i % 3) * 0.4)),
      // null at index 0 (inside every dot range -> every bucket 0)
      List.tabulate[java.lang.Double](64)(i =>
        if (i == 0) null else java.lang.Double.valueOf(1.0)),
      // all-NaN, all-zero, and empty
      List.fill[java.lang.Double](64)(java.lang.Double.valueOf(Double.NaN)),
      List.fill[java.lang.Double](64)(java.lang.Double.valueOf(0.0)),
      List.empty[java.lang.Double])
    val rows = crafted ++ Gen.listOfN(150, vecGen).sample.get
    val df = rows.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(Option(_).map(_.doubleValue))) }
      .toDF("id", "e")
    val withPlanes = planes.zipWithIndex.foldLeft(df) { case (d, (plane, i)) =>
      d.withColumn(s"plane$i", typedLit(plane))
    }
    val bucketCols = (0 until nTables).map { t =>
      (0 until k).map { j =>
        val p = t * k + j
        when(expr(s"graft_dot(e, plane$p)") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val bad = withPlanes
      .withColumn("compositional", array(bucketCols: _*))
      .withColumn("fused",
        call_function("graft_lsh_buckets", col("e"), typedLit(planes), lit(k)))
      .filter(not(col("fused") <=> col("compositional")))
      .count()
    assert(bad == 0L, s"$bad random vectors bucket differently between " +
      "graft_lsh_buckets and the compositional formulation")
  }

  test("bitmask OR-fold equals the explode→row_number→sum formulation") {
    // Pins the round-9 bitmask rewrite (VERDICT r9 #2): the shared mask
    // build behind q33/q78/q133 and q50's confirm (MinHash.tokenMasks)
    // replaced an explode → row_number window → broadcast join → groupBy
    // SUM chain with a probed, byte-sorted vocabulary + a per-row OR-fold
    // over array_position bits. Randomized corpora over a ≤64-word pool,
    // doc lengths 0..20 (empty docs included: BOTH paths must drop them —
    // the old path had nothing to explode, the new path filters size > 0
    // as the q33/q78/q133 set relation does), asserted bit-for-bit per
    // doc_id via a full outer join.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pool = (1 to 64).map(i => f"w$i%02d")
    val docGen = Gen.choose(0, 20).flatMap(n => Gen.listOfN(n, Gen.oneOf(pool)))
    val rows = Gen.listOfN(150, docGen).sample.get
    val docToks = rows.zipWithIndex
      .map { case (ts, i) => (i.toLong, ts) }.toDF("doc_id", "toks0")
      .select(col("doc_id"), array_distinct(col("toks0")).as("toks"))
    // New path — the one shared mask function, applied per document.
    val masksNew = graft.functions.MinHash
      .tokenMasks(docToks.filter(size(col("toks")) > 0)).get
      .select("doc_id", "mask")
    val tok = docToks.select(col("doc_id"), explode(col("toks")).as("tok"))
    // Old (rounds 1-8) path — the formulation the rewrite replaced.
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("tok"))
    val vocabBits = tok.select("tok").distinct()
      .withColumn("bit", row_number().over(w) - 1)
    val masksOld = tok.join(broadcast(vocabBits), "tok")
      .groupBy("doc_id")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), bit)")).as("mask"))
    val bad = masksNew.as("n").join(masksOld.as("o"), Seq("doc_id"), "full_outer")
      .filter(not(col("n.mask") <=> col("o.mask")))
      .count()
    assert(bad == 0L, s"$bad docs disagree between the OR-fold mask and the " +
      "explode→row_number→sum formulation")
  }

  test("bitmask 65-word vocabulary tripwire fires through the real query path") {
    // shiftleft wraps mod 64, so a 65th word would silently alias bit 0 and
    // corrupt every downstream Jaccard — docMasks must fail loudly instead.
    // Exercised end-to-end: a 65-distinct-word documents.parquet through the
    // declared q33 (not a replica of the expression).
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tripwire").toString
    val text65 = (1 to 65).map(i => s"word$i").mkString(" ")
    Seq((1L, text65, "en"), (2L, "word1 word2", "en"))
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ex = intercept[Exception] {
      SparkEntry.queries("q33_neardup_pairs")(spark, dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("vocabulary exceeds 64 words")),
      s"expected the 64-word tripwire, got: ${ex.getMessage}")
  }

  test("MinHash signature equality follows set equality") {
    check(forAll(tokenGen) { x =>
      val agg = new MinHashAggregator(8)
      def sigOf(ts: Seq[String]) =
        agg.reduce(Array.fill(8)(Long.MaxValue), ts).toSeq
      // Permutation and duplication never change the signature:
      sigOf(x) == sigOf(scala.util.Random.shuffle(x ++ x))
    })
  }

  test("lambda consistency: batch ∪ speed views equal the full recompute") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Gen.listOfN(200,
      Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 100L), Gen.choose(1L, 9L)))
      .sample.get
    val df = rows.toDF("user_id", "t", "v")
    def view(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("user_id").agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("v").as("v"))
    val cut = 50L
    val unioned = view(df.filter($"t" < cut))
      .unionByName(view(df.filter($"t" >= cut)))
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.sum("n").as("n"),
        org.apache.spark.sql.functions.sum("v").as("v"))
    val direct = view(df)
    assert(unioned.exceptAll(direct).isEmpty && direct.exceptAll(unioned).isEmpty)
  }

  test("dedup is idempotent") {
    val spark = TestSpark.spark
    val docs = graft.sources.Tables.read(spark, TestSpark.sf0001, "documents")
    val once = docs.dropDuplicates("text")
    val twice = once.dropDuplicates("text")
    assert(once.count() == twice.count())
  }

  test("q84 quantization: reconstruction error bounded by half a step") {
    // |x - dequant(quant(x))| <= scale/2 for every element — the defining
    // property of round-to-nearest affine quantization (floor(x+0.5) IS
    // round-to-nearest for non-negative arguments, and (x-mn)/scale >= 0).
    check(forAll(Gen.listOfN(16, Gen.choose(-100.0, 100.0))) { xs =>
      val mn = xs.min; val mx = xs.max
      val scale = if (mx == mn) 1.0 else (mx - mn) / 255.0
      xs.forall { x =>
        val q = math.floor((x - mn) / scale + 0.5).toInt
        val deq = mn + q * scale
        math.abs(x - deq) <= scale / 2 + 1e-12
      }
    })
  }

  test("frame sampling: indices in range, sorted, at most k, exhaustive when k >= n") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val frames = (1 to 40).toDF("frames")
    val k = 4
    val out = frames.select(col("frames"),
        sort_array(graft.multimodal.Multimodal.sampleFrameIndices(col("frames"), k)).as("idx"))
      .as[(Int, Seq[Int])].collect()
    out.foreach { case (n, idx) =>
      assert(idx.nonEmpty && idx.size <= k)
      assert(idx.forall(i => i >= 0 && i < n), s"n=$n idx=$idx out of range")
      assert(idx == idx.sorted && idx.distinct == idx)
      if (n <= k) assert(idx == (0 until n), s"k>=n must sample every frame (n=$n, idx=$idx)")
    }
  }

  test("resize plan: aspect preserved within rounding, never upscales, long side <= max") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dims = (for (w <- Seq(64, 257, 640, 1919); h <- Seq(64, 300, 1016, 1080))
      yield (w, h)).toDF("w", "h")
    val out = dims.select(col("w"), col("h"),
        graft.multimodal.Multimodal.resizePlan(col("w"), col("h"), 256).as("rp"))
      .select(col("w"), col("h"), col("rp.out_w"), col("rp.out_h"))
      .as[(Int, Int, Int, Int)].collect()
    out.foreach { case (w, h, ow, oh) =>
      assert(math.max(ow, oh) <= 256, s"($w,$h) -> ($ow,$oh)")
      assert(ow <= w && oh <= h, "must never upscale")
      // aspect preserved within 1px of the exact scaled value
      val s = math.min(math.max(w, h), 256).toDouble / math.max(w, h)
      assert(math.abs(ow - w * s) <= 1 && math.abs(oh - h * s) <= 1,
        s"($w,$h) -> ($ow,$oh) drifts from scale $s")
    }
  }

  test("q126 centroid distances form a metric over the label set") {
    val spark = TestSpark.spark
    val rows = Registry.queries("q126_centroid_distances")(
      spark, TestSpark.sf0001).collect()
    val labels = graft.sources.Tables.read(spark, TestSpark.sf0001, "embeddings")
      .select("label").distinct().count()
    assert(rows.length == labels * (labels - 1) / 2, "one row per label pair")
    val d = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    rows.foreach { r =>
      assert(r.getLong(2) == 64L, s"all 64 dimensions present: $r")
      assert(r.getDouble(3) > 0.0, s"distinct-label centroids separated: $r")
    }
    // Triangle inequality across every label triple (half-ulp slack for the
    // per-pair DECIMAL(18,9) output rounding).
    def dist(a: Int, b: Int): Double = d(if (a < b) (a, b) else (b, a))
    val ls = d.keys.flatMap { case (a, b) => Seq(a, b) }.toSeq.distinct.sorted
    for (a <- ls; b <- ls if a < b; c <- ls if c != a && c != b)
      assert(dist(a, b) <= dist(a, c) + dist(c, b) + 2e-9,
        s"triangle violated on ($a,$b,$c)")
  }

  test("q134 nearest separation agrees with q126's distance matrix") {
    val spark = TestSpark.spark
    val sep = Registry.queries("q134_label_separability")(
      spark, TestSpark.sf0001).collect()
    assert(sep.nonEmpty)
    val d126 = Registry.queries("q126_centroid_distances")(
      spark, TestSpark.sf0001).collect()
      .flatMap { r =>
        val (a, b, d) = (r.getInt(0), r.getInt(1), r.getDouble(3))
        Seq(a -> d, b -> d)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    sep.foreach { r =>
      val (label, spread, nearest, ratio) =
        (r.getInt(0), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(spread > 0.0, s"degenerate spread: $r")
      assert(math.abs(nearest - d126(label)) < 1e-9,
        s"nearest_dist must equal q126's row minimum: $r vs ${d126(label)}")
      assert(math.abs(ratio - nearest / spread) < 1e-5,
        s"separability is the declared ratio: $r")
    }
  }
}

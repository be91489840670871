package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** MinHash signatures + LSH banding for near-duplicate detection at scale
  * (SURVEY §2 I2, §7.5).
  *
  * The signature is h_i(doc) = min over tokens of xxhash64(token, i),
  * computed by the custom codegen'd [[graft.plans.MinHashSignature]]
  * expression (one string hash per token; round 8 — the pure-built-in
  * formulation it byte-identically replaces is kept as
  * [[signatureBuiltin]]). Banding groups rows of
  * the signature into `bands` buckets; two documents sharing any band hash
  * become a candidate pair. With sig length n = bands * rowsPerBand, the
  * probability a pair with Jaccard j becomes a candidate is
  * 1 - (1 - j^rowsPerBand)^bands — the standard S-curve. Candidates are then
  * confirmed with exact Jaccard, so false positives cost time, never
  * correctness; false negatives are bounded by the curve (recall asserted in
  * MinHashSpec).
  *
  * At 100 TB this is the path that replaces any quadratic similarity join:
  * cost is O(corpus) for signatures + O(candidates) for verification, with
  * shuffles keyed by band hash (uniform by construction).
  */
object MinHash {

  /** Column: MinHash signature (array<bigint>, length numHashes) from a
    * distinct-token array column. A custom codegen'd expression
    * ([[graft.plans.MinHashSignature]]): the original pure-built-in
    * formulation (`array(array_min(transform(toks, t -> xxhash64(t, i))))`
    * per seed) was CodegenFallback through the HOFs AND re-hashed every
    * token string numHashes times; the fused expression hashes each string
    * once and produces a byte-identical signature (equivalence pinned by
    * SketchSpec). */
  def signature(tokens: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.MinHashSignature(
        org.apache.spark.sql.GraftSqlShim.expression(tokens), numHashes))

  /** The pre-round-8 built-in formulation, kept as the equivalence oracle
    * for [[signature]]'s custom expression (and as documentation of the
    * exact chained-hash semantics being reproduced). */
  private[graft] def signatureBuiltin(tokens: Column, numHashes: Int): Column = {
    val sigs = (0 until numHashes).map { i =>
      array_min(transform(tokens, t => xxhash64(t, lit(i))))
    }
    array(sigs: _*)
  }

  /** Explodes a signature into (bandId, bandHash) rows for LSH bucketing.
    * numBands must divide the signature length: a remainder would silently
    * drop the trailing signature rows from every band (recall below the
    * advertised S-curve), and numBands > length would make every slice
    * empty so ALL documents collide in ALL bands (a |sets|² candidate
    * cross product). */
  def bands(df: DataFrame, sigCol: String, numBands: Int): DataFrame = {
    val n = numBands
    df.withColumn("band_id", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("band_hash",
        xxhash64(col("band_id"),
          expr(s"slice($sigCol, band_id * (size($sigCol) div $n) + 1, size($sigCol) div $n)")))
  }

  /** Documents grouped by identical token SET (sorted, so element order
    * never splits a set): one row per distinct set with a representative id
    * and the member list. Near-dup structure makes many docs share a set —
    * collapsing first shrinks every downstream join. */
  def distinctSets(docs: DataFrame, idCol: String, tokensCol: String): DataFrame =
    docs.groupBy(sort_array(col(tokensCol)).as("toks"))
      .agg(collect_list(col(idCol)).as("ids"), min(col(idCol)).as("rep"))

  /** `sets` with a `mask` column: each set's tokens as one 64-bit mask over
    * the corpus vocabulary, or None when the vocabulary has more than 64
    * words (shiftleft wraps mod 64, so a 65th word would alias bit 0). The
    * one bit layout behind every exact Jaccard of the engine: q50's
    * bitmask confirm and the q33/q78/q133 set relation. `sets` holds a
    * `toks` array column and is read twice, by the vocabulary probe (one
    * job) and by the fold, so checkpoint it first.
    *
    * Bits follow array_position over the vocabulary sorted by UTF-8 bytes
    * (UTF8String/sort_array binary order — NOT java String order, which
    * diverges on supplementary planes), the rank row_number-over-orderBy
    * gave the older explode → window → join → sum derivation (PropertySpec
    * pins the two equal). The OR-fold is duplicate-proof and skips null
    * tokens, so a null takes no bit, a pure bit permutation invisible to
    * popcount Jaccard; a set of nulls only folds to mask 0. */
  def tokenMasks(sets: DataFrame): Option[DataFrame] = {
    // limit(65): only "is it > 64" matters — don't pay a full-corpus
    // distinct count for a branch decision. When the vocabulary fits, the
    // probe has fetched all of it, so the fold takes it as a local literal.
    val vocabRows = sets.select(explode(col("toks")).as("tok")).distinct()
      .limit(65).collect().map(_.getString(0))
    if (vocabRows.length > 64) None
    else {
      val vocab = typedLit(vocabRows.filter(_ != null).sortWith { (a, b) =>
        java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      }.toSeq)
      Some(sets.withColumn("mask",
        aggregate(col("toks"), lit(0L), (acc, t) =>
          when(t.isNull, acc).otherwise(acc.bitwiseOR(
            call_function("shiftleft", lit(1L),
              call_function("array_position", vocab, t).cast("int") - 1))))))
    }
  }

  /** Set pairs back to document pairs, shared by q33, q50 and q51:
    * `grouped` is [[distinctSets]]' (rep, ids) output and `confirmed` holds
    * (r1, r2, `scoreCol`) pairs of its reps. Each confirmed pair becomes
    * every cross pair of its two sets' members, and every two members of
    * one set pair up scored `sameSet`. Output: (d1 < d2, `scoreCol`). */
  def setPairsToDocPairs(grouped: DataFrame, confirmed: DataFrame,
      scoreCol: String, sameSet: Column): DataFrame = {
    val members = grouped.select(col("rep"), explode(col("ids")).as("id"))
    val inter = confirmed
      .join(members.select(col("rep").as("r1"), col("id").as("ida")), "r1")
      .join(members.select(col("rep").as("r2"), col("id").as("idb")), "r2")
      .select(least(col("ida"), col("idb")).as("d1"),
        greatest(col("ida"), col("idb")).as("d2"), col(scoreCol))
    val intra = members.select(col("rep"), col("id").as("ida"))
      .join(members.select(col("rep"), col("id").as("idb")), "rep")
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("d1"), col("idb").as("d2"), sameSet.as(scoreCol))
    inter.unionByName(intra)
  }

  /** Candidate near-dup pairs via LSH banding, confirmed by exact Jaccard.
    * Input: (idCol, tokens array). Output: d1, d2, jac (double) with
    * jac >= threshold. Exact-verify step makes precision 1.0; recall follows
    * the banding S-curve.
    *
    * Shape (100 TB note): signatures, banding, candidate enumeration, and
    * the exact confirm all run over DISTINCT token sets; identical-set
    * members (Jaccard 1.0 by definition) and confirmed set pairs are
    * expanded back to document pairs only at the very end. */
  def nearDupPairs(docs: DataFrame, idCol: String, tokensCol: String,
      numHashes: Int, numBands: Int, threshold: Double): DataFrame = {
    require(numBands >= 1 && numHashes % numBands == 0,
      s"numBands ($numBands) must divide numHashes ($numHashes) — see bands()")
    // Checkpoint the collapsed-set stage (lazy — eager would run a job at
    // plan-construction time; pinned against the accumulator race — see
    // SessionCache.pin): three downstream actions (the vocab-size probe,
    // the candidate pipeline, the member expansion) would otherwise each
    // recompute the corpus groupBy.
    val grouped = graft.SessionCache.lazyLocalCheckpoint("minhash-sets")(
      distinctSets(docs, idCol, tokensCol))
    val sets = grouped.select(col("rep"), col("toks"))
    val sig = sets.withColumn("sig", signature(col("toks"), numHashes))
    // Checkpoint the BANDED stage too: the candidate enumeration below
    // self-joins it, so without materialization the signature stage runs on
    // BOTH join sides. Since round 8 that stage is the fused codegen
    // MinHashSignature expression (~0.57 s of q50's sf0.1 profile, timed
    // through queryExecution.toRdd so the optimizer cannot prune the
    // unconsumed signature column — down from ~1.8 s when it was
    // interpreted HOF folds), so the pin is no longer about dodging
    // CodegenFallback; it still halves the stage by collapsing the two
    // join-side computations to one, and it keeps the double-compute from
    // returning if the signature ever gets more expensive again.
    val banded = graft.SessionCache.lazyLocalCheckpoint("minhash-bands")(
      bands(sig, "sig", numBands).select("rep", "band_hash"))
    // Candidate pairs KEEP band duplicates here (a pair colliding in k bands
    // appears k times): deduplicating before the exact confirm means
    // shuffling the full pre-filter candidate volume — measured 8.4 s of
    // q50's 8.9 s at sf0.1. Instead the confirm runs first (map-side when
    // broadcastable) and the far smaller surviving set is deduplicated.
    val cand = banded.as("x").join(banded.as("y"), Seq("band_hash"))
      .filter(col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("r1"), col("y.rep").as("r2"))
    // Adaptive exact-confirm: if the corpus vocabulary fits in 64 bits,
    // compare token sets as bitmask popcounts (pure integer ops) instead of
    // string-array intersections — same result, far cheaper per candidate.
    // (An AQE-style data-dependent plan choice; the array path is the
    // general case for open vocabularies.)
    val confirmed = tokenMasks(sets) match {
      case Some(m) =>
        val masks = graft.SessionCache.lazyLocalCheckpoint("minhash-masks")(
          m.select("rep", "mask"))
        cand
          .join(broadcast(masks.select(col("rep").as("r1"), col("mask").as("m1"))), "r1")
          .join(broadcast(masks.select(col("rep").as("r2"), col("mask").as("m2"))), "r2")
          // Two sets that both fold to mask 0 ([null] and [null, null]) share
          // one signature, so they collide in every band; their 0/0 Jaccard
          // (DIVIDE_BY_ZERO under ANSI) must never be computed (the cluster
          // path's `uni > 0` guard).
          .filter(expr("bit_count(m1 | m2) > 0"))
          .withColumn("jac",
            expr("bit_count(m1 & m2)").cast("double") / expr("bit_count(m1 | m2)"))
          .filter(col("jac") >= threshold)
          .groupBy("r1", "r2").agg(first(col("jac")).as("jac"))
      case None =>
        // Open vocabulary: token arrays are too wide to broadcast blindly —
        // dedupe candidates first, then shuffle-join the set arrays in.
        // Nulls dropped and empty unions skipped, as in the bitmask confirm,
        // so the pairs do not depend on the vocabulary size.
        val candD = cand.distinct()
        val t1 = sets.select(col("rep").as("r1"), array_compact(col("toks")).as("t1"))
        val t2 = sets.select(col("rep").as("r2"), array_compact(col("toks")).as("t2"))
        candD.join(t1, "r1").join(t2, "r2")
          .withColumn("uni", size(array_union(col("t1"), col("t2"))))
          .filter(col("uni") > 0)
          .withColumn("jac",
            size(array_intersect(col("t1"), col("t2"))).cast("double") / col("uni"))
          .filter(col("jac") >= threshold)
          .select("r1", "r2", "jac")
    }
    setPairsToDocPairs(grouped, confirmed, "jac", lit(1.0))
  }
}

/** D9/K2 exhibit: the same MinHash signature as a custom typed Aggregator
  * (UDAF), one pass, mergeable partials — the shape a TypedImperativeAggregate
  * would take if the built-in formulation ever became the bottleneck. */
class MinHashAggregator(numHashes: Int)
    extends Aggregator[Seq[String], Array[Long], Array[Long]] {

  private def h(token: String, seed: Int): Long = {
    // xxhash-like mix over the token bytes with the seed; stable and cheap.
    var x = seed.toLong * 0x9E3779B97F4A7C15L
    var i = 0
    while (i < token.length) {
      x = (x ^ token.charAt(i).toLong) * 0xC2B2AE3D27D4EB4FL
      x = java.lang.Long.rotateLeft(x, 31)
      i += 1
    }
    x
  }

  def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
  def reduce(buf: Array[Long], tokens: Seq[String]): Array[Long] = {
    // Null token-sets reach reduce as-is (a typed Aggregator gets the raw
    // column value — null text makes split/array_distinct null, not empty).
    // Contribute nothing, like every built-in aggregate's null handling.
    if (tokens == null) return buf
    var i = 0
    while (i < numHashes) {
      var m = buf(i)
      tokens.foreach { t => val v = h(t, i); if (v < m) m = v }
      buf(i) = m
      i += 1
    }
    buf
  }
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }
  def finish(r: Array[Long]): Array[Long] = r
  def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] = bufferEncoder
}

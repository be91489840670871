package graft.operators

import graft.QueryDef
import graft.functions.{MinHash, SimHash}
import graft.multimodal.Multimodal
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch / approximate / UDF-surface operators (SURVEY §2 D3, I2, K1/K2)
  * plus the multimodal metadata pipeline.
  *
  * Queries whose results depend on engine-specific hash functions
  * (MinHash/LSH, SimHash, HLL, random-hyperplane LSH) are declared WITHOUT an
  * oracle — the driver records a rows-only check and the ScalaTest suites
  * assert their statistical contracts (recall vs the exact pair set, error
  * bounds vs exact distinct counts). Deterministic queries here (multimodal
  * metadata, the scalar-UDF exhibit) do carry oracles.
  */
object SketchQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // ---- D3: HyperLogLog approximate distinct (non-oracle; bound-tested) ----
    QueryDef(
      "q49_approx_distinct",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(
            approx_count_distinct(col("user_id")).as("approx_users"),
            approx_count_distinct(col("user_id"), 0.01).as("approx_users_1pct"),
            countDistinct(col("user_id")).as("exact_users"))
          .orderBy("event_type")),

    // ---- D4 approx twin: t-digest-style approximate percentiles
    // (non-oracle — sketch internals are engine-specific; the exact
    // rank-based variant q21 is the oracled twin) ----
    QueryDef(
      "q69_approx_percentiles",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .groupBy("event_type")
          .agg(
            percentile_approx(col("cents"), lit(0.5), lit(10000)).as("p50_approx"),
            percentile_approx(col("cents"), lit(0.9), lit(10000)).as("p90_approx"),
            count(lit(1)).as("n"))
          .orderBy("event_type")),

    // ---- I2: MinHash/LSH near-dup candidates, exact-Jaccard confirmed
    // (non-oracle: xxhash64 seeds are Spark-specific; recall vs the exact
    // q33 pair set is asserted in MinHashSpec) ----
    QueryDef(
      "q50_minhash_lsh",
      (s, dir) =>
        MinHash.nearDupPairs(Q.docToks(s, dir), "doc_id", "toks",
            numHashes = 96, numBands = 16, threshold = 0.8)
          .withColumn("jac", col("jac").cast("decimal(9,6)").cast("double"))
          .orderBy("d1", "d2")),

    // ---- SimHash near-dup via banding (non-oracle; properties unit-tested).
    // Hamming ≤ 3 on 64-bit fingerprints ⇒ at least one of 4 16-bit chunks
    // identical (pigeonhole), so candidates come from chunk-equality joins —
    // never a full pair enumeration. ----
    QueryDef(
      "q51_simhash_neardup",
      (s, dir) => {
        // Fingerprint DISTINCT token sets (one grouped codegen pass), band
        // by 16-bit chunks, confirm hamming, then expand to doc pairs.
        // Checkpoint the collapsed-set stage like q50's nearDupPairs does
        // (r20): the member expansion (MinHash.setPairsToDocPairs) reads it
        // once per join side plus twice in the intra self-join, and the
        // un-checkpointed plan re-derived the corpus groupBy FOUR times —
        // the r20 dump showed 8 parquet scans of documents in one q51 plan.
        val grouped = graft.SessionCache.lazyLocalCheckpoint("q51-sets")(
          MinHash.distinctSets(Q.docToks(s, dir), "doc_id", "toks"))
        val fp = SimHash.simhashAgg(
          grouped.select(col("rep"), col("toks")), "rep", "toks")
        // Checkpoint before the self-join below: both candidate sides would
        // otherwise re-run the whole fingerprint pipeline (distinct-set
        // groupBy + the 64-column simhash aggregation) — the same
        // double-compute the q50 banded checkpoint eliminates.
        val chunks = graft.SessionCache.lazyLocalCheckpoint("q51-chunks")(
          fp.withColumn("chunk_id", explode(sequence(lit(0), lit(3))))
            .withColumn("chunk", expr("(sim >> (chunk_id * 16)) & 65535"))
            .select("rep", "sim", "chunk_id", "chunk"))
        val cand = chunks.as("x")
          .join(chunks.as("y"), Seq("chunk_id", "chunk"))
          .filter(col("x.rep") < col("y.rep"))
          .select(col("x.rep").as("r1"), col("y.rep").as("r2"),
            col("x.sim").as("s1"), col("y.sim").as("s2"))
          .distinct()
        val confirmed = cand
          .withColumn("hamming", SimHash.hamming(col("s1"), col("s2")).cast("long"))
          .filter(col("hamming") <= 3)
          .select("r1", "r2", "hamming")
        MinHash.setPairsToDocPairs(grouped, confirmed, "hamming", lit(0L))
          .orderBy("d1", "d2")
      }),

    // ---- I5 scale path: random-hyperplane LSH-bucketed ANN (non-oracle;
    // recall vs exact q44 asserted in VectorSpec) ----
    QueryDef(
      "q52_embedding_lsh_ann",
      (s, dir) => {
        graft.plans.VectorFunctions.register(s)
        // Multi-table random-hyperplane LSH: L tables × k planes. A vector's
        // bucket in table t is the k-bit sign pattern of its dot products
        // with that table's planes; candidates = same (table, bucket); union
        // over tables trades work for recall. Planes are deterministic
        // pseudo-random (hash-derived) — stable across runs and executors.
        val nTables = 4
        val k = 4
        // productHash is deprecated in 2.13.17 but its replacement
        // (caseClassHash) produces DIFFERENT values — keep the original so
        // the plane set (and the recall-tested bucketing) stays identical.
        val planes: Seq[Seq[Double]] = (0 until nTables * k).map { p =>
          (0 until 64).map { d =>
            val h: Int = (scala.util.hashing.MurmurHash3.productHash((p, d)): @scala.annotation.nowarn("cat=deprecation"))
            (h % 1000) / 1000.0
          }
        }
        val v0 = Tables.read(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("e"))
          .withColumn("nrm", expr("sqrt(graft_dot(e, e))"))
        // All L×k bucket ids in ONE fused codegen expression (bit-identical
        // to the earlier 16-column when(graft_dot(e, plane_p) > 0, …) fold,
        // pinned by PropertySpec). The compositional form generated a
        // scan-filter method at HotSpot's 8 KB huge-method limit — one
        // conjunct away from silently losing JIT compilation, which the
        // round-13 corpus gate demonstrated live as a 5× per-task
        // inflation on a byte-identical plan (see LshBuckets scaladoc).
        val melted = v0
          .withColumn("buckets", call_function("graft_lsh_buckets",
            col("e"), typedLit(planes), lit(k)))
          .select(col("vec_id"),
            posexplode(col("buckets")).as(Seq("tbl", "bucket")))
        val cand = melted.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
          .join(melted.select(col("vec_id").as("nb_id"), col("tbl"), col("bucket")),
            Seq("tbl", "bucket"))
          .filter(col("q_id") =!= col("nb_id"))
          .select("q_id", "nb_id").distinct()
        val qv = v0.select(col("vec_id").as("q_id"), col("e").as("ae"),
          col("nrm").as("anrm"))
        val cv = v0.select(col("vec_id").as("nb_id"), col("e").as("be"),
          col("nrm").as("bnrm"))
        val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id"))
        cand.join(broadcast(qv), "q_id").join(cv, "nb_id")
          .withColumn("cos", expr("graft_dot(ae, be) / (anrm * bnrm)"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("rank"), col("nb_id"),
            col("cos").cast("decimal(18,9)").cast("double").as("cos_sim"))
          .orderBy("q_id", "rank")
      }),

    // ---- Multimodal metadata pipeline (decode is a marked stub; the
    // byte-level metadata IS deterministic → oracled) ----
    QueryDef(
      "q53_multimodal_meta",
      (s, dir) =>
        Multimodal.decodeStub(Multimodal.withPayload(Tables.read(s, dir, "documents")))
          .select(col("doc_id"), col("n_bytes"), col("sha"),
            col("width"), col("height"), col("frames"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS sha,
               CAST(64 + CAST(octet_length(encode(text)) AS BIGINT) % 1856 AS INT) AS width,
               CAST(64 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 1016 AS INT) AS height,
               CAST(1 + CAST(octet_length(encode(text)) AS BIGINT) % 30 AS INT) AS frames
        FROM documents ORDER BY doc_id
      """.stripMargin.trim)),

    // ---- Multimodal processing plan: evenly-spaced frame sampling +
    // aspect-preserving resize targets over the (stub-)decoded metadata.
    // Pure integer/floor math (no .5-tie rounding hazards) → oracled. ----
    QueryDef(
      "q85_frame_plan",
      (s, dir) => {
        val meta = Multimodal.decodeStub(
          Multimodal.withPayload(Tables.read(s, dir, "documents")))
        // sort explicitly: DuckDB's list_distinct scrambles order
        val sf = sort_array(Multimodal.sampleFrameIndices(col("frames"), 4))
        meta.select(
            col("doc_id"), col("width"), col("height"), col("frames"),
            array_join(transform(sf, v => v.cast("string")), ",").as("sample_frames"),
            Multimodal.resizePlan(col("width"), col("height"), 256).as("rp"))
          .select(col("doc_id"), col("width"), col("height"), col("frames"),
            col("sample_frames"),
            col("rp.out_w").as("out_w"), col("rp.out_h").as("out_h"))
          .orderBy("doc_id")
      },
      Some("""
        WITH meta AS (
          SELECT doc_id,
                 CAST(64 + CAST(octet_length(encode(text)) AS BIGINT) % 1856 AS INT) AS width,
                 CAST(64 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 1016 AS INT) AS height,
                 CAST(1 + CAST(octet_length(encode(text)) AS BIGINT) % 30 AS INT) AS frames
          FROM documents
        )
        SELECT doc_id, width, height, frames,
               array_to_string(list_sort(list_distinct(list_transform(generate_series(0, 3),
                 i -> CAST(floor(i * CAST(frames AS DOUBLE) / 4) AS INT)))), ',')
                 AS sample_frames,
               CAST(floor(width * LEAST(GREATEST(width, height), 256)
                    / GREATEST(width, height)) AS INT) AS out_w,
               CAST(floor(height * LEAST(GREATEST(width, height), 256)
                    / GREATEST(width, height)) AS INT) AS out_h
        FROM meta
        ORDER BY doc_id
      """.stripMargin.trim)),

    // ---- D9/K2: custom Aggregator UDAF in a declared query — per-language
    // MinHash sketch of the token universe (non-oracle; the Aggregator's
    // exactness is proven against a direct computation in SketchSpec) ----
    QueryDef(
      "q55_udaf_lang_sketch",
      (s, dir) => {
        val mh = udaf(new graft.functions.MinHashAggregator(16))
        Tables.read(s, dir, "documents")
          .select(col("lang"), array_distinct(split(col("text"), " ")).as("toks"))
          .groupBy("lang")
          .agg(mh(col("toks")).as("sig0"))
          // ARRAY columns crash the driver's pandas sort (unhashable
          // numpy.ndarray) — emit the signature as a joined string.
          .select(col("lang"),
            expr("array_join(transform(sig0, x -> CAST(x AS STRING)), ',')").as("sig"))
          .orderBy("lang")
      }),

    // ---- Training-data selection: seeded stratified sampling (non-oracle —
    // Bernoulli draw is engine-internal; determinism across runs and
    // per-class bounds asserted in SamplingSpec) ----
    QueryDef(
      "q70_stratified_sample",
      (s, dir) => {
        val fractions = Map("click" -> 0.1, "error" -> 0.1, "purchase" -> 0.5,
          "signup" -> 0.5, "view" -> 0.1)
        Tables.events(s, dir)
          .stat.sampleBy("event_type", fractions, 42L)
          .groupBy("event_type")
          .agg(count(lit(1)).as("sampled"), countDistinct(col("user_id")).as("users"))
          .orderBy("event_type")
      }),

    // ---- K1: scalar UDF exhibit with a mirrored SQL oracle ----
    QueryDef(
      "q54_udf_vowel_density",
      (s, dir) => {
        // Option, not bare String=>Long: a Scala UDF over a nullable column
        // receives null and NPEs (SQL contract: null in, null out) — found
        // by the round-13 null-bearing sweep, pinned by NullInputSpec.
        val vowels = udf((text: String) =>
          Option(text).map(_.count(c => "aeiou".indexOf(c) >= 0).toLong))
        // NULLIF on the divisor: a zero-length document (boundary axis)
        // makes the density 0/0, which ANSI double division THROWS on —
        // caught by the r16 materialized pins (the old count() pin pruned
        // the column). NULL is the honest density of an empty text, and
        // both engines agree on it structurally; organic n_chars > 0 is
        // untouched.
        Tables.read(s, dir, "documents")
          .withColumn("n_vowels", vowels(col("text")))
          .select(col("doc_id"), col("n_vowels"),
            (col("n_vowels").cast("double") / nullif(col("n_chars"), lit(0)))
              .cast("decimal(18,6)").cast("double").as("vowel_density"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[aeiou]')) AS BIGINT) AS n_vowels,
               CAST(CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
                    / NULLIF(n_chars, 0)
                    AS DECIMAL(18,6)) AS vowel_density
        FROM documents ORDER BY doc_id
      """.stripMargin.trim))
  )
}

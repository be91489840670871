package graft.operators

import graft.QueryDef
import graft.functions.MinHash
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2 categories H1/H3/H4 (string/math/conditional functions) and the
  * text side of the LLM-data-pipeline mandate: I1 exact dedup, I3 set-Jaccard
  * near-dup pairs, I6 text stats, I7 word-freq/TF-IDF, I8 sentiment lexicon
  * scoring, plus fingerprinting, quality scoring, char-n-gram similarity,
  * regex tokenization, and dictionary language-ID.
  *
  * Scale notes (100 TB design, SURVEY §7.5):
  * - The exact near-dup family (q33 pairs, q78/q133 clusters) never does a
  *   doc×doc cross join. It runs on q50's set pipeline: documents collapse
  *   to distinct token sets (MinHash.distinctSets), each set gets its 64-bit
  *   token mask (MinHash.tokenMasks; the driver corpus has 31 words), pairs
  *   are enumerated over distinct sets only, and MinHash.setPairsToDocPairs
  *   expands them back to doc pairs. For open vocabularies the same shape
  *   runs on MinHash/LSH buckets (q50) instead of all set pairs.
  * - TF-IDF / word-freq are linear explode→agg pipelines with map-side
  *   partial aggregation; the only global value (corpus size N) travels as a
  *   broadcast scalar, not a shuffle.
  */
object TextQueries {
  import Q._

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  /** Documents whose toks hold at least one token; false for NULL text
    * (size(NULL) is NULL under ANSI, -1 without). */
  private val hasToks = coalesce(size(col("toks")) > 0, lit(false))

  /** (rep, ids, mask): the exact near-dup set relation behind q33, q78 and
    * q133. One row per distinct token set of the documents with tokens
    * ([[MinHash.distinctSets]], rep = the set's min doc id), with the set's
    * 64-bit token mask ([[MinHash.tokenMasks]], q50's bit layout). Throws
    * at DataFrame build when the vocabulary exceeds 64 words. The set
    * groupBy is lazily checkpointed (the vocabulary probe materializes it)
    * and the relation memoized per (session, dir) via
    * [[graft.SessionCache]]: q33 and the q78/q133 cluster relation read the
    * same sets. */
  private def setsCached(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"dedup-sets:$dir") {
      val grouped = graft.SessionCache.lazyLocalCheckpoint(s"dedup-sets:$dir")(
        MinHash.distinctSets(docToks(s, dir).filter(hasToks), "doc_id", "toks"))
      MinHash.tokenMasks(grouped).getOrElse(throw new IllegalArgumentException(
        "vocabulary exceeds 64 words: bitmask Jaccard invalid, use MinHash/LSH (q50)"))
        .select("rep", "ids", "mask")
    }

  /** (r1 < r2, inter, uni): pairs of set reps with mask Jaccard > 0.8. */
  private def setPairs(sets: DataFrame): DataFrame = {
    val m = sets.select("rep", "mask")
    m.select(col("rep").as("r1"), col("mask").as("m1"))
      .crossJoin(m.select(col("rep").as("r2"), col("mask").as("m2")))
      .filter(col("r1") < col("r2"))
      .withColumn("inter", expr("bit_count(m1 & m2)"))
      .withColumn("uni", expr("bit_count(m1 | m2)"))
      .filter(col("inter") / col("uni") > 0.8)
      .select("r1", "r2", "inter", "uni")
  }

  /** (doc_id, cluster_rep, cluster_size) — q78's cluster relation, factored
    * so the dedup-ROI report (q133) aggregates the SAME clustering.
    * Clusters the distinct-SET graph (identical components, ~4x fewer
    * edges than the doc-expanded pair list), then maps docs through their
    * set's ids; set rep = min(doc_id), so the component rep is the min doc
    * id of the whole cluster. Memoized per (session, dir) via
    * [[graft.SessionCache]] (the Ivf.trainCached pattern): q78 and q133 run
    * the heaviest pipeline in this file, and one lazily-checkpointed
    * DataFrame means the second consumer reuses the materialized
    * clustering instead of re-running it. SessionCache owns the
    * dead-session handling (stale frames from stopped sessions are swept
    * on miss, never handed out). */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"dedup-clusters:$dir") {
      graft.SessionCache.lazyLocalCheckpoint(s"dedup-clusters:$dir")(
        dedupClustersUncached(s, dir))
    }

  /** Compute cap of the driver-local clustering fast path (r20,
    * optimization-guide §8 "decide with small rows" — the same pattern as
    * Ivf.driverTrain): within it, the J>0.8 pair graph AND its connected
    * components are computed on the driver from ONE (mask, rep) collect of
    * the set relation, replacing the distributed crossJoin-pairs
    * checkpoint and the whole Components subgraph (the r19 profile: q133 =
    * 20 Spark jobs, 1.5 task-seconds — job/planning-bound). Heap is bounded
    * by [[graft.DriverCollect]]'s budget at [[SetRowBytes]] a row; the
    * binding cap is COMPUTE: local all-pairs is n²/2 bitmask comparisons
    * single-threaded (~150 M/s), so 16384 sets ≈ 1.3e8 comparisons ≈ 1 s
    * worst-case — beyond that the 32-way codegen'd crossJoin wins and the
    * distributed pipeline runs: the crossJoin builds the set-pair edges
    * and Components.connectedComponents' min-label loop clusters them.
    * Every fixture is within the cap (sf0.1: 3,935 sets); ScaleCheck's 10×
    * corpus is past it and runs that pipeline. */
  private val DriverSetCap = 16384L

  /** Heap of one collected (mask, rep) Tuple2[Long, Long] with its slot. */
  private val SetRowBytes = 40L

  /** [[setPairs]] over the set relation, lazily checkpointed and memoized
    * per (session, dir), built only by its readers (q33, the distributed
    * cluster path): the checkpoint runs the crossJoin's shuffle stages at
    * once ([[graft.SessionCache.lazyLocalCheckpoint]]). */
  private def pairsCached(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"dedup-pairs:$dir") {
      graft.SessionCache.lazyLocalCheckpoint(s"dedup-pairs:$dir")(
        setPairs(setsCached(s, dir)))
    }

  private[graft] def dedupClustersUncached(s: SparkSession,
      dir: String): DataFrame = {
    val sets = setsCached(s, dir)
    // (id, rep): each set rep's component rep. Per-DISTINCT-SET, so the
    // broadcast below is scale-safe by construction: the pair stage is
    // all-pairs over distinct sets, which constrains the set count far more
    // tightly than the broadcast ceiling does. Explicit, because a
    // checkpointed LogicalRDD has unknown stats and would otherwise plan a
    // sort-merge join.
    val comp = driverClusterRelation(sets).getOrElse(
      graft.functions.Components.connectedComponents(
        sets.select(col("rep").as("id")),
        pairsCached(s, dir).select(col("r1").as("src"), col("r2").as("dst"))))
    val members = sets.select(col("rep").as("id"), explode(col("ids")).as("doc_id"))
      .join(broadcast(comp), "id")
      .select(col("doc_id"), col("rep").as("cluster_rep"))
    // A document without tokens (NULL text) pairs with nothing: its own
    // size-1 cluster, as in the oracle's reach relation.
    val untokenized = docToks(s, dir).filter(!hasToks)
      .select(col("doc_id"), col("doc_id").as("cluster_rep"))
    members.unionByName(untokenized)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))
  }

  /** Driver-local replica of the distributed set clustering, byte-exact by
    * construction: the collected (mask, rep) rows are the SAME set relation
    * the crossJoin/Components path consumes; the pair predicate replicates
    * the crossJoin filter exactly (Jaccard = bit_count ints promoted to IEEE
    * double division, > 0.8; each unordered pair once, as r1 < r2 gives);
    * min-rep union-find converges to the same fixpoint as Components'
    * least()-propagation (the ComponentsSpec equivalence argument, no
    * phantom endpoints possible since every edge endpoint is a collected
    * rep). Returns (id, rep), or None beyond [[graft.DriverCollect]]'s
    * budget or [[DriverSetCap]] — the distributed pipeline is then the only
    * execution, at the cost of this one limit-probe over the set relation. */
  private def driverClusterRelation(sets: DataFrame): Option[DataFrame] = {
    val spark = sets.sparkSession
    import spark.implicits._
    val rows = graft.DriverCollect.collect(
      sets.select("mask", "rep").as[(Long, Long)],
      SetRowBytes, DriverSetCap).getOrElse(return None)
    val n = rows.length
    // min-rep roots: the root's rep is the component minimum, the
    // invariant Components' least()-propagation converges to.
    val uf = new MinUnionFind(rows.map(_._2))
    var i = 0
    while (i < n) {
      val mi = rows(i)._1
      var j = i + 1
      while (j < n) {
        val mj = rows(j)._1
        val inter = java.lang.Long.bitCount(mi & mj)
        val uni = java.lang.Long.bitCount(mi | mj)
        if (uni > 0 && inter.toDouble / uni.toDouble > 0.8) uf.union(i, j)
        j += 1
      }
      i += 1
    }
    Some(spark.createDataFrame((0 until n).map(k => (rows(k)._2, rows(uf.find(k))._2)))
      .toDF("id", "rep"))
  }

  /** Path-compressed union-find with min-key roots, so a root's key is its
    * component's minimum — the fixpoint of Components' least()-propagation.
    * Serves [[driverClusterRelation]]. */
  private final class MinUnionFind(keys: Array[Long]) {
    private val parent = Array.tabulate(keys.length)(identity)

    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }

    def union(a: Int, b: Int): Unit = {
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (keys(ra) < keys(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
  }

  /** The oracle-side clustering, shared VERBATIM by q78 and q133 so the two
    * oracles cannot drift (the SQL twin of the dedupClusters helper). */
  private val oracleClusterCte = """WITH RECURSIVE
        t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
              FROM documents),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / len(list_distinct(a.toks || b.toks)) > 0.8
        ),
        edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                  UNION ALL SELECT d2, d1 FROM pairs),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        comp AS (
          SELECT src AS doc_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src
        )"""

  lazy val defs: Seq[QueryDef] = Seq(
    // ---- H1: string function battery over part ----
    QueryDef(
      "q29_string_functions",
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
            length(col("p_name")).cast("long").as("name_len"),
            regexp_extract(col("p_brand"), "#(\\d+)", 1).cast("long").as("brand_num"),
            split(col("p_type"), " ").getItem(0).as("type_first"),
            concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
            levenshtein(col("p_type"), lit("PROMO")).cast("long").as("lev_promo"),
            lower(trim(col("p_name"))).as("name_lower"),
            expr("replace(p_name, ' ', '_')").as("name_snake"))
          .orderBy("p_partkey"),
      Some("""
        SELECT p_partkey,
               upper(substr(p_name, 1, 8)) AS name_prefix,
               CAST(length(p_name) AS BIGINT) AS name_len,
               CAST(regexp_extract(p_brand, '#(\d+)', 1) AS BIGINT) AS brand_num,
               string_split(p_type, ' ')[1] AS type_first,
               concat_ws('|', p_brand, p_type) AS brand_type,
               CAST(levenshtein(p_type, 'PROMO') AS BIGINT) AS lev_promo,
               lower(trim(p_name)) AS name_lower,
               replace(p_name, ' ', '_') AS name_snake
        FROM part ORDER BY p_partkey
      """.stripMargin.trim)),

    // ---- H3: math function battery (deterministic outputs only) ----
    QueryDef(
      "q30_math_functions",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            // finite(): Spark's ceil/floor(double) RETURN BIGINT and absorb
            // NaN/±Inf silently (no ANSI cast runs — the conversion is
            // inside the function), while the oracle's ceil stays DOUBLE
            // and its explicit CAST ... AS BIGINT is loud (sixth axis).
            ceil(finite(col("l_extendedprice"))).cast("long").as("price_ceil"),
            floor(finite(col("l_extendedprice"))).cast("long").as("price_floor"),
            abs(dec2(col("l_extendedprice"))).cast("double").as("price_abs"),
            round(dec2(col("l_extendedprice")), 1).cast("decimal(18,1)").cast("double").as("price_round1"),
            // finite() AFTER sqrt: catches both a NaN input and a (never
            // organic) negative one, exactly where the oracle's loud CAST
            // of the sqrt result sits.
            finite(sqrt(col("l_quantity"))).cast("decimal(18,9)").cast("double").as("qty_sqrt"),
            // l_linenumber enumerates lines WITHIN an order: TPC-H-shaped
            // data caps it at 7, but a 10^5-line mega-order (the skew
            // axis's class) legally reaches past 62, where 2^n leaves
            // BIGINT — caught by the skew parity matrix (r16: the ansioff
            // run produced the rows the ANSI base run aborted on with
            // CAST_OVERFLOW). r16 shipped `% 63`, which ALIASED
            // out-of-contract linenumbers back into organic-looking values
            // (63→2^0); r16 ADVICE: pathological rows must be
            // distinguishable. Now an explicit domain window on BOTH
            // sides — identity on the organic 1..7 domain, honest NULL
            // beyond it (the branch is conditional, so no overflow ever
            // evaluates; 2^62 is an exact double, cast-safe under ANSI).
            when(col("l_linenumber").between(0, 62),
              pow(lit(2), col("l_linenumber")).cast("long")).as("pow2_line"),
            signum(col("l_discount") - 0.05).cast("long").as("disc_sign"),
            greatest(dec4(col("l_tax")), dec4(col("l_discount"))).cast("double").as("max_rate"),
            (col("l_quantity").cast("long") % 7).as("qty_mod7"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""
        SELECT l_orderkey, l_linenumber,
               CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
               CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
               abs(CAST(l_extendedprice AS DECIMAL(18,2))) AS price_abs,
               CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS DECIMAL(18,1)) AS price_round1,
               CAST(sqrt(l_quantity) AS DECIMAL(18,9)) AS qty_sqrt,
               CASE WHEN l_linenumber BETWEEN 0 AND 62
                    THEN CAST(pow(2, l_linenumber) AS BIGINT) END AS pow2_line,
               CAST(sign(l_discount - 0.05) AS BIGINT) AS disc_sign,
               CAST(greatest(CAST(l_tax AS DECIMAL(18,4)), CAST(l_discount AS DECIMAL(18,4)))
                    AS DECIMAL(18,4)) AS max_rate,
               CAST(l_quantity AS BIGINT) % 7 AS qty_mod7
        FROM lineitem ORDER BY l_orderkey, l_linenumber
      """.stripMargin.trim)),

    // ---- H4: CASE tiers, NULLIF/COALESCE ----
    QueryDef(
      "q31_order_tiers",
      (s, dir) =>
        t(s, dir, "orders")
          .withColumn("tier",
            when(col("o_totalprice") > 200000, "high")
              .when(col("o_totalprice") > 100000, "mid")
              .otherwise("low"))
          .withColumn("status_np", coalesce(nullif(col("o_orderstatus"), lit("P")), lit("X")))
          .groupBy("tier", "status_np")
          .agg(count(lit(1)).as("n"), out2(sum(dec2(col("o_totalprice")))).as("total"))
          .orderBy("tier", "status_np"),
      Some("""
        SELECT CASE WHEN o_totalprice > 200000 THEN 'high'
                    WHEN o_totalprice > 100000 THEN 'mid'
                    ELSE 'low' END AS tier,
               COALESCE(NULLIF(o_orderstatus, 'P'), 'X') AS status_np,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        FROM orders
        GROUP BY tier, status_np
        ORDER BY tier, status_np
      """.stripMargin.trim)),

    // ---- I1: exact dedup stats (byte-identical texts) ----
    QueryDef(
      "q32_exact_dedup",
      (s, dir) =>
        docs(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("text")).as("distinct_texts"),
            (count(lit(1)) - countDistinct(col("text"))).as("exact_dups"))
          .orderBy("lang"),
      Some("""
        SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT text) AS distinct_texts,
               COUNT(*) - COUNT(DISTINCT text) AS exact_dups
        FROM documents GROUP BY lang ORDER BY lang
      """.stripMargin.trim)),

    // ---- I3 (+ I2 scale shape): exact token-set Jaccard near-dup pairs.
    // Docs collapse to distinct token sets with bitmasks; pair enumeration
    // runs over distinct sets only; popcount Jaccard; expand back to doc
    // pairs (q50's MinHash.setPairsToDocPairs, identical sets scored 1.0).
    // Exact — no LSH false negatives — yet never materializes doc×doc. ----
    QueryDef(
      "q33_neardup_pairs",
      (s, dir) => {
        def jac6(c: org.apache.spark.sql.Column) = c.cast("decimal(9,6)").cast("double")
        val pairs = pairsCached(s, dir)
          .select(col("r1"), col("r2"), jac6(col("inter") / col("uni")).as("jac"))
        MinHash.setPairsToDocPairs(setsCached(s, dir), pairs, "jac", jac6(lit(1.0)))
          .orderBy("d1", "d2")
      },
      Some("""
        WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
                   FROM documents)
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                    / len(list_distinct(a.toks || b.toks)) AS DECIMAL(9,6)) AS jac
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(a.toks || b.toks)) > 0.8
        ORDER BY d1, d2
      """.stripMargin.trim)),

    // ---- I6: per-slice text statistics ----
    QueryDef(
      "q34_text_stats",
      (s, dir) =>
        docs(s, dir)
          .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            (sum(col("n_toks")).cast("double") / count(lit(1)))
              .cast("decimal(18,6)").cast("double").as("avg_toks"))
          .orderBy("lang", "source"),
      Some("""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
               CAST(CAST(SUM(len(string_split(text,' '))) AS DOUBLE) / COUNT(*)
                    AS DECIMAL(18,6)) AS avg_toks
        FROM documents GROUP BY lang, source ORDER BY lang, source
      """.stripMargin.trim)),

    // ---- I7: corpus word frequency ----
    QueryDef(
      "q35_word_freq",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .groupBy("word")
          .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
          .orderBy(col("n").desc, col("word")),
      Some("""
        SELECT w.word AS word, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        FROM documents, unnest(string_split(text, ' ')) AS w(word)
        GROUP BY w.word
        ORDER BY n DESC, word
      """.stripMargin.trim)),

    // ---- I7: TF-IDF (corpus-global df/N, output restricted to 20 docs) ----
    QueryDef(
      "q36_tfidf",
      (s, dir) => {
        val tok = docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        val tf = tok.groupBy("doc_id", "word").agg(count(lit(1)).as("tf_cnt"))
        val docLen = tok.groupBy("doc_id").agg(count(lit(1)).as("doc_len"))
        val df = tok.select("doc_id", "word").distinct()
          .groupBy("word").agg(count(lit(1)).as("df"))
        val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
        tf.filter(col("doc_id") < 20)
          .join(docLen, "doc_id")
          .join(broadcast(df), "word")
          .crossJoin(broadcast(n))
          .withColumn("tfidf",
            expr("CAST(CAST((CAST(tf_cnt AS DOUBLE) / doc_len) * ln(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(18,6)) AS DOUBLE)"))
          .select("doc_id", "word", "tf_cnt", "df", "tfidf")
          .orderBy("doc_id", "word")
      },
      Some("""
        WITH tok AS (SELECT doc_id, w.word AS word
                     FROM documents, unnest(string_split(text, ' ')) AS w(word)),
        tf AS (SELECT doc_id, word, COUNT(*) AS tf_cnt FROM tok GROUP BY doc_id, word),
        dl AS (SELECT doc_id, COUNT(*) AS doc_len FROM tok GROUP BY doc_id),
        df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY word),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.word, tf.tf_cnt, df.df,
               CAST((CAST(tf.tf_cnt AS DOUBLE) / dl.doc_len)
                    * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS DECIMAL(18,6)) AS tfidf
        FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                JOIN df ON tf.word = df.word, n
        WHERE tf.doc_id < 20
        ORDER BY tf.doc_id, tf.word
      """.stripMargin.trim)),

    // ---- I8: sentiment-lexicon scoring (broadcast dictionary join) ----
    QueryDef(
      "q37_sentiment",
      (s, dir) => {
        import s.implicits._
        val lex = broadcast(Seq(
          ("fast", 2), ("slow", -2), ("big", 1), ("small", -1), ("dup", -2),
          ("merge", 1), ("hash", 1), ("spark", 2), ("scan", -1)
        ).toDF("word", "score"))
        docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .join(lex, Seq("word"), "left")
          .groupBy("doc_id")
          // BYTES-BOUNDED, not value-typed: |score| per doc ≤ its token
          // count, so the corpus-wide sum ≤ total tokens ≤ corpus bytes
          // (~1e14 at 100 TB) ≪ 2^63 — BIGINT-safe by the cardinality
          // axiom, unlike the q25/q113 cents sums (r17 cast-width audit).
          .agg(coalesce(sum(col("score")), lit(0)).cast("long").as("sum_score"),
            count(lit(1)).as("n_tokens"))
          .withColumn("score_ratio",
            (col("sum_score").cast("double") / col("n_tokens"))
              .cast("decimal(18,6)").cast("double"))
          .orderBy("doc_id")
      },
      Some("""
        WITH lex(word, score) AS (VALUES
          ('fast',2),('slow',-2),('big',1),('small',-1),('dup',-2),
          ('merge',1),('hash',1),('spark',2),('scan',-1)),
        tok AS (SELECT doc_id, w.word AS word
                FROM documents, unnest(string_split(text, ' ')) AS w(word))
        SELECT doc_id,
               CAST(COALESCE(SUM(score), 0) AS BIGINT) AS sum_score,
               COUNT(*) AS n_tokens,
               CAST(CAST(COALESCE(SUM(score), 0) AS DOUBLE) / COUNT(*)
                    AS DECIMAL(18,6)) AS score_ratio
        FROM tok LEFT JOIN lex USING (word)
        GROUP BY doc_id ORDER BY doc_id
      """.stripMargin.trim)),

    // ---- I1 scale path: content fingerprint (hash of normalized token set) ----
    QueryDef(
      "q38_doc_fingerprint",
      (s, dir) =>
        docs(s, dir)
          .withColumn("fp",
            md5(concat_ws(" ",
              sort_array(array_distinct(split(lower(col("text")), " ")))).cast("binary")))
          .groupBy("fp")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .filter(col("n_docs") >= 2)
          .orderBy("fp"),
      Some("""
        SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp,
               COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM documents
        GROUP BY fp HAVING COUNT(*) >= 2
        ORDER BY fp
      """.stripMargin.trim)),

    // ---- Text quality scoring (higher-order array functions) ----
    QueryDef(
      "q39_quality_score",
      (s, dir) =>
        docs(s, dir)
          .withColumn("toks", split(col("text"), " "))
          .select(
            col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
            expr("CAST(CAST(CAST(aggregate(transform(toks, t -> length(t)), 0, (s, x) -> s + x) AS DOUBLE) / size(toks) AS DECIMAL(18,6)) AS DOUBLE)")
              .as("mean_tok_len"),
            expr("CAST(CAST(CAST(size(filter(toks, t -> t = 'the' OR t = 'a')) AS DOUBLE) / size(toks) AS DECIMAL(18,6)) AS DOUBLE)")
              .as("stop_ratio"),
            expr("exists(toks, t -> t = 'spark')").as("has_spark"))
          .orderBy("doc_id"),
      Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
               CAST(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                    / len(toks) AS DECIMAL(18,6)) AS mean_tok_len,
               CAST(CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS DOUBLE)
                    / len(toks) AS DECIMAL(18,6)) AS stop_ratio,
               list_contains(toks, 'spark') AS has_spark
        FROM d ORDER BY doc_id
      """.stripMargin.trim)),

    // ---- Char-3-gram Jaccard similarity (bounded query set) ----
    QueryDef(
      "q40_ngram_jaccard",
      (s, dir) => {
        val g = docs(s, dir)
          .filter(col("doc_id") < 50 && length(col("text")) >= 3)
          .select(col("doc_id"),
            expr("array_distinct(transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)))")
              .as("grams"))
        g.select(col("doc_id").as("d1"), col("grams").as("g1"))
          .crossJoin(g.select(col("doc_id").as("d2"), col("grams").as("g2")))
          .filter(col("d1") < col("d2"))
          .select(col("d1"), col("d2"),
            expr("CAST(CAST(CAST(size(array_intersect(g1, g2)) AS DOUBLE) / size(array_union(g1, g2)) AS DECIMAL(9,6)) AS DOUBLE)")
              .as("jac"))
          .orderBy("d1", "d2")
      },
      Some("""
        WITH g AS (
          SELECT doc_id,
                 list_distinct(list_transform(generate_series(1, length(text) - 2),
                                              i -> substr(text, i, 3))) AS grams
          FROM documents WHERE doc_id < 50 AND length(text) >= 3
        )
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || b.grams)) AS DECIMAL(9,6)) AS jac
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        ORDER BY d1, d2
      """.stripMargin.trim)),

    // ---- Rolling-hash document fingerprints (whole-doc polynomial hash +
    // winnowing-style min-shingle hash; modulus keeps ANSI-safe bigints
    // and matches DuckDB's list_reduce arithmetic exactly) ----
    QueryDef(
      "q68_rolling_fingerprint",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"),
            graft.functions.TextFunctions.rollingHash(col("text")).as("fp"),
            graft.functions.TextFunctions.minShingleHash(col("text"), 8).as("min_shingle_fp"))
          .orderBy("doc_id"),
      Some("""
        WITH chars AS (
          SELECT doc_id, text,
                 list_transform(generate_series(1, length(text)),
                                i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS cs
          FROM documents
        )
        SELECT doc_id,
               CASE WHEN length(text) = 0 THEN NULL
                    ELSE list_reduce(cs, (acc, c) -> (acc * 31 + c) % 1000000007)
               END AS fp,
               CASE WHEN length(text) < 8 THEN NULL
                    ELSE list_min(list_transform(generate_series(1, length(text) - 7),
                      i -> list_reduce(cs[i:i+7], (acc, c) -> (acc * 31 + c) % 1000000007)))
               END AS min_shingle_fp
        FROM chars
        ORDER BY doc_id
      """.stripMargin.trim)),

    // ---- Regex tokenization (token counting, BPE-ish word extraction) ----
    QueryDef(
      "q41_regex_tokens",
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"),
            expr("CAST(size(regexp_extract_all(text, '[a-z]+', 0)) AS BIGINT)").as("n_word_tokens"),
            regexp_extract(col("text"), "^[a-z]+", 0).as("first_word"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
               regexp_extract(text, '^[a-z]+') AS first_word
        FROM documents ORDER BY doc_id
      """.stripMargin.trim)),

    // ---- Near-dup CLUSTER assignment (the dedup end-game): connected
    // components over the exact Jaccard>0.8 pair graph; each doc gets its
    // cluster's canonical representative (min doc_id) + cluster size. The
    // Spark side is Pregel-style min-label propagation (Components);
    // the oracle is a recursive-CTE transitive closure. ----
    QueryDef(
      "q78_dedup_clusters",
      (s, dir) => dedupClusters(s, dir).orderBy("doc_id"),
      Some(s"""
        $oracleClusterCte
        SELECT doc_id, cluster_rep,
               COUNT(*) OVER (PARTITION BY cluster_rep) AS cluster_size
        FROM comp
        ORDER BY doc_id
      """.stripMargin.trim)),

    // ---- q133: dedup ROI report — what removing near-duplicates would
    // buy, grouped by cluster size: cluster count, doc count, removable
    // docs (size − 1 per cluster) and the token mass those removable docs
    // carry (the canonical min-id member stays). Reuses q78's cluster
    // relation verbatim (dedupClusters), joined with per-doc token counts;
    // everything after the clustering is two linear keyed aggregations.
    // The oracle re-derives the clusters with q78's recursive CTE. ----
    QueryDef(
      "q133_dedup_roi",
      (s, dir) => {
        val toks = docs(s, dir).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        dedupClusters(s, dir).join(toks, "doc_id")
          .groupBy("cluster_size")
          .agg(countDistinct(col("cluster_rep")).as("n_clusters"),
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("tokens_total"),
            sum(when(col("doc_id") =!= col("cluster_rep"), col("n_tokens"))
              .otherwise(0L)).as("tokens_removable"))
          .withColumn("docs_removable",
            col("n_docs") - col("n_clusters"))
          .select("cluster_size", "n_clusters", "n_docs", "docs_removable",
            "tokens_total", "tokens_removable")
          .orderBy("cluster_size")
      },
      Some(s"""
        $oracleClusterCte,
        sized AS (
          SELECT doc_id, cluster_rep,
                 COUNT(*) OVER (PARTITION BY cluster_rep) AS cluster_size
          FROM comp
        ),
        ntok AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents
        )
        SELECT cluster_size,
               COUNT(DISTINCT cluster_rep) AS n_clusters,
               COUNT(*) AS n_docs,
               COUNT(*) - COUNT(DISTINCT cluster_rep) AS docs_removable,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
               CAST(SUM(CASE WHEN doc_id <> cluster_rep THEN n_tokens
                             ELSE 0 END) AS BIGINT) AS tokens_removable
        FROM sized JOIN ntok USING (doc_id)
        GROUP BY cluster_size
        ORDER BY cluster_size
      """.stripMargin.trim)),

    // ---- Dictionary-based language-ID heuristic → confusion matrix ----
    QueryDef(
      "q42_langid_confusion",
      (s, dir) => {
        import s.implicits._
        val dict = broadcast(Seq(
          ("en", "the"), ("en", "a"), ("de", "data"), ("de", "dup"),
          ("es", "spark"), ("es", "sort"), ("fr", "filter"), ("fr", "fast"),
          ("zh", "join"), ("zh", "key")
        ).toDF("dlang", "word"))
        val tok = docs(s, dir)
          .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
        val scores = tok.join(dict, Seq("word"))
          .groupBy("doc_id", "lang", "dlang")
          .agg(count(lit(1)).as("hits"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("hits").desc, col("dlang"))
        scores.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("lang"), col("dlang").as("predicted"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "predicted")
      },
      Some("""
        WITH dict(dlang, word) AS (VALUES
          ('en','the'),('en','a'),('de','data'),('de','dup'),
          ('es','spark'),('es','sort'),('fr','filter'),('fr','fast'),
          ('zh','join'),('zh','key')),
        tok AS (SELECT doc_id, lang, w.word AS word
                FROM documents, unnest(string_split(text, ' ')) AS w(word)),
        scores AS (
          SELECT doc_id, lang, dlang, COUNT(*) AS hits
          FROM tok JOIN dict USING (word)
          GROUP BY doc_id, lang, dlang
        ),
        best AS (
          SELECT doc_id, lang, dlang,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, dlang) AS rn
          FROM scores
        )
        SELECT lang, dlang AS predicted, COUNT(*) AS n_docs
        FROM best WHERE rn = 1
        GROUP BY lang, predicted
        ORDER BY lang, predicted
      """.stripMargin.trim))
  )
}

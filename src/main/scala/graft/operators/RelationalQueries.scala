package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for oracle-deterministic queries (SURVEY.md §7.4).
  *
  * Money/measure doubles are cast to DECIMAL before aggregation on BOTH the
  * Spark and DuckDB side: decimal arithmetic is exact in both engines, so the
  * result is independent of partition/accumulation order. Raw double
  * aggregates are never hash-compared.
  */
object Q {
  /** Element casts for money/rate columns (r17 cast-width audit — the
    * central adjudication for every `dec2/dec4 → sum → out*` revenue
    * pipeline, so the dozens of sites don't repeat it):
    *
    *   - PER-ELEMENT: (18,2)/(18,4) admit |price| < 1e16 / |rate| < 1e14
    *     — the declared domain class of the TPC-H-shaped money columns
    *     (the boundary axis exercises the 9.9e13 edge). Beyond, the cast
    *     aborts LOUD and SYMMETRICALLY (Spark ANSI / DuckDB conversion
    *     error) — no silent regime.
    *   - ACCUMULATORS: a revenue term dec2(p)×(1−dec4(d)) is DECIMAL(38,6)
    *     in both engines, and its SUM stays (38,6) — integer headroom
    *     1e32, i.e. ~12 orders above a 100 TB corpus's ~1e20 revenue
    *     units. Corpus-linear but domain-safe; contrast the BIGINT cents
    *     sums (q25-class) which had to widen internally.
    *   - Only the FINAL out* double conversion carries the 2^53 scale
    *     bound documented below.
    *   - NON-FINITE ingress (r17, the sixth robustness axis): Spark's
    *     double→DECIMAL cast returns NULL for NaN/±Inf even under ANSI —
    *     a SUM would silently drop the poisoned rows and emit a
    *     plausible-but-wrong total, while the DuckDB oracle's same CAST
    *     is loud (dev/oracle_probe.py pin group 5). [[finite]] restores
    *     the oracle's semantics at every money-double ingress; on finite
    *     values it is an identity branch, so organic outputs (and the
    *     boundary axis's 9.9e13-edge outputs) are byte-identical. */
  def finite(c: Column): Column =
    when(isnan(c) || abs(c) === lit(Double.PositiveInfinity),
      raise_error(format_string(
        "non-finite double at a money/value ingress: %s", c)).cast("double"))
      .otherwise(c)
  /** The hot-path spelling of [[finite]]+cast for the dec2/dec4 scan
    * pipelines: test the CAST's own output instead of isnan+abs on the
    * input. Under ANSI, double→DECIMAL is NULL iff the input was
    * non-finite (an out-of-range finite THROWS before this `when`
    * evaluates), so `d IS NULL AND c IS NOT NULL` is exactly the
    * non-finite event — and whole-stage codegen's subexpression
    * elimination computes the cast once. A/B at sf0.1 (warm-min,
    * 12 reps): the isnan+abs guard cost q01/q31/q75 7–12% over the
    * unguarded engine; this spelling returns that to noise level. */
  private def guardedCast(c: Column, t: String): Column = {
    val d = c.cast(t)
    // The "NULL iff non-finite" read of d.isNull relies on ANSI (pinned
    // explicitly in every session builder since r18 — Verify/Bench/
    // TestSpark); under a non-ANSI session an out-of-range FINITE double
    // also casts to NULL, so the message self-discloses isnan/isinf
    // (r17 ADVICE): a misconfigured session reports the value and
    // isnan=false/isinf=false instead of misattributing a boundary
    // overflow as a non-finite ingress. Error branch only — the hot
    // path still evaluates just the cast + null test.
    when(d.isNull && c.isNotNull,
      raise_error(format_string(
        "non-finite double at a money/value ingress: %s (isnan=%s, isinf=%s)",
        c, isnan(c), abs(c) === lit(Double.PositiveInfinity))).cast(t))
      .otherwise(d)
  }
  def dec2(c: Column): Column = guardedCast(c, "decimal(18,2)")
  def dec4(c: Column): Column = guardedCast(c, "decimal(18,4)")
  /** Final-projection casts: round through DECIMAL (exact, order-independent)
    * but EMIT DOUBLE. The driver hash-compares pandas values: Spark DECIMAL
    * parquet loads as python Decimal objects while the DuckDB oracle arrives
    * as float64, so identical values hash-differently. A decimal whose
    * unscaled value fits in 2^53 converts to the bit-identical IEEE double in
    * both engines, so DOUBLE final outputs hash-match.
    *
    * The invariant is about the SPARK side only (enforced by
    * DriverSchemaSpec): the oracle side may keep a bare DECIMAL output
    * because duckdb's .df() already delivers decimals as float64 — proven by
    * the round-2 green queries whose oracles end in CAST(... AS
    * DECIMAL(38,x)). New oracle SQL should still prefer the explicit
    * CAST(CAST(x AS DECIMAL(p,s)) AS DOUBLE) spelling for clarity.
    *
    * Scale bound: exact double conversion needs the unscaled value < 2^53 —
    * with scale 6 that is totals < ~9e9, comfortable at bench SFs but NOT at
    * 100 TB. For production-scale runs, round monetary outputs to
    * decimal(15,2)-class scales (unscaled < 2^53 up to ~9e13) or keep them
    * DECIMAL end-to-end and compare decimally; the double cast exists for
    * the driver's hash representation, not for the engine's arithmetic. */
  def out2(c: Column): Column = c.cast("decimal(38,2)").cast("double")
  def out6(c: Column): Column = c.cast("decimal(38,6)").cast("double")
  /** Final-projection decimal(18,s) → double (same contract as out2/out6). */
  def outD(c: Column, scale: Int): Column =
    c.cast(s"decimal(18,$scale)").cast("double")

  /** (doc_id, toks): each document's distinct space-split tokens, the input
    * of every near-dup query (q33/q50/q51/q78/q133). NULL text gives NULL
    * toks. */
  def docToks(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
}

/** SURVEY §2 categories B (project/filter), C (joins), D1/D2 (agg, distinct),
  * F (sort/limit), G (set ops), D5 (rollup/cube). */
object RelationalQueries {
  import Q._

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  lazy val defs: Seq[QueryDef] = Seq(
    // ---- D1: hash aggregate over scan→filter→project (flagship shape) ----
    QueryDef(
      "q01_pricing_summary",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate").cast("date") <= to_date(lit("2000-12-01")))
          .select(
            col("l_returnflag"), col("l_linestatus"),
            dec2(col("l_quantity")).as("qty"),
            dec2(col("l_extendedprice")).as("price"),
            dec4(col("l_discount")).as("disc"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            out2(sum(col("qty"))).as("sum_qty"),
            out2(sum(col("price"))).as("sum_base_price"),
            out6(sum(col("price") * (lit(1).cast("decimal(18,4)") - col("disc"))))
              .as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
      """.stripMargin.trim)),

    // ---- B2: compound predicates (IN / BETWEEN / LIKE / IS NULL / OR) ----
    QueryDef(
      "q02_predicate_filter",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(
            col("l_returnflag").isin("A", "R") &&
              col("l_quantity").between(10, 20) &&
              col("l_shipdate").cast("date").between(lit("1997-01-01"), lit("1999-12-31")) &&
              (col("l_tax").isNull || col("l_tax") < 0.05) &&
              col("l_linestatus").like("F%"))
          .select(
            col("l_orderkey"), col("l_linenumber"),
            // finite(): the oracle CASTs these raw doubles per row, loud on
            // NaN/±Inf — outD's silent NULL would diverge (sixth axis).
            outD(finite(col("l_quantity")), 2).as("qty"),
            outD(finite(col("l_extendedprice")), 2).as("price"),
            col("l_returnflag"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
               l_returnflag
        FROM lineitem
        WHERE l_returnflag IN ('A','R')
          AND l_quantity BETWEEN 10 AND 20
          AND CAST(l_shipdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1999-12-31'
          AND (l_tax IS NULL OR l_tax < 0.05)
          AND l_linestatus LIKE 'F%'
        ORDER BY l_orderkey, l_linenumber
      """.stripMargin.trim)),

    // ---- C2/C3 + F3: fact-fact shuffle join, agg, top-k without full sort.
    // Revenue pre-aggregates by l_orderkey BEFORE the join (Spark does not
    // push aggregation through joins itself): the join input shrinks from
    // one row per line item to one row per order — at 100 TB that is the
    // difference between shuffling the fact table and shuffling its
    // per-key summary. The join itself stays a genuine shuffle join (both
    // sides order-cardinality). Decimal sums are associative, so
    // pre-aggregation cannot change the result. ----
    QueryDef(
      "q03_top_revenue_orders",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val rev = l.groupBy(col("l_orderkey"))
          .agg(sum(dec2(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,4)") - dec4(col("l_discount")))).as("rev"))
        rev.join(o, rev("l_orderkey") === o("o_orderkey"))
          .select(col("o_orderkey"), col("o_orderstatus"),
            out6(col("rev")).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey").asc)
          .limit(10)
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderkey, o_orderstatus
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
      """.stripMargin.trim)),

    // ---- C1: broadcast dimension enrichment (customer→nation→region) ----
    QueryDef(
      "q04_region_enrichment",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = broadcast(t(s, dir, "nation"))
        val r = broadcast(t(s, dir, "region"))
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("customers"),
            out2(sum(dec2(col("c_acctbal")))).as("total_bal"))
          .orderBy("r_name", "n_name")
      },
      Some("""
        SELECT r_name, n_name, COUNT(*) AS customers,
               CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name
      """.stripMargin.trim)),

    // ---- C4: left outer join, null-aware aggregation ----
    QueryDef(
      "q05_customers_without_orders",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy("c_mktsegment")
          .agg(
            countDistinct(col("c_custkey")).as("customers"),
            count(col("o_orderkey")).as("orders"),
            countDistinct(when(col("o_orderkey").isNull, col("c_custkey")))
              .as("customers_without_orders"))
          .orderBy("c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment,
               COUNT(DISTINCT c_custkey) AS customers,
               COUNT(o_orderkey) AS orders,
               COUNT(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END)
                 AS customers_without_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
      """.stripMargin.trim)),

    // ---- C5: left semi join (EXISTS) ----
    QueryDef(
      "q06_buyers_per_nation",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val n = broadcast(t(s, dir, "nation"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .join(n, col("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("buyers"))
          .orderBy("n_name")
      },
      Some("""
        SELECT n_name, COUNT(*) AS buyers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY n_name
        ORDER BY n_name
      """.stripMargin.trim)),

    // ---- C5: left anti join (NOT EXISTS) ----
    QueryDef(
      "q07_nonbuyers_per_nation",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val n = broadcast(t(s, dir, "nation"))
        c.join(o.filter(col("o_orderpriority") === "1-URGENT"),
            c("c_custkey") === o("o_custkey"), "left_anti")
          .join(n, col("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("nonbuyers"))
          .orderBy("n_name")
      },
      Some("""
        SELECT n_name, COUNT(*) AS nonbuyers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY n_name
        ORDER BY n_name
      """.stripMargin.trim)),

    // ---- C6: theta self-join (equi + inequality) ----
    QueryDef(
      "q08_nation_pairs",
      (s, dir) => {
        val a = t(s, dir, "nation").select(
          col("n_nationkey").as("k1"), col("n_name").as("n1_name"),
          col("n_regionkey").as("rk"))
        val b = t(s, dir, "nation").select(
          col("n_nationkey").as("k2"), col("n_name").as("n2_name"),
          col("n_regionkey").as("rk2"))
        val r = broadcast(t(s, dir, "region"))
        a.join(b, col("rk") === col("rk2") && col("k1") < col("k2"))
          .join(r, col("rk") === col("r_regionkey"))
          .select("r_name", "n1_name", "n2_name")
          .orderBy("r_name", "n1_name", "n2_name")
      },
      Some("""
        SELECT r_name, a.n_name AS n1_name, b.n_name AS n2_name
        FROM nation a
        JOIN nation b ON a.n_regionkey = b.n_regionkey
                     AND a.n_nationkey < b.n_nationkey
        JOIN region ON a.n_regionkey = r_regionkey
        ORDER BY r_name, n1_name, n2_name
      """.stripMargin.trim)),

    // ---- G1-G4: union all/distinct, intersect (all), except (all) ----
    QueryDef(
      "q09_set_operations",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val a = c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
        val b = c.filter(col("c_acctbal") > 5000).select("c_custkey")
        def cnt(df: DataFrame, op: String): DataFrame =
          df.agg(count(lit(1)).as("cnt")).select(lit(op).as("op"), col("cnt"))
        cnt(a.union(b), "union_all")
          .unionAll(cnt(a.union(b).distinct(), "union_distinct"))
          .unionAll(cnt(a.intersect(b), "intersect"))
          .unionAll(cnt(a.intersectAll(b), "intersect_all"))
          .unionAll(cnt(a.except(b), "except"))
          .unionAll(cnt(a.exceptAll(b), "except_all"))
          .orderBy("op")
      },
      Some("""
        WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
             b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        SELECT 'union_all' AS op,
               (SELECT COUNT(*) FROM (SELECT * FROM a UNION ALL SELECT * FROM b)) AS cnt
        UNION ALL SELECT 'union_distinct',
               (SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
        UNION ALL SELECT 'intersect',
               (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
        UNION ALL SELECT 'intersect_all',
               (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b))
        UNION ALL SELECT 'except',
               (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
        UNION ALL SELECT 'except_all',
               (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
        ORDER BY op
      """.stripMargin.trim)),

    // ---- D2: exact distinct counts over the event stream table ----
    QueryDef(
      "q10_distinct_users",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS users, COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type
      """.stripMargin.trim)),

    // ---- D5: rollup (multi-granularity batch views) ----
    QueryDef(
      "q11_rollup_balances",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = broadcast(t(s, dir, "nation"))
        // DSL note: rollup's Expand duplicates grouping attributes, which
        // trips ambiguous-self-join resolution on a post-agg coalesce();
        // the SQL path resolves cleanly and exercises entry point 2 (§3.2).
        // c_acctbal is finite-guarded in the view (q23's idiom): the SQL
        // text CASTs it per row — loud in DuckDB, silently NULL in Spark
        // (sixth axis); identity on finite balances.
        c.withColumn("c_acctbal", finite(col("c_acctbal")))
          .createOrReplaceTempView("customer")
        n.createOrReplaceTempView("nation")
        s.sql("""
          SELECT COALESCE(n_name, 'ALL') AS nation,
                 COALESCE(c_mktsegment, 'ALL') AS segment,
                 CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS bal,
                 COUNT(*) AS n
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY ROLLUP(n_name, c_mktsegment)
          ORDER BY nation, segment
        """)
      },
      Some("""
        SELECT COALESCE(n_name, 'ALL') AS nation,
               COALESCE(c_mktsegment, 'ALL') AS segment,
               CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS bal,
               COUNT(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP(n_name, c_mktsegment)
        ORDER BY nation, segment
      """.stripMargin.trim)),

    // ---- D5: cube ----
    QueryDef(
      "q12_cube_lineitem",
      (s, dir) =>
        t(s, dir, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(out2(sum(dec2(col("l_quantity")))).as("sum_qty"), count(lit(1)).as("n"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("sum_qty"), col("n"))
          .orderBy("returnflag", "linestatus"),
      Some("""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus
      """.stripMargin.trim)),

    // ---- F2: LIMIT + OFFSET paging over a global sort. At scale OFFSET is a
    // driver-side skip over an already-limited sorted prefix (Spark plans
    // GlobalLimit(Offset(Sort))) — fine for paging-sized offsets; deep
    // pagination should keyset-paginate on (c_custkey > last_seen) instead. ----
    QueryDef(
      "q79_limit_offset",
      (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            outD(finite(col("c_acctbal")), 2).as("bal"))
          .orderBy(col("c_custkey"))
          .offset(40)
          .limit(25),
      Some("""
        SELECT c_custkey, c_name, c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        FROM customer
        ORDER BY c_custkey
        LIMIT 25 OFFSET 40
      """.stripMargin.trim))
  )
}

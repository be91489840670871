package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-up evidence: replicate the sf0.1 fixture 10× (keyspace-offset
  * copies, so the join graph repeats rather than skews) into /tmp and
  * measure headline queries at both scales. A plan that is shuffle-bounded
  * and pushdown-clean should scale ≈ linearly in rows; that ratio is the
  * evidence the same plan survives 100 TB on a real cluster.
  *
  * Documents get a per-copy tag TOKEN prepended so each copy keeps the
  * fixture's near-dup structure without collapsing into cross-copy exact
  * duplicates. (The corpus is intentionally ~60% near-dup, so pair-output
  * queries remain data-bound: their OUTPUT grows superlinearly by
  * construction — that is a property of replicated near-dup data, not of
  * the plans — so the scale table sticks to the linear-output queries.)
  *
  * Run: `sbt "Test/runMain graft.ScaleCheck"` (writes /tmp/graft_sf1).
  */
object ScaleCheck {
  def main(a: Array[String]): Unit = {
    val spark = TestSpark.spark
    val src = "/root/testdata/sf0.1"
    val dst = "/tmp/graft_sf1"
    val copies = 10

    def replicate(name: String, keyCols: Seq[String], offset: Long): DataFrame = {
      val base = Tables.read(spark, src, name)
      (0 until copies).map { i =>
        keyCols.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(i * offset))
        }
      }.reduce(_ unionAll _)
    }

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    println("[scale] building 10x dataset at " + dst)
    write(replicate("lineitem", Seq("l_orderkey"), 10000000L), "lineitem")
    write(replicate("orders", Seq("o_orderkey"), 10000000L), "orders")
    // customer/part keep their keyspace (orders reference the same customers
    // in every copy — same fan-out shape, 10x probe volume).
    Seq("customer", "part", "supplier", "nation", "region", "embeddings")
      .foreach(n => write(Tables.read(spark, src, n), n))
    val docs = Tables.read(spark, src, "documents")
    write(
      (0 until copies).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
          .withColumn("text", concat(lit(s"copytag$i "), col("text")))
          .withColumn("n_chars", col("n_chars") + lit(8L + i.toString.length))
      }.reduce(_ unionAll _), "documents")
    // events: shift both key and user so windows/sessions repeat per copy.
    write(replicate("events", Seq("event_id", "user_id"), 100000000L), "events")

    val names = Seq("q01_pricing_summary", "q03_top_revenue_orders",
      // The r17-widened events aggregates (DECIMAL(38,0) cents
      // accumulators): in the table so the widen's per-row cost is
      // certified linear, not just in-band at one SF.
      "q16_trailing_hour", "q25_hourly_rollup", "q26_daily_type_breakdown",
      "q27_json_props", "q28_sessionization", "q48_lambda_view_union",
      "q57_shipping_priority", "q59_returned_items", "q35_word_freq",
      "q80_dataset_split", "q83_curation_pipeline", "q87_sequence_packing",
      "q88_pii_redaction", "q89_repetition_signals", "q90_language_mixture",
      "q91_quota_sampling", "q92_source_mix", "q93_boilerplate_shingles",
      "q95_unigram_surprisal", "q96_shard_assignment",
      // q100 is excluded: embeddings are not replicated (same keyspace), so
      // a "10x" timing would compare equal-sized inputs.
      "q98_customer_order_histogram", "q99_snapshot_diff", "q101_gap_fill",
      "q103_winsorized_stats", "q104_funnel", "q105_topk_aggregate",
      "q106_duplicate_spans", "q107_length_buckets", "q108_rag_chunking",
      "q109_hash_sample", "q110_vocab_growth",
      "q111_sole_failing_supplier", "q112_part_value_share",
      "q113_value_histogram", "q114_cohort_retention",
      "q115_cumulative_users", "q116_inverted_index", "q117_daily_trend",
      "q118_table_profile", "q119_event_trigrams", "q120_curriculum_order",
      // q122 is excluded like q33/q50: cross-copy shingle sets differ only
      // by the copytag shingles, so the true-pair OUTPUT grows quadratically
      // in copies (measured 7.6x at 10x) — a property of replicated
      // near-dup data, not of the prefix-join plan.
      "q121_cdc_apply", "q123_skew_audit", "q124_time_weighted_avg",
      "q125_equi_depth_quintiles", "q127_source_divergence",
      "q128_activity_streaks", "q129_pareto_classes", "q130_basket_pairs",
      "q131_leadtime_percentiles", "q132_retention_matrix")
    // toRdd.count(), NOT Dataset.count(): the latter rewrites to a
    // groupBy().count() that lets the optimizer prune the final orderBy /
    // presentation project, under-measuring queries whose cost sits in
    // that sort. toRdd executes the plan exactly as declared.
    def time(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      Registry.queries(name)(spark, dir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both directories once
    Registry.queries("q01_pricing_summary")(spark, src).count()
    Registry.queries("q01_pricing_summary")(spark, dst).count()
    println(f"[scale] ${"query"}%-26s ${"sf0.1"}%8s ${"10x"}%8s  ratio")
    names.foreach { n =>
      val t1 = time(src, n)
      val t10 = time(dst, n)
      println(f"[scale] $n%-26s $t1%8.2f $t10%8.2f  ${t10 / t1}%5.1fx")
    }
    // Clustering pipeline (q78/q133, functions/Components): timed with the
    // volumes that explain it. On a replicated near-dup corpus the
    // cross-copy EDGE list grows superlinearly BY CONSTRUCTION (each copy
    // stays a near-dup of every other copy's originals — same data
    // property that excludes q33/q50/q122 from the linear table above),
    // while the cluster relation OUTPUT stays linear in documents. So the
    // wall ratio is reported alongside the measured pair volume and output
    // rows: time should track edges, output should track documents.
    // q78 is timed on its FIRST run per dir — the session cluster cache
    // would make a second run ~0 s (that sharing is measured by the bench,
    // not here).
    val pairs1 = Registry.queries("q33_neardup_pairs")(spark, src).count()
    val c1 = time(src, "q78_dedup_clusters")
    val rows1 = Registry.queries("q78_dedup_clusters")(spark, src).count()
    val pairs10 = Registry.queries("q33_neardup_pairs")(spark, dst).count()
    val c10 = time(dst, "q78_dedup_clusters")
    val rows10 = Registry.queries("q78_dedup_clusters")(spark, dst).count()
    println(f"[scale] q78_dedup_clusters(cc)  $c1%8.2f $c10%8.2f  ${c10 / c1}%5.1fx" +
      f"  pairs $pairs1%,d -> $pairs10%,d (${pairs10.toDouble / pairs1}%.1fx)" +
      f"  output rows $rows1%,d -> $rows10%,d (${rows10.toDouble / rows1}%.1fx)")
    // No spark.stop(): TestSpark.spark is suite-shared; Test/runMain forks,
    // so JVM exit cleans it up.
  }
}

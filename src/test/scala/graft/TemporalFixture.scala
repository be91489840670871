package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Builder for the TEMPORAL-pathology corpus — [[TemporalInputSpec]]'s
  * fixture: the eighth input-robustness axis. The seven existing axes
  * poison structure, vector shape, scalar magnitude, key distribution,
  * IEEE specials, and text; none moves a DATE or TIMESTAMP off the
  * fixtures' organic 1995–2024 window — yet time is the engine's most
  * JOINED-THROUGH dimension (bucketing, sessionization, as-of, spines,
  * cohorts, trends) and a 100 TB upstream delivers calendar extremes
  * in-schema routinely: a seconds/millis/micros unit confusion lands a
  * 1970-adjacent or far-future instant, a null-sentinel convention lands
  * 9999-12-31, a parser default lands 0001-01-01.
  *
  * PROBE-FIRST result (r18 session 3; Spark side re-pinned in
  * [[TemporalInputSpec]], oracle side in dev/oracle_probe.py group 8):
  * Spark 4.1.2 and DuckDB 1.0.0 AGREE — value-for-value at every probed
  * extreme — on date_trunc (day/hour, incl. pre-epoch flooring),
  * unix_micros/epoch_us (year 1 = -62135596800000000, 9999-12-31
  * 23:59:59.999999 = 253402300799999999, epoch−1µs = −1), cast
  * timestamp→date below the epoch, year(), proleptic-Gregorian datediff
  * (1582-10-04 → 1582-10-15 = 11 days BOTH sides — neither engine skips
  * the Julian gap), and the normalizeEventTs NTZ reinterpretation
  * (make_timestamp field extraction at year 1/9999/epoch−1µs lands the
  * exact DuckDB naive-read epoch µs). NTZ parquet round-trips all four
  * extreme values bit-exactly. NO adjudicated asymmetries — unlike the
  * unicode axis, nothing needs exclusion; the corpus carries the
  * extremes straight through every date function the surface uses.
  *
  * The axis's abort contract is ONE query by DESIGN: q101_gap_fill's
  * spine guard (EventQueries — r18). The hourly spine is the engine's
  * only data-extent-driven generated dimension: sequence(h0, h1, 1h)
  * materializes the user's full time RANGE, so a 0001..9999 span means
  * ~87.6M rows per user (measured: 8.7649344e7 hours) — in BOTH engines
  * (generate_series explodes identically; symmetry is no defense when
  * the failure is an OOM'd stage). The 20-year cap added this round
  * aborts loudly instead; every OTHER query treats calendar extremes as
  * legal values end-to-end (group keys grow by a handful of buckets,
  * datediff magnitudes stay inside the audited widths: |x| ≤ 3.65e6 days
  * < DECIMAL(9,0) for q117's moment products, dt ≤ 3.2e17 µs keeps
  * q124's telescoping (19,0)×(19,0) bound, q132's pivot is an explicit
  * value list).
  *
  * Poisoned columns (mod-classes, organic elsewhere; sf0.001 scale):
  *   - events.ts (event_id % 101): 0 → 0001-01-02 03:04:05.678901;
  *     1 → 9999-12-30 23:59:59.999999; 2 → epoch−1µs; 3 → the epoch
  *     exactly; 4 → proleptic Julian-gap noon 1582-10-10 12:00:00;
  *     5 → exact midnight 2024-01-15 00:00:00 (bucket left-edge);
  *     6 → 2024-01-15 23:59:59.999999 (bucket right-edge µs).
  *     Written as TIMESTAMP_NTZ like the organic fixture, so the
  *     normalizeEventTs reinterpretation path is exercised at every
  *     extreme, and ordering ties inside a class break on event_id
  *     exactly as the organic corpus does.
  *   - orders.o_orderdate (o_orderkey % 37): 0 → 0001-01-01;
  *     1 → 9999-12-31; 2 → 1969-12-31 (pre-epoch); 3 → 1582-10-10.
  *   - lineitem.l_shipdate (l_orderkey % 43): 0 → 0001-01-03;
  *     1 → 9999-12-29; 2 → 1969-12-30; 3 → 1582-10-11. The orders and
  *     lineitem classes are keyed on DIFFERENT moduli of the SAME join
  *     key, so datediff(l_shipdate, o_orderdate) lead-times realize both
  *     signs at ±3.65M-day magnitude (q131's percentile input, q74's
  *     join-through) while most poisoned lineitems join organic orders.
  */
object TemporalFixture {

  /** (mod-class → NTZ literal) for events.ts. */
  val EventClasses: Seq[(Int, String)] = Seq(
    0 -> "0001-01-02 03:04:05.678901",
    1 -> "9999-12-30 23:59:59.999999",
    2 -> "1969-12-31 23:59:59.999999",
    3 -> "1970-01-01 00:00:00",
    4 -> "1582-10-10 12:00:00",
    5 -> "2024-01-15 00:00:00",
    6 -> "2024-01-15 23:59:59.999999")

  val OrderClasses: Seq[(Int, String)] = Seq(
    0 -> "0001-01-01 00:00:00", 1 -> "9999-12-31 00:00:00",
    2 -> "1969-12-31 00:00:00", 3 -> "1582-10-10 00:00:00")

  val LineitemClasses: Seq[(Int, String)] = Seq(
    0 -> "0001-01-03 00:00:00", 1 -> "9999-12-29 00:00:00",
    2 -> "1969-12-30 00:00:00", 3 -> "1582-10-11 00:00:00")

  private def poison(c: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
                     m: Int, classes: Seq[(Int, String)]) =
    classes.foldLeft(when(lit(false), c)) { case (acc, (k, ts)) =>
      acc.when(pmod(key, lit(m)) === k, expr(s"timestamp_ntz'$ts'"))
    }.otherwise(c)

  /** Build the corpus under a fresh temp dir; returns the dir.
    *
    * `base` defaults to the organic sf0.001 corpus; passing
    * SkewFixture.build's dir instead composes the temporal classes ON TOP
    * of the duplicate-key pathologies (the StressSweepSpec temporal×skew
    * sweep) — the skew corpus preserves the organic NTZ encodings, and
    * MegaOrder = MegaUser = 0 land in temporal class 0 on every modulus,
    * so the 10⁵-row mega-order carries year-1 dates through the skewed
    * join and the mega-user's event stream spans 0001..9999. */
  def build(spark: SparkSession, base: String = TestSpark.sf0001): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-temporal-sf")
      .toString
    val sf = base

    Seq("region", "nation", "customer", "supplier", "part", "documents",
      "embeddings").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet")
        .coalesce(1).write.parquet(s"$dir/$t.parquet")
    }

    spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", poison(col("ts"), col("event_id"), 101, EventClasses))
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("o_orderdate",
        poison(col("o_orderdate"), col("o_orderkey"), 37, OrderClasses))
      .coalesce(1).write.parquet(s"$dir/orders.parquet")

    spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("l_shipdate",
        poison(col("l_shipdate"), col("l_orderkey"), 43, LineitemClasses))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")

    dir
  }
}

/** Materialize the temporal corpus and print the dir — the committed entry
  * point for dev/axis_compare.sh temporal (the NonFiniteFixtureMain idiom). */
object TemporalFixtureMain {
  def main(a: Array[String]): Unit = {
    println(s"TEMPORAL_FIXTURE_DIR=${TemporalFixture.build(TestSpark.spark)}")
  }
}

/** Exploratory sweep: run every registry query on the temporal corpus and
  * print PASS / the first cause-chain line — the adjudication input for
  * [[TemporalInputSpec]]'s one-abort pin. Not part of the suite; run with
  * `sbt "Test/runMain graft.TemporalSweepMain"`. */
object TemporalSweepMain {
  def main(a: Array[String]): Unit = {
    val spark = TestSpark.spark
    val dir = TemporalFixture.build(spark)
    println(s"[temporal] corpus at $dir")
    Registry.all.foreach { q =>
      val r = try { TestSpark.materialize(q.fn(spark, dir)); "PASS" }
      catch {
        case t: Throwable =>
          val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(_.toString.linesIterator.next()).mkString(" | ")
          s"FAIL ${chain.take(300)}"
      }
      println(f"[temporal] ${q.name}%-28s $r")
    }
  }
}

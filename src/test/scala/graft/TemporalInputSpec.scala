package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Eighth input-robustness axis: TEMPORAL pathology ([[TemporalFixture]] —
  * year-1 and year-9999 timestamps, the epoch edge (±1 µs), the 1582
  * Julian-gap window, exact bucket-boundary midnights, all written in the
  * organic NTZ encoding so the normalizeEventTs reinterpretation path is
  * exercised at every extreme).
  *
  * What the r18 probe established (Spark 4.1.2 vs DuckDB 1.0.0): the
  * engines AGREE value-for-value at every probed extreme — date_trunc
  * (incl. pre-epoch flooring), unix_micros/epoch_us, ts→date, year(),
  * proleptic-Gregorian datediff (neither skips the Julian gap), the NTZ
  * make_timestamp reinterpretation — proven end-to-end by
  * dev/axis_compare.sh temporal (Verify on the poisoned corpus → exactly the
  * one designed abort → full DuckDB compare over the remaining 122
  * oracled queries → PASS, 0 failures). NO excluded asymmetries, unlike
  * the unicode axis; the oracle tier is frozen by dev/oracle_probe.py
  * group 8. The compare surfaced one CHECKER limitation, not an engine
  * one: verify_local's date-object unification went through
  * datetime64[ns] (range 1677..2262) and crashed on legal year-1/9999
  * DATE cells — now [us] end-to-end, value-identical for every in-range
  * date (both engines' parquet/df representations were already exact).
  *
  * The abort contract is ONE query by design: q101_gap_fill's spine
  * guard. The hourly spine is the engine's only data-extent-driven
  * generated dimension — sequence(h0, h1, 1h) materializes a user's full
  * time RANGE, so one corrupted far-past/future timestamp means ~87.6M
  * rows for that user in BOTH engines (generate_series explodes
  * identically; symmetry is no defense when the failure is an OOM'd
  * stage, not a wrong value). The 20-year cap aborts loudly instead.
  * Every other query treats the extremes as legal values: group keys
  * gain a handful of buckets, datediff magnitudes stay inside the
  * audited widths (|x| ≤ 3.65e6 days < DECIMAL(9,0) in q117's moments;
  * dt ≤ 3.2e17 µs keeps q124's telescoping (19,0)×(19,0) bound).
  */
class TemporalInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val dir = TemporalFixture.build(spark)

  private def chain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString(" | ")

  test("temporal sweep: abort set is EXACTLY the q101 spine guard") {
    val failures = Registry.all.flatMap { q =>
      try { TestSpark.materialize(q.fn(spark, dir)); None }
      catch { case t: Throwable => Some(q.name -> chain(t)) }
    }.toMap
    assert(failures.keySet == Set("q101_gap_fill"),
      s"abort set drifted: ${failures.map { case (n, c) =>
        s"$n: ${c.linesIterator.next()}" }.mkString("; ")}")
    val kind = failures("q101_gap_fill")
    assert(kind.contains("USER_RAISED_EXCEPTION") &&
      kind.contains("spine exceeds 20 years"),
      s"q101 aborted with the wrong kind (expected the designed spine " +
        s"guard): ${kind.take(300)}")
  }

  test("q101 stays green on the organic corpus (guard is identity in-domain)") {
    TestSpark.materialize(
      Registry.queries("q101_gap_fill")(spark, TestSpark.sf0001))
  }

  test("q101 null-extent screen: an all-null-ts user drops silently, never aborts") {
    // r18 ADVICE #2: assert_true THROWS on a NULL condition, so before
    // the h0-IS-NULL screen a user whose every ts is NULL (h0/h1 both
    // NULL after the min/max aggregate) aborted the WHOLE query — where
    // the pre-guard semantics dropped that user silently via
    // sequence(NULL, NULL) → NULL → explode. NULL extents carry no
    // corrupt-magnitude signal, so the guard must pass them through and
    // keep the original drop-the-user behavior at real ingress.
    val nd = java.nio.file.Files.createTempDirectory("graft-nullts").toString
    val ev = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    val tsType = ev.schema("ts").dataType
    ev.withColumn("ts",
        when(col("user_id") === 7L, lit(null).cast(tsType))
          .otherwise(col("ts")))
      .coalesce(1).write.parquet(s"$nd/events.parquet")
    val out = Registry.queries("q101_gap_fill")(spark, nd)
    TestSpark.materialize(out)
    val users = out.select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!users.contains(7L),
      "the all-null-ts user must be dropped from the spine, not spined")
    assert(users.nonEmpty, "other users must keep their spines")
  }

  test("non-consumers are byte-identical to their organic outputs") {
    // q34 reads only documents, q43 only embeddings — both untouched by
    // this fixture; drift here means a poisoned table leaked into a plan
    // that must not read it.
    Seq("q34_text_stats", "q43_cosine_neardup").foreach { name =>
      val fn = Registry.queries(name)
      val poisoned = fn(spark, dir).collect().toSeq
      val organic = fn(spark, TestSpark.sf0001).collect().toSeq
      assert(poisoned == organic,
        s"$name output drifted on the temporal corpus")
    }
  }

  test("engine calendar contract: the probe record (= oracle_probe group 8)") {
    import spark.implicits._
    val r = Seq(1).toDF("x").select(
      unix_micros(expr("timestamp'0001-01-01 00:00:00'")),
      unix_micros(expr("timestamp'9999-12-31 23:59:59.999999'")),
      unix_micros(expr("timestamp'1969-12-31 23:59:59.999999'")),
      datediff(expr("date'1582-10-15'"), expr("date'1582-10-04'")),
      expr("cast(date_trunc('day', timestamp'1969-12-31 10:11:12') as date)")
        .cast("string"),
      date_trunc("hour", expr("timestamp'0001-01-02 03:04:05.678901'"))
        .cast("string"),
      year(expr("timestamp'9999-12-30 23:59:59.999999'")))
      .collect().head
    assert(r.getLong(0) == -62135596800000000L, "epoch µs at year 1")
    assert(r.getLong(1) == 253402300799999999L, "epoch µs at 9999 end")
    assert(r.getLong(2) == -1L, "epoch µs one µs before the epoch")
    assert(r.getInt(3) == 11,
      "datediff must be proleptic Gregorian across the 1582 Julian gap")
    assert(r.getString(4) == "1969-12-31",
      "pre-epoch day truncation must floor to the calendar day")
    assert(r.getString(5) == "0001-01-02 03:00:00",
      "hour truncation at year 1")
    assert(r.getInt(6) == 9999, "year() at the far boundary")
  }

  test("normalizeEventTs reinterprets NTZ extremes to the oracle's epoch µs") {
    // The fixture writes NTZ (the organic encoding); Tables.events runs
    // make_timestamp field extraction over it. These three constants are
    // DuckDB's naive read of the same wall-clock values (probed) — if
    // this pin fires, the reinterpretation path lost an extreme and every
    // events-consuming comparison on this corpus splits.
    val us = graft.sources.Tables.read(spark, dir, "events")
      .filter(pmod(col("event_id"), lit(101)) <= 2)
      .select(pmod(col("event_id"), lit(101)).as("cls"),
        unix_micros(col("ts")).as("us"))
      .distinct().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(us(0L) == -62135499354321099L, "year-1 NTZ reinterpretation")
    assert(us(1L) == 253402214399999999L, "year-9999 NTZ reinterpretation")
    assert(us(2L) == -1L, "epoch-minus-1µs NTZ reinterpretation")
  }

  test("window() boundaries equal date_trunc at every extreme (the lambda seam)") {
    // The lambda architecture's batch views bucket with date_trunc while
    // the streaming speed views bucket with window() — two DIFFERENT
    // boundary computations (calendar truncation vs epoch-µs floor
    // division). If they ever disagree, the q48-class batch+speed union
    // splits SILENTLY on the disagreeing bucket. Probed equal at every
    // corpus extreme (incl. pre-epoch flooring, where a
    // truncate-toward-zero floor division would round the WRONG way);
    // pinned here so a Spark upgrade changing either side is loud.
    import spark.implicits._
    val probe = TemporalFixture.EventClasses.map(_._2).toDF("s")
      .select(expr("cast(s as timestamp)").as("ts"))
    Seq("hour" -> "1 hour", "day" -> "1 day").foreach { case (unit, win) =>
      val bad = probe.groupBy(window(col("ts"), win), col("ts")).count()
        .filter(col("window.start") =!= date_trunc(unit, col("ts")))
        .count()
      assert(bad == 0L, s"window($win) start diverged from date_trunc($unit)")
    }
  }

  test("fixture properties: every class lands; lead-times realize both signs") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(pmod(col("event_id"), lit(101)).as("cls")).groupBy("cls")
      .count().collect().map(r => r.getLong(0)).toSet
    TemporalFixture.EventClasses.foreach { case (k, _) =>
      assert(ev.contains(k.toLong), s"event class $k landed no rows")
    }
    // orders and lineitem poison DIFFERENT moduli of the same join key →
    // datediff(l_shipdate, o_orderdate) must realize BOTH signs at
    // ≥1e5-day magnitude (q131's lead-time input, q74's join-through).
    val lt = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .select(datediff(col("l_shipdate"), col("o_orderdate")).as("d"))
      .agg(min("d"), max("d")).collect().head
    assert(lt.getInt(0) < -100000, s"no large negative lead-time: $lt")
    assert(lt.getInt(1) > 100000, s"no large positive lead-time: $lt")
  }
}

package graft

import graft.sources.Tables
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** SURVEY §2.J streaming operators — non-oracle, verified here via
  * MemoryStream micro-batches and file replay of the real event log. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Parse "yyyy-MM-dd HH:mm:ss" as a UTC instant. Timestamp.valueOf
    * would interpret the wall-clock string in the JVM DEFAULT zone while
    * every declared op runs under the session's pinned UTC — fine on a
    * UTC host, but on a displaced host (TZ=Pacific/Kiritimati, +14) the
    * instants shift and any test comparing against absolute calendar
    * dates fails (caught by the round-13 displaced-TZ suite run: the
    * q115 twin read every sighting one day early).
    */
  private def ts(s: String): Timestamp =
    Timestamp.from(java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC))

  private def checkpoint(): String =
    Files.createTempDirectory("graft-ckpt").toString

  /** transformWithState needs a multi-column-family store → RocksDB. */
  private def useRocksDB(): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Update-mode leaderboard capture for topKStream tests: a key's LATEST
    * emission is its current board (exactly what the upsert serving sink
    * would materialize). */
  private def startLeaderboard(in: MemoryStream[KIS], ckpt: String,
      board: scala.collection.mutable.Map[Long, Seq[(Long, Long, Double)]]) =
    StreamingOps.topKStream(spark, in.toDF(), k = 2)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamingOps.TopEntry], _: Long) =>
        ds.collect().groupBy(_.key).foreach { case (k, rows) =>
          board(k) = rows.sortBy(_.rank).map(r => (r.rank, r.id, r.score)).toSeq
        }
      }
      .start()

  test("J1/J4: tumbling window aggregates and drops late data past watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.tumblingCounts(in.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("tumbling")
      .option("checkpointLocation", checkpoint())
      .outputMode("update").start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:30:00"), 1, "click", 2.0))
      q.processAllAvailable()
      // Watermark is now 10:00. An 08:xx event is beyond it → dropped.
      in.addData(Ev(3, ts("2024-01-01 08:15:00"), 1, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling").collect()
      assert(rows.exists(r => r.getAs[Timestamp]("win_start") ==
        ts("2024-01-01 10:00:00") && r.getAs[Long]("n") == 2))
      assert(!rows.exists(r => r.getAs[Timestamp]("win_start") ==
        ts("2024-01-01 08:00:00")), "late row must be dropped")
    } finally q.stop()
  }

  test("J2: sliding windows produce overlapping buckets") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.slidingCounts(in.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("sliding")
      .option("checkpointLocation", checkpoint())
      .outputMode("update").start()
    try {
      in.addData(Ev(1, ts("2024-01-01 10:45:00"), 1, "view", 1.0))
      q.processAllAvailable()
      val starts = spark.table("sliding").select("win_start").as[Timestamp].collect().toSet
      assert(starts == Set(ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")))
    } finally q.stop()
  }

  test("J3: session windows split on the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.sessionAgg(in.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("sessions")
      .option("checkpointLocation", checkpoint())
      .outputMode("complete").start() // session windows: no update mode
    try {
      in.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        Ev(2, ts("2024-01-01 10:10:00"), 7, "click", 1.0),
        Ev(3, ts("2024-01-01 11:30:00"), 7, "click", 1.0))
      q.processAllAvailable()
      val sess = spark.table("sessions")
        .select("sess_start", "n_events").as[(Timestamp, Long)].collect().toSet
      assert(sess.contains((ts("2024-01-01 10:00:00"), 2L)))
      assert(sess.contains((ts("2024-01-01 11:30:00"), 1L)))
    } finally q.stop()
  }

  test("J5: dropDuplicatesWithinWatermark dedupes replayed event_ids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.dedupe(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .option("checkpointLocation", checkpoint())
      .outputMode("append").start()
    try {
      in.addData(Ev(42, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(42, ts("2024-01-01 10:00:00"), 1, "click", 1.0)) // replay
      q.processAllAvailable()
      assert(spark.table("deduped").filter($"event_id" === 42).count() == 1)
    } finally q.stop()
  }

  test("J6: flatMapGroupsWithState accumulates per-user state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.statefulUserCounts(spark, in.toDF())
      .writeStream.format("memory").queryName("stateful")
      .option("checkpointLocation", checkpoint())
      .outputMode("update").start()
    try {
      in.addData(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(2, ts("2024-01-01 11:00:00"), 5, "view", 1.0))
      q.processAllAvailable()
      val last = spark.table("stateful").filter($"user_id" === 5)
        .orderBy($"n".desc).limit(1)
        .select("n", "last_us").as[(Long, Long)].collect().head
      assert(last._1 == 2)
      assert(last._2 == unixMicros("2024-01-01 11:00:00"))
    } finally q.stop()
  }

  test("J6 (Spark 4): transformWithState accumulates per-user state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    useRocksDB()
    val q = StreamingOps.statefulUserCountsTws(spark, in.toDF())
      .writeStream.format("memory").queryName("tws")
      .option("checkpointLocation", checkpoint())
      .outputMode("update").start()
    try {
      in.addData(Ev(1, ts("2024-01-01 10:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(2, ts("2024-01-01 11:00:00"), 9, "view", 1.0))
      q.processAllAvailable()
      val last = spark.table("tws").filter($"user_id" === 9)
        .orderBy($"n".desc).limit(1)
        .select("n", "last_us").as[(Long, Long)].collect().head
      assert(last == ((2L, unixMicros("2024-01-01 11:00:00"))))
    } finally q.stop()
  }

  test("J7: stream-static enrichment join") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((5L, "gold"), (6L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Ev]
    val q = StreamingOps.streamStaticJoin(in.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .option("checkpointLocation", checkpoint())
      .outputMode("append").start()
    try {
      in.addData(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.0))
      q.processAllAvailable()
      val r = spark.table("enriched").select("tier").as[String].collect()
      assert(r.toSeq == Seq("gold"))
    } finally q.stop()
  }

  test("J8: watermarked stream-stream join pairs errors within 5 min of purchase") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.purchaseErrorJoin(in.toDF())
      .writeStream.format("memory").queryName("correlated")
      .option("checkpointLocation", checkpoint())
      .outputMode("append").start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "purchase", 9.0),
        Ev(2, ts("2024-01-01 10:02:00"), 1, "error", 0.0),
        Ev(3, ts("2024-01-01 10:30:00"), 1, "error", 0.0))
      q.processAllAvailable()
      val pairs = spark.table("correlated").select("p_id", "e_id")
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)))
    } finally q.stop()
  }

  test("A6: deterministic rate-micro-batch test source") {
    val q = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", "10").option("numPartitions", "2")
      .load()
      .writeStream.format("memory").queryName("rated")
      .option("checkpointLocation", checkpoint())
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    assert(spark.table("rated").count() >= 10)
  }

  test("J9/A5: AvailableNow file replay of the event log equals the batch result") {
    val agg = StreamingOps.tumblingCounts(
      StreamingOps.fileReplay(spark, TestSpark.sf0001), "1 day", "0 seconds")
    val q = agg.writeStream.format("memory").queryName("replay")
      .option("checkpointLocation", checkpoint())
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val streamed = spark.table("replay")
      .select("win_start", "event_type", "n", "cents")
    val batch = Tables.events(spark, TestSpark.sf0001)
      .groupBy(date_trunc("day", col("ts")).as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream replay must equal batch recompute (lambda unification)")
  }

  test("top-k leaderboard state survives a checkpoint restart") {
    implicit val sqlCtx = spark.sqlContext
    useRocksDB()
    val ckpt = checkpoint()
    val board = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, Double)]]
    // Run 1: establish state, then STOP the query.
    val in1 = MemoryStream[KIS]
    val q1 = startLeaderboard(in1, ckpt, board)
    try {
      in1.addData(KIS(1, 1, 5.0), KIS(1, 2, 7.0))
      q1.processAllAvailable()
      assert(board(1L) == Seq((1L, 2L, 7.0), (2L, 1L, 5.0)))
    } finally q1.stop()
    // Run 2: a NEW query instance over the SAME checkpoint must recover the
    // k-bounded RocksDB state — the new score evicts run 1's rank-2 entry,
    // which only works if run 1's buffer was durably restored. The first
    // addData replays run 1's batch purely to re-align MemoryStream offsets
    // with the checkpoint (the committed offset range is skipped, not
    // reprocessed — double-processing would corrupt nothing here, but the
    // restart semantics under test are skip-committed).
    val in2 = MemoryStream[KIS]
    in2.addData(KIS(1, 1, 5.0), KIS(1, 2, 7.0))
    val q2 = startLeaderboard(in2, ckpt, board)
    try {
      in2.addData(KIS(1, 3, 6.0))
      q2.processAllAvailable()
      assert(board(1L) == Seq((1L, 2L, 7.0), (2L, 3L, 6.0)),
        s"restarted state must merge with new data: ${board(1L)}")
    } finally q2.stop()
  }

  test("first-sightings replay of the real event log equals batch q115 new_users") {
    useRocksDB()
    val q = StreamingOps.firstSightingsStream(spark,
        StreamingOps.fileReplay(spark, TestSpark.sf0001))
      .writeStream.format("memory").queryName("sightings_replay")
      .option("checkpointLocation", checkpoint())
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "replay timed out")
    finally q.stop()
    // AvailableNow replay sees the whole log (no cross-batch late data), so
    // the arrival-order caveat vanishes and parity with batch q115 is
    // exact: per-day first-sighting counts == the declared new_users curve.
    val streamed = spark.table("sightings_replay")
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val batch = Registry.queries("q115_cumulative_users")(
        spark, TestSpark.sf0001)
      .select("day", "new_users").filter(col("new_users") > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "stream replay must equal the batch new-user curve (lambda unification)")
  }

  test("A7/J10: upsert sink serves exactly the latest row per key") {
    val target = Files.createTempDirectory("graft-serve").toString + "/users"
    val stream = StreamingOps.fileReplay(spark, TestSpark.sf0001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val q = StreamingOps.upsertSink(stream, target, checkpoint(),
      keyCol = "user_id", versionCol = "us", tiebreakCol = "event_id")
    q.awaitTermination(120000)
    val served = spark.read.parquet(target)
    val expected = Tables.events(spark, TestSpark.sf0001)
      .groupBy("user_id")
      .agg(max_by(col("event_id"), struct(unix_micros(col("ts")), col("event_id")))
        .as("event_id"))
    assert(served.count() == expected.count())
    val diff = served.select("user_id", "event_id")
      .exceptAll(expected.select("user_id", "event_id"))
    assert(diff.isEmpty, "served rows must be the per-user latest")
  }

  test("A7/J10: upsert swap recovers from a crash that left only the .bak") {
    // upsertBatch's swap moves the current table ASIDE to .bak before
    // renaming the new data in; a crash between those renames leaves no
    // target and a .bak holding the authoritative table. A replayed batch
    // must merge against the backup, not start from empty (silently
    // forgetting every previously served key).
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-serve-crash").toString
    val target = dir + "/users"
    Seq((1L, 100L, 10L), (2L, 200L, 10L)).toDF("user_id", "event_id", "us")
      .write.parquet(target + ".bak")
    val batch = Seq((2L, 201L, 20L), (3L, 300L, 20L))
      .toDF("user_id", "event_id", "us")
    StreamingOps.upsertBatch(batch, target, "user_id", "us", "event_id")
    val served = spark.read.parquet(target)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(served == Set((1L, 100L), (2L, 201L), (3L, 300L)),
      "recovered merge must keep backup keys and apply the replayed batch")
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(target + ".bak")),
      "backup must be dropped after a successful swap")
  }

  private def dataFiles(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(path)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .toSeq
  }

  /** Merges each of `batches` into `target` as one micro-batch of a
    * stateful stream, like the speed layer's: Spark runs a stateful
    * query's micro-batches with AQE off, so nothing coalesces the merge's
    * partitions. The stream's session copies the session's conf at start. */
  private def upsertStream(target: String, batches: Seq[Seq[(Long, Long, Long)]]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val q = in.toDF().toDF("user_id", "event_id", "us").dropDuplicates().writeStream
      .option("checkpointLocation", checkpoint())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingOps.upsertBatch(b, target, "user_id", "us", "event_id")
      }
      .start()
    try batches.foreach { rows => in.addData(rows); q.processAllAvailable() }
    finally q.stop()
  }

  test("A7/J10: upsert rewrites a table into ceil(bytes / maxPartitionBytes) files") {
    val dir = Files.createTempDirectory("graft-serve-files").toString
    // A few rows: the second merge reads a table far below one split, so
    // it rewrites it as one file, not spark.sql.shuffle.partitions files.
    val small = dir + "/small"
    upsertStream(small, Seq(Seq((1L, 100L, 10L), (2L, 200L, 10L)),
      Seq((2L, 201L, 20L), (3L, 300L, 20L))))
    assert(dataFiles(small).size == 1)
    assert(spark.read.parquet(small).select("user_id", "event_id")
      .as[(Long, Long)].collect().toSet == Set((1L, 100L), (2L, 201L), (3L, 300L)))

    // With the split size below the stored table's size, the rewrite is
    // one file per split of it (4000 keys fill every hash partition).
    val large = dir + "/large"
    upsertStream(large, Seq((0L until 4000L).map(k => (k, k * 7, 10L))))
    val bytes = dataFiles(large).map(_.getLen).sum
    val split = bytes / 3 + 1
    spark.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
    try upsertStream(large, Seq(Seq((5L, 1L, 20L))))
    finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert(dataFiles(large).size == 3) // ceil(bytes / split)
    val served = spark.read.parquet(large)
    assert(served.count() == 4000L)
    assert(served.filter(col("user_id") === 5L).select("event_id")
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("A7/J10: upsert refuses a batch whose columns differ from the stored table") {
    // The stored table's schema comes from its footer, never from the
    // batch: a column only one side has must fail the merge, not be
    // null-filled, and the served table must stay as it was.
    val target = Files.createTempDirectory("graft-serve-schema").toString + "/users"
    val stored = Set((1L, 100L, 10L), (2L, 200L, 10L))
    StreamingOps.upsertBatch(stored.toSeq.toDF("user_id", "event_id", "us"),
      target, "user_id", "us", "event_id")
    val extra = Seq((2L, 201L, 20L, "x")).toDF("user_id", "event_id", "us", "extra")
    val missing = Seq((3L, 300L)).toDF("user_id", "event_id")
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for ((label, batch) <- Seq("extra column" -> extra, "missing column" -> missing)) {
      intercept[org.apache.spark.sql.AnalysisException] {
        StreamingOps.upsertBatch(batch, target, "user_id", "us", "event_id")
      }
      val served = spark.read.parquet(target)
      assert(served.columns.toSeq == Seq("user_id", "event_id", "us"), label)
      assert(served.as[(Long, Long, Long)].collect().toSet == stored, label)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(target + ".bak")), label)
    }
  }

  /** Micros-since-epoch of the same UTC instant `ts` builds — derived
    * from it so the two can never disagree under a displaced host TZ.
    */
  private def unixMicros(s: String): Long =
    ts(s).getTime * 1000L

  case class Doc(doc_id: Long, ts: Timestamp, text: String, n_chars: Long)

  test("streaming curation: fingerprint dedup + quality gates (twin of q83)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = StreamingOps.curationStream(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("curation")
      .option("checkpointLocation", checkpoint())
      .outputMode("append").start()
    try {
      in.addData(
        Doc(1, ts("2024-01-01 10:00:00"), "spark joins hash data fast", 26L),
        // same token SET as doc 1 (order differs) → same fingerprint, dropped
        Doc(2, ts("2024-01-01 10:00:01"), "fast hash joins spark data", 26L),
        Doc(3, ts("2024-01-01 10:00:02"), "tiny doc", 8L),
        // 5 tokens, 79 chars → mean token length 15.8 → weird_shape
        Doc(4, ts("2024-01-01 10:00:03"),
          "aaaaaaaaaaaaaaa bbbbbbbbbbbbbbb ccccccccccccccc ddddddddddddddd eeeeeeeeeeeeeee", 79L),
        Doc(5, ts("2024-01-01 10:00:04"), "five clean tokens pass gates", 28L),
        // same distinct-token SET as doc 3 (fp ignores counts/n_chars) but a
        // DIFFERENT failing gate: 5 tokens, declared 99 chars → mean 19.8 →
        // weird_shape. Keying the dedup on (fp, reason) keeps one audit row
        // per failure mode — doc 3 must not suppress this one.
        Doc(6, ts("2024-01-01 10:00:05"), "doc doc doc doc tiny", 99L))
      q.processAllAvailable()
      val out = spark.table("curation").select("doc_id", "reason", "keep")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
      assert(out == Set(
        (1L, "ok", true),
        // doc 2 absent: dropped by dropDuplicatesWithinWatermark
        (3L, "too_short", false),
        (4L, "weird_shape", false),
        (5L, "ok", true),
        (6L, "weird_shape", false)), s"got $out")
    } finally q.stop()
  }

  case class LDoc(lang: String, doc_id: Long)

  test("streaming quota admission: per-language budget persists across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LDoc]
    useRocksDB()
    val q = StreamingOps.quotaAdmissionStream(spark, in.toDF(), quota = 2)
      .writeStream.format("memory").queryName("quota")
      .option("checkpointLocation", checkpoint())
      .outputMode("update").start()
    try {
      // Batch 1: en has 3 candidates but quota 2 — doc 30 must be rejected
      // (admission is doc_id-ordered within the batch slice).
      in.addData(LDoc("en", 20), LDoc("en", 10), LDoc("en", 30), LDoc("fr", 1))
      q.processAllAvailable()
      // Batch 2: en is exhausted (state carries across batches); fr has one
      // budget slot left.
      in.addData(LDoc("en", 5), LDoc("fr", 2), LDoc("fr", 3))
      q.processAllAvailable()
      val out = spark.table("quota")
        .select("lang", "doc_id", "admitted_rank")
        .as[(String, Long, Long)].collect().toSet
      assert(out == Set(
        ("en", 10L, 1L), ("en", 20L, 2L),   // doc 30 over quota, doc 5 too
        ("fr", 1L, 1L), ("fr", 2L, 2L)),    // doc 3 over quota
        s"got $out")
    } finally q.stop()
  }

  test("quota admission budget survives a checkpoint restart (no double-spend)") {
    implicit val sqlCtx = spark.sqlContext
    useRocksDB()
    val ckpt = checkpoint()
    // foreachBatch, not the memory sink: only sinks with replayable commit
    // semantics support recovering from a checkpoint.
    val admitted =
      scala.collection.mutable.Set.empty[(String, Long, Long)]
    def start(in: MemoryStream[LDoc]) =
      StreamingOps.quotaAdmissionStream(spark, in.toDF(), quota = 2)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[StreamingOps.Admission], _: Long) =>
            ds.collect().foreach { a =>
              admitted += ((a.lang, a.doc_id, a.admitted_rank))
            }
        }
        .start()
    // Run 1 spends one of the two budget slots, then the query STOPS.
    val in1 = MemoryStream[LDoc]
    val q1 = start(in1)
    try {
      in1.addData(LDoc("en", 10))
      q1.processAllAvailable()
    } finally q1.stop()
    // Run 2 over the same checkpoint: the recovered counter must admit
    // exactly ONE more doc — a reset-to-zero state store would admit two
    // (double-spending the quota), the operational bug this guards.
    val in2 = MemoryStream[LDoc]
    in2.addData(LDoc("en", 10)) // sacrificial offset-aligning batch (skipped)
    val q2 = start(in2)
    try {
      in2.addData(LDoc("en", 20), LDoc("en", 30))
      q2.processAllAvailable()
      assert(admitted.toSet == Set(("en", 10L, 1L), ("en", 20L, 2L)),
        s"expected one pre-restart admission + one post-restart: $admitted")
    } finally q2.stop()
  }

  test("streaming top-k leaderboard converges to the batch aggregate's view") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KIS]
    useRocksDB()
    val board = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, Double)]]
    val q = startLeaderboard(in, checkpoint(), board)
    try {
      in.addData(KIS(1, 1, 5.0), KIS(1, 2, 7.0), KIS(1, 3, 6.0), KIS(2, 5, 1.0))
      q.processAllAvailable()
      // key 1's leaderboard after batch 1: the state must already be bounded.
      assert(board(1L) == Seq((1L, 2L, 7.0), (2L, 3L, 6.0)), s"got ${board(1L)}")
      in.addData(KIS(1, 4, 8.0), KIS(3, 6, 2.0), KIS(3, 7, 2.0))
      q.processAllAvailable()
      // key 1: new leader inserted, old rank-2 evicted from the k=2 state.
      assert(board(1L) == Seq((1L, 4L, 8.0), (2L, 2L, 7.0)), s"got ${board(1L)}")
      // key 2: untouched by batch 2 — its batch-1 leaderboard stands.
      assert(board(2L) == Seq((1L, 5L, 1.0)), s"got ${board(2L)}")
      // key 3: tie on score breaks by smaller id (the shared rank contract).
      assert(board(3L) == Seq((1L, 6L, 2.0), (2L, 7L, 2.0)), s"got ${board(3L)}")
      // Lambda parity: the final leaderboards equal the batch graft_topk
      // recomputed over everything the stream ever saw (same buffer code).
      graft.plans.VectorFunctions.register(spark)
      val allRows = Seq(
        KIS(1, 1, 5.0), KIS(1, 2, 7.0), KIS(1, 3, 6.0), KIS(2, 5, 1.0),
        KIS(1, 4, 8.0), KIS(3, 6, 2.0), KIS(3, 7, 2.0)).toDF()
      val batch = allRows.groupBy("user_id")
        .agg(expr("graft_topk(value, event_id, 2)").as("top"))
        .select(col("user_id"), posexplode(col("top")).as(Seq("pos", "x")))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (k, rows) =>
          k -> rows.sortBy(_.getInt(1)).map { r =>
            val e = r.getStruct(2)
            (r.getInt(1) + 1L, e.getLong(1), e.getDouble(0))
          }.toSeq
        }
      assert(batch == board.toMap, s"stream $board vs batch $batch")
    } finally q.stop()
  }

  test("streaming first-sightings match the batch per-user MIN(day) (q115 twin)") {
    implicit val sqlCtx = spark.sqlContext
    useRocksDB()
    val in = MemoryStream[Ev]
    val q = StreamingOps.firstSightingsStream(spark, in.toDF())
      .writeStream.format("memory").queryName("sightings")
      .option("checkpointLocation", checkpoint())
      .outputMode("update").start()
    val b1 = Seq(
      Ev(1, ts("2024-01-02 10:00:00"), 1, "click", 1.0),
      // Same user twice in one batch, later day first in the sequence: the
      // sighting must still be the MIN day.
      Ev(2, ts("2024-01-03 09:00:00"), 2, "click", 1.0),
      Ev(3, ts("2024-01-01 08:00:00"), 2, "view", 1.0))
    val b2 = Seq(
      Ev(4, ts("2024-01-04 10:00:00"), 1, "click", 1.0), // user 1 returns: no row
      Ev(5, ts("2024-01-05 11:00:00"), 3, "signup", 1.0))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val stream = spark.table("sightings")
        .select("user_id", "day").as[(Long, java.sql.Date)].collect().toSet
      // Batch twin: q115's `firsts` relation (per-user MIN day) over
      // everything the stream ever saw.
      val batch = Set(
        (1L, java.sql.Date.valueOf("2024-01-02")),
        (2L, java.sql.Date.valueOf("2024-01-01")),
        (3L, java.sql.Date.valueOf("2024-01-05")))
      assert(stream == batch, s"stream $stream vs batch $batch")
      // Re-sighted users emit exactly once across all batches.
      assert(stream.size == 3)
    } finally q.stop()
  }
}

/** Top-level (not nested in the suite): product encoders for classes used
  * in BOTH directions need no outer-instance pointer this way — an inner
  * class fails ResolveNewInstance on the deserializer side. */
case class KIS(user_id: Long, event_id: Long, value: Double)

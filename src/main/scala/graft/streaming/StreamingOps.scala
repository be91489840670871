package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.J, A5-A8): the lambda speed layer.
  *
  * The reference consumes Kafka; no Kafka jar ships in this container
  * (SURVEY §7.6), so sources are file-replay (`Trigger.AvailableNow` over the
  * same event log the batch layer reads — Kreps' unification argument) and
  * `MemoryStream` in tests. Every transform below is source-agnostic: point
  * `spark.readStream.format("kafka")...` at it unchanged when a broker
  * exists.
  *
  * All operators keep bounded state: watermarks expire window/dedup/session
  * state, and the stateful op uses explicit timeouts — the requirement for
  * an unbounded 100 TB/day stream.
  */
object StreamingOps {

  /** Schema the file-replay source declares: derived from the batch footer
    * read of the SAME file, never hardcoded. Round 6: a literal
    * `ts: LongType` here survived the fixture's TIMESTAMP(NANOS)→µs regen
    * and silently mis-declared the column, breaking replay≡batch parity —
    * deriving keeps one source of truth (Tables.normalizeEventTs then
    * canonicalizes both paths identically). The footer read itself is the
    * memoized `Tables.eventsRaw` relation — repeated `fileReplay` calls in
    * one session reuse its file index instead of re-listing (round-7
    * ADVICE). */
  def eventsRawSchema(spark: SparkSession, dir: String): StructType =
    graft.sources.Tables.eventsRaw(spark, dir).schema

  /** A5 substitute: streaming replay of the event-log parquet.
    * FileStreamSource requires a DIRECTORY of files (it models an
    * append-only log dir, the file-system analogue of a Kafka topic), so the
    * single test file is staged into a fresh temp dir via symlink. The link
    * and the dir are removed when the JVM exits (the link first: exit-time
    * deletes run in reverse registration order); the returned stream reads
    * them until then. */
  def fileReplay(spark: SparkSession, dir: String): DataFrame = {
    val raw = eventsRawSchema(spark, dir)
    val stage = java.nio.file.Files.createTempDirectory("graft-replay")
    stage.toFile.deleteOnExit()
    java.nio.file.Files.createSymbolicLink(
      stage.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet")).toFile.deleteOnExit()
    // Shared conversion = the replay-equals-batch parity guarantee.
    graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(raw).parquet(stage.toString))
  }

  /** J1/J4: event-time tumbling window aggregate with late-data drop. */
  def tumblingCounts(events: DataFrame, win: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("cents"))

  /** J2: sliding window variant. */
  def slidingCounts(events: DataFrame, win: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** J3: session window (streaming twin of batch q28_sessionization). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("cents"))

  /** J5: exactly-once-ish ingest — drop duplicate event_ids within the
    * watermark horizon (bounded dedup state). */
  def dedupe(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  final case class UserState(user_id: Long, n: Long, last_us: Long)

  /** J6: arbitrary stateful processing — running per-user aggregate kept in
    * the state store across micro-batches (the role Kudu plays for the
    * reference's speed layer). ProcessingTimeTimeout would expire idle users
    * in production; tests use NoTimeout for determinism. */
  def statefulUserCounts(spark: SparkSession, events: DataFrame): Dataset[UserState] = {
    import spark.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("us")).as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[UserState]) =>
          var agg = state.getOption.getOrElse(UserState(uid, 0L, 0L))
          rows.foreach { case (_, us) =>
            agg = UserState(uid, agg.n + 1, math.max(agg.last_us, us))
          }
          state.update(agg)
          Iterator.single(agg)
      }
  }

  /** J6 (Spark 4 API): the same running per-user aggregate implemented with
    * transformWithState — the successor to flatMapGroupsWithState, with
    * named state variables, TTL support, and timer callbacks. TimeMode.None
    * keeps tests deterministic; production would use event-time timers +
    * a TTLConfig to expire idle users. */
  class RunningUserStats extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), UserState] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[UserState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[UserState]("agg",
        org.apache.spark.sql.Encoders.product[UserState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserState] = {
      var agg = if (st.exists()) st.get() else UserState(key, 0L, 0L)
      rows.foreach { case (_, us) =>
        agg = UserState(key, agg.n + 1, math.max(agg.last_us, us))
      }
      st.update(agg)
      Iterator.single(agg)
    }
  }

  /** J6 via transformWithState (see [[RunningUserStats]]). */
  def statefulUserCountsTws(spark: SparkSession, events: DataFrame): Dataset[UserState] = {
    import spark.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("us")).as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningUserStats,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class Admission(lang: String, doc_id: Long, admitted_rank: Long)

  /** Streaming twin of q91's quota selection: per-language admission control
    * with the remaining budget kept in the state store. Each language admits
    * documents until its quota is exhausted — across micro-batches — and
    * over-quota documents are dropped (the batch layer's exact hash-ranked
    * pick, q91, remains the authority; this is the speed-layer gate that
    * stops an over-represented language from flooding a live ingest).
    *
    * Within one micro-batch the shuffle delivers a key's rows in arbitrary
    * order, so each (language, batch) slice admits in doc_id order — the
    * buffer is bounded by one key's share of one micro-batch, and replays
    * of the same batch admit identically (determinism for tests and
    * checkpoint recovery). State per key is a single long. */
  class QuotaAdmission(quota: Long) extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long), Admission] {
    @transient private var used: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      used = getHandle.getValueState[Long]("used",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(lang: String, rows: Iterator[(String, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Admission] = {
      var u = if (used.exists()) used.get() else 0L
      val out = Seq.newBuilder[Admission]
      rows.map(_._2).toArray.sorted.foreach { docId =>
        if (u < quota) { u += 1; out += Admission(lang, docId, u) }
      }
      used.update(u)
      out.result().iterator
    }
  }

  /** Quota admission over a (lang, doc_id) document stream (see
    * [[QuotaAdmission]]). */
  def quotaAdmissionStream(spark: SparkSession, docs: DataFrame,
      quota: Long): Dataset[Admission] = {
    import spark.implicits._
    docs.select(col("lang"), col("doc_id")).as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new QuotaAdmission(quota),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class TopEntry(key: Long, rank: Long, id: Long, score: Double)

  /** Streaming twin of q105's top-k aggregate: a per-key running top-k
    * leaderboard in the state store, maintained with the SAME
    * [[graft.plans.TopKBuffer]] (and its serde) the batch aggregate uses —
    * the speed-layer view converges to exactly what the batch graft_topk
    * recomputes, by construction. State per key is one k-bounded byte
    * blob; each batch re-emits the key's full current top-k (Update mode:
    * the sink's latest emission per key wins). */
  class TopKLeaderboard(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Double), TopEntry] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Array[Byte]]("topk",
        org.apache.spark.sql.Encoders.BINARY,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Double)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TopEntry] = {
      val buf =
        if (st.exists()) graft.plans.TopKBuffer.fromBytes(st.get())
        else new graft.plans.TopKBuffer(k)
      rows.foreach { case (_, id, score) => buf.offer(score, id) }
      st.update(graft.plans.TopKBuffer.toBytes(buf))
      graft.plans.TopKBuffer.sortedEntries(buf).iterator.zipWithIndex.map {
        case ((score, id), pos) => TopEntry(key, pos + 1L, id, score)
      }
    }
  }

  /** Running top-k per key over a (key, id, score) stream (see
    * [[TopKLeaderboard]]). */
  def topKStream(spark: SparkSession, rows: DataFrame, k: Int,
      keyCol: String = "user_id", idCol: String = "event_id",
      scoreCol: String = "value"): Dataset[TopEntry] = {
    import spark.implicits._
    rows.select(col(keyCol), col(idCol), col(scoreCol))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new TopKLeaderboard(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class Sighting(user_id: Long, day: java.sql.Date)

  /** Streaming twin of q115's new-user detection: emits each user exactly
    * once, at first sight, tagged with the (event-time) day of that first
    * sighting. Per-user state is ONE boolean — bounded by user cardinality,
    * not event volume — and deliberately has no watermark/TTL: expiring it
    * would re-count a returning user, which is exactly what "new" must
    * never do (the batch layer's per-user MIN(day) has the same
    * all-of-history scope). Downstream daily rollups / the cumulative curve
    * are stateless views over this stream.
    *
    * Lambda caveat (like curationStream's): "first" is first in ARRIVAL
    * order. Within one micro-batch the sighting day is the MIN event day,
    * but a LATE event arriving in a later batch with an earlier day does
    * not retract the already-emitted sighting — the batch layer's exact
    * MIN(day) recomputation (q115) is the correction path, which is the
    * lambda division of labor. */
  class FirstSighting
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Date), Sighting] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Date)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Sighting] =
      if (seen.exists()) Iterator.empty
      else {
        // Within one micro-batch the iterator order is arbitrary: the
        // sighting day is the MIN event day, like the batch MIN(day).
        val first = rows.map(_._2).minBy(_.getTime)
        seen.update(true)
        Iterator.single(Sighting(key, first))
      }
  }

  /** First-sighting stream over events with a `ts` column (see
    * [[FirstSighting]]). */
  def firstSightingsStream(spark: SparkSession,
      events: DataFrame): Dataset[Sighting] = {
    import spark.implicits._
    events
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .select(col("user_id"), col("day"))
      .as[(Long, java.sql.Date)]
      .groupByKey(_._1)
      .transformWithState(new FirstSighting,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** J7: enrichment join of a stream against a static dimension table. */
  def streamStaticJoin(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key))

  /** J8: stream-stream join — purchases correlated with errors by the same
    * user within 5 minutes after; both sides watermarked so join state is
    * bounded. */
  def purchaseErrorJoin(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val e = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("e_id"))
      .withWatermark("e_ts", "1 hour")
    p.join(e, col("p_user") === col("e_user") &&
      col("e_ts") >= col("p_ts") &&
      col("e_ts") <= col("p_ts") + expr("INTERVAL 5 MINUTES"))
  }

  /** Streaming twin of the batch curation pipeline (q83): quality gates +
    * exact-dedup on the content fingerprint as documents arrive. Dedup is
    * first-seen-wins within the watermark horizon
    * (`dropDuplicatesWithinWatermark`): later copies are DROPPED rather than
    * emitted with an `exact_dup` reason — that is the state-bounded
    * streaming semantic (fingerprint state expires with the watermark, so a
    * 100 TB/day feed never accumulates unbounded dedup state; cross-horizon
    * dups are the batch layer's job, cf. q83).
    *
    * The dedup key is (fp, reason), not fp alone: like q83's gate-passing
    * canonical, a gate-FAILING first copy must not suppress a later
    * gate-passing duplicate — otherwise the group loses every member. And
    * because fp hashes the distinct-token SET (token counts and n_chars
    * don't feed it), two same-fp docs can fail DIFFERENT gates (too_short
    * vs weird_shape); keying on the concrete reason keeps one audit row per
    * distinct failure mode instead of collapsing them to first-seen.
    * Expects columns: doc_id, ts (event time), text, n_chars. */
  def curationStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // Round through decimal(18,6) exactly like batch q83 so the two
      // pipelines classify boundary values identically.
      .withColumn("mean_tok_len",
        (col("n_chars").cast("double") / col("n_tokens"))
          .cast("decimal(18,6)").cast("double"))
      .withColumn("fp",
        md5(concat_ws(" ", sort_array(array_distinct(col("toks")))).cast("binary")))
      .withColumn("reason",
        when(col("n_tokens") < 5, "too_short")
          .when(col("mean_tok_len") > 10, "weird_shape")
          .otherwise("ok"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp", "reason")
      .withColumn("keep", col("reason") === "ok")
      .select("doc_id", "n_tokens", "fp", "reason", "keep")

  /** A7/J10: Kudu-style keyed upsert serving sink — each micro-batch merges
    * into a parquet "serving table": union(existing, batch) → keep the
    * newest row per key. Atomic via write-to-tmp + directory swap. */
  def upsertSink(stream: DataFrame, target: String, checkpoint: String,
      keyCol: String, versionCol: String, tiebreakCol: String): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, target, keyCol, versionCol, tiebreakCol)
      }
      .start()

  /** The merge itself (also the A7 batch exhibit, cf. q47_upsert_merge).
    *
    * Filesystem discipline: every path operation goes through the TARGET's
    * Hadoop FileSystem (resolved from the path URI — a java.io.File check
    * would see hdfs:///s3a:// targets as "absent" and wipe history every
    * batch, and FileSystem.get(conf) would operate on the default FS, not
    * the target's). The swap is crash-safe: current table moves ASIDE to
    * .bak (never deleted before the new data is in place), the new data
    * renames in, then the backup is dropped; a replayed batch after a crash
    * finds either the table or the backup and merges against it.
    *
    * Cost per call, which runs on every micro-batch (no-data ones too):
    *  - The stored table is read with the schema from ONE data file's
    *    footer, read on the driver ([[storedSchema]]), so no schema
    *    inference job runs. The stored schema, never `batch.schema`: the
    *    union must still fail on any column mismatch instead of
    *    null-filling a column the table lacks.
    *  - The merge has exactly one exchange, sized from the stored table:
    *    ceil(stored bytes / spark.sql.files.maxPartitionBytes) partitions
    *    hashed on `keyCol`, which the window's clustering then reuses. The
    *    rewrite's file count follows the table size, so a few hundred rows
    *    make one file and a large table files of about one read split
    *    each, rather than spark.sql.shuffle.partitions files of arbitrary
    *    size (AQE, which would coalesce them, is off in the micro-batches
    *    of a stateful query). The first write, with no stored table, keeps
    *    the window's default partitioning. */
  def upsertBatch(batch: DataFrame, target: String, keyCol: String,
      versionCol: String, tiebreakCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(target)
    val fs = dst.getFileSystem(conf)
    val bak = new org.apache.hadoop.fs.Path(target + ".bak")
    val tmp = new org.apache.hadoop.fs.Path(target + ".tmp")
    // Crash recovery: a previous run may have died between moving the table
    // aside and renaming the new version in — the backup is then the truth.
    val sourcePath =
      if (fs.exists(dst)) Some(dst)
      else if (fs.exists(bak)) Some(bak)
      else None
    val input = sourcePath match {
      case Some(src) =>
        val splitBytes = spark.sessionState.conf.filesMaxPartitionBytes
        val bytes = fs.getContentSummary(src).getLength
        val parts = math.max(1L, (bytes + splitBytes - 1) / splitBytes)
          .min(Int.MaxValue).toInt
        spark.read.schema(storedSchema(spark, fs, src)).parquet(src.toString)
          .unionByName(batch)
          .repartition(parts, col(keyCol))
      case None => batch
    }
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col(tiebreakCol).desc)
    val merged = input
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    merged.write.mode("overwrite").parquet(tmp.toString)
    // Hadoop FileSystem.rename reports failure via its RETURN VALUE, not an
    // exception — an unchecked rename (quota, permissions, a concurrent
    // writer recreating the destination) would let the batch report success
    // while the sink keeps serving the previous table, and the trailing
    // backup delete could then drop the only up-to-date copy's parent. A
    // failed swap must fail the micro-batch loudly so the streaming engine
    // retries it against the intact on-disk state.
    if (fs.exists(dst)) {
      // delete() also reports failure via its return value; a stale .bak
      // here makes the next rename fail, so surface the real cause.
      if (!fs.delete(bak, true) && fs.exists(bak))
        throw new java.io.IOException(
          s"upsert swap: failed to clear stale backup $bak")
      if (!fs.rename(dst, bak))
        throw new java.io.IOException(
          s"upsert swap: failed to move current table $dst aside to $bak")
    }
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"upsert swap: failed to move new table $tmp into place at $dst")
    // The swap is complete; a surviving .bak is not fatal for THIS batch,
    // but a silently-kept stale backup would be merged as truth if dst is
    // later lost out-of-band — so a refused delete must at least be loud.
    if (!fs.delete(bak, true) && fs.exists(bak))
      System.err.println(
        s"[upsertBatch] WARNING: swap succeeded but stale backup $bak " +
          "could not be deleted; remove it manually or the next crash " +
          "recovery may merge against stale data")
  }

  /** Schema of the parquet table at `dir`, converted from the footer of its
    * first data file (`_`/`.`-prefixed files are metadata, markers or
    * checksums) by Spark's own footer-to-schema path, which is what a
    * non-merging `spark.read.parquet` infers from. Runs on the driver and
    * reads only the footer: no Spark job. */
  private def storedSchema(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val file = fs.listStatus(dir).iterator.find { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.getOrElse(throw new java.io.IOException(
      s"upsert: stored table $dir holds no data file"))
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
        file, spark.sparkContext.hadoopConfiguration),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}

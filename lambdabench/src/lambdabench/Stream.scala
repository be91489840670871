package lambdabench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.StreamingOps

/** The `stream` workload: the speed and serving layers.
  *
  * A seeded event log is cut into chunks, one parquet file each. Chunks are
  * released one at a time into the directory a file-stream source reads
  * (one file per trigger), closed loop: chunk k+1 is released only after
  * chunk k's result is readable in both serving tables and a read of the
  * merged batch ∪ speed view (the q48 shape) has returned. Two queries run:
  * `tumblingCounts` and `dedupe` → `statefulUserCountsTws`
  * (transformWithState), each merged into a serving table with
  * `upsertBatch`. (`dedupe` cannot feed `tumblingCounts`: both define the
  * watermark, and Spark refuses a redefinition.) No sleeps or extra threads
  * sit on the measured path.
  *
  * The log carries out-of-order events (every chunk is shuffled), late
  * events (delayed four to six chunks: at least three hours of event time,
  * so behind the one-hour watermark under any per-batch watermark rule,
  * window ends included) and duplicate event ids (in the same chunk, or
  * late like the late events). The final serving tables must equal a batch
  * recompute: window counts over the on-time rows, user counts over their
  * first arrivals. */
object Stream {

  final case class Event(id: Long, us: Long, user: Long, kind: String, cents: Long,
      natural: Int)

  final case class Log(history: Seq[Event], chunks: IndexedSeq[Seq[Event]]) {
    /** Rows delivered in their own chunk, repeats included: what the window
      * counts see once the watermark has dropped the late rows. */
    lazy val onTime: Seq[Event] =
      chunks.zipWithIndex.flatMap { case (c, k) => c.filter(_.natural == k) }
    /** First arrivals among the on-time rows: what survives `dedupe`. */
    lazy val accepted: Seq[Event] = {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      onTime.filter(e => seen.add(e.id))
    }
    lazy val dropped: Int = chunks.map(_.size).sum - accepted.size
  }

  val HourUs = 3600L * 1000000L
  val DayUs = 24 * HourUs
  /** 2024-01-11 00:00 UTC: the log starts here; history is the ten days before. */
  val StartUs = 1704931200000000L
  val Users = 300
  val Kinds = IndexedSeq("view", "view", "view", "click", "click", "purchase", "signup", "error")
  val HistoryEvents = 4000
  val LateShare = 0.04
  val DupShare = 0.03
  val WarmChunks = 1
  /** Timed chunks per run, at about 3.5 s each (commit and read) on 4 cores. */
  val TimedChunks = 6

  def generate(seed: Long, nChunks: Int): Log = {
    val r = new Random(seed)
    var id = 0L
    def event(us: Long, natural: Int): Event = {
      id += 1
      Event(id, us, r.nextInt(Users).toLong, Kinds(r.nextInt(Kinds.size)),
        1 + r.nextInt(50000), natural)
    }
    val history = (0 until HistoryEvents)
      .map(_ => StartUs - 10 * DayUs + (r.nextDouble() * 10 * DayUs).toLong).sorted
      .map(event(_, -1))
    // Each chunk spans 90 to 180 minutes of event time with 40 to 120 events,
    // so two chunks always cover more than the watermark delay plus a window.
    var t = StartUs
    val natural = (0 until nChunks).map { k =>
      val span = (90 + r.nextInt(91)) * 60L * 1000000L
      val evs = (0 until 40 + r.nextInt(81))
        .map(_ => t + (r.nextDouble() * span).toLong).sorted.map(event(_, k))
      t += span
      evs
    }
    val arrival = Array.fill(nChunks)(ArrayBuffer.empty[Event])
    def later(k: Int): Int = k + 4 + r.nextInt(3)
    natural.zipWithIndex.foreach { case (evs, k) =>
      evs.foreach { e =>
        val late = later(k)
        arrival(if (r.nextDouble() < LateShare && late < nChunks) late else k) += e
        if (r.nextDouble() < DupShare) {
          val again = if (r.nextBoolean()) later(k) else k
          arrival(if (again < nChunks) again else k) += e
        }
      }
    }
    Log(history, arrival.toIndexedSeq.map(a => r.shuffle(a.toSeq)))
  }

  private def frame(spark: SparkSession, evs: Seq[Event], chunked: Seq[Int]): DataFrame = {
    import spark.implicits._
    evs.zip(chunked).map { case (e, c) =>
      (e.id, e.us, e.user, e.kind, e.cents / 100.0, s"""{"k": ${e.id % 100}}""", c)
    }.toDF("event_id", "us", "user_id", "event_type", "value", "props", "chunk")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"), col("chunk"))
  }

  private def bytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** One replay's on-disk state and running queries. */
  final class Replay(spark: SparkSession, log: Log, dir: Path) {
    val staged: Path = dir.resolve("staged")
    val source: Path = dir.resolve("source")
    val serving: Path = dir.resolve("serving")
    @volatile var upsertNs = 0L
    @volatile var upsertBytes = 0L
    val progress = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

    private val progressListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e }
    }

    // Stage every chunk as one parquet file, and the batch layer's view of
    // the history, before any query starts.
    frame(spark, log.chunks.flatten, log.chunks.zipWithIndex.flatMap { case (c, k) => c.map(_ => k) })
      .coalesce(1).write.partitionBy("chunk").parquet(staged.toString)
    frame(spark, log.history, log.history.map(_ => -1))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("cents"))
      .write.parquet(dir.resolve("batch_view").toString)
    Files.createDirectories(source)
    spark.streams.addListener(progressListener)

    private val schema = spark.read.parquet(staged.toString).drop("chunk").schema
    private def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(source.toString)

    private def sink(df: DataFrame, name: String, key: String, version: String,
        tiebreak: String): StreamingQuery =
      df.writeStream.queryName(name).outputMode("update")
        .option("checkpointLocation", dir.resolve("checkpoint-" + name).toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val t0 = System.nanoTime()
          val target = serving.resolve(name)
          StreamingOps.upsertBatch(batch, target.toString, key, version, tiebreak)
          upsertNs += System.nanoTime() - t0
          upsertBytes += bytes(target)
        }.start()

    val queries: Seq[StreamingQuery] = Seq(
      sink(StreamingOps.tumblingCounts(src)
        .withColumn("k", concat_ws("|", col("win_start").cast("string"), col("event_type"))),
        "counts", "k", "n", "cents"),
      sink(StreamingOps.statefulUserCountsTws(spark, StreamingOps.dedupe(src)).toDF(),
        "users", "user_id", "n", "last_us"))

    private val LogOffset = """"logOffset"\s*:\s*(\d+)""".r

    /** Files the query has committed: one past the file source's last
      * committed log offset, read from the progress the query reports. */
    private def committedFiles(q: StreamingQuery): Long =
      q.recentProgress.reverseIterator.flatMap(_.sources.headOption)
        .flatMap(s => Option(s.endOffset)).flatMap(LogOffset.findFirstMatchIn)
        .map(_.group(1).toLong + 1).nextOption().getOrElse(0L)

    /** Releases chunk k and returns once both serving tables hold it. */
    def release(k: Int): Unit = {
      val part = Files.list(staged.resolve(s"chunk=$k")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      part.foreach(p => Files.move(p, source.resolve(f"chunk-$k%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE))
      queries.foreach { q =>
        while (committedFiles(q) < k + 1) q.processAllAvailable()
      }
    }

    def chunkBytes(k: Int): Long = bytes(source.resolve(f"chunk-$k%05d.parquet"))

    /** The merged serving view: the batch layer's daily view of history
      * unioned with the speed layer's windows rolled up per day. */
    def read(): Array[Row] = {
      val speed = spark.read.parquet(serving.resolve("counts").toString)
        .groupBy(to_date(col("win_start")).as("day"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
      spark.read.parquet(dir.resolve("batch_view").toString).unionByName(speed)
        .groupBy("day").agg(sum(col("n")).cast("long").as("n"),
          sum(col("cents")).cast("long").as("cents"))
        .orderBy("day").collect()
    }

    def stop(): Unit = {
      queries.foreach(_.stop())
      spark.streams.removeListener(progressListener)
    }
  }

  /** The three replay == batch checks; returns the names that failed. */
  def check(spark: SparkSession, replay: Replay, log: Log, view: Array[Row]): Seq[String] = {
    val acc = log.accepted
    val counts = log.onTime.groupBy(e => (e.us - Math.floorMod(e.us, HourUs), e.kind))
      .map { case (k, es) => k -> (es.size.toLong, es.map(_.cents).sum) }
    val gotCounts = spark.read.parquet(replay.serving.resolve("counts").toString)
      .select(unix_micros(col("win_start")), col("event_type"), col("n"), col("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val users = acc.groupBy(_.user).map { case (u, es) => u -> (es.size.toLong, es.map(_.us).max) }
    val gotUsers = spark.read.parquet(replay.serving.resolve("users").toString)
      .select("user_id", "n", "last_us").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val days = (log.history ++ log.onTime).groupBy(e => Math.floorDiv(e.us, DayUs))
      .map { case (d, es) => d -> (es.size.toLong, es.map(_.cents).sum) }
    val gotDays = view.map(r =>
      r.getDate(0).toLocalDate.toEpochDay -> (r.getLong(1), r.getLong(2))).toMap
    Seq("counts" -> (counts == gotCounts), "users" -> (users == gotUsers),
      "serving_view" -> (days == gotDays)).collect { case (n, false) => n }
  }

  def run(env: Env): Result = {
    val log = generate(env.seed, WarmChunks + TimedChunks)
    var attempted = 0L
    var failed = 0L

    // Set-up, from JVM start: session start, staging the log, starting both
    // queries and an untimed replay of the first chunk.
    val spark = env.session()
    // transformWithState keeps several column families per operator, which
    // only the RocksDB state store supports.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val replay = new Replay(spark, log, Paths.get(env.work, "replay"))
    (0 until WarmChunks).foreach { k => replay.release(k); replay.read() }
    val setup = Main.sinceJvmStart()

    val sc = spark.sparkContext
    val spans = new Spans(env.trace)
    val listener = new LayerListener(spans)
    val lat = ArrayBuffer.empty[Double]
    val reads = ArrayBuffer.empty[Double]
    var view: Array[Row] = Array.empty
    var inputBytes = 0L

    System.gc()
    Probe.resetHeapPeak()
    val gc0 = (Probe.gcCount(), Probe.gcMs())
    val progress0 = replay.progress.synchronized(replay.progress.size)
    val u0 = (replay.upsertNs, replay.upsertBytes)
    if (env.trace) sc.addSparkListener(listener)
    val c0 = Probe.cpuNs()
    val t0 = System.nanoTime()
    (WarmChunks until WarmChunks + TimedChunks).foreach { k =>
      val span = spans.begin("stream.chunk", 0L, k)
      sc.setLocalProperty("lambdabench.op", k.toString)
      sc.setLocalProperty("lambdabench.span", span.toString)
      val a = System.nanoTime()
      attempted += 1
      try spans.around("streaming.commit", span, k)(replay.release(k))
      catch { case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[lambdabench] FAILED chunk $k: $e")
      }
      val b = System.nanoTime()
      attempted += 1
      try view = spans.around("serving.read", span, k)(replay.read())
      catch { case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[lambdabench] FAILED read after chunk $k: $e")
      }
      val c = System.nanoTime()
      spans.end(span)
      lat += (b - a) / 1e6
      reads += (c - b) / 1e6
      inputBytes += replay.chunkBytes(k)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Probe.cpuNs() - c0) / 1e9
    val gc1 = (Probe.gcCount(), Probe.gcMs())
    org.apache.spark.lambdabench.ListenerDrain(sc)
    sc.removeSparkListener(listener)
    val upserts = (replay.upsertNs - u0._1, replay.upsertBytes - u0._2)
    val wrong = check(spark, replay, log, view)
    attempted += 1
    if (wrong.nonEmpty) {
      failed += 1
      System.err.println(s"[lambdabench] WRONG OUTPUT stream: ${wrong.mkString(", ")} " +
        "differ from the batch recompute")
    }
    val progress = replay.progress.synchronized(replay.progress.drop(progress0).toList)
    replay.stop()

    val latMs = lat.toSeq
    val metrics =
      if (!env.trace) Seq(
        Metric("setup_s", setup, "s", 1),
        Metric("wall_s", wall, "s", 1),
        Metric("cpu_s", cpu, "s", 1),
        Metric("latency_geomean_ms", Stats.geomean(latMs), "ms", latMs.size))
      else {
        spans.write(Paths.get(env.spans))
        def dur(k: String) = progress.map(p =>
          Option(p.progress.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
        val last = progress.groupBy(_.progress.id).values.map(_.last.progress.stateOperators)
        Layers.stream(listener, spans, wall, gc1._2 - gc0._2, Map(
          "streaming.addBatch_ms" -> dur("addBatch"),
          "streaming.queryPlanning_ms" -> dur("queryPlanning"),
          "streaming.walCommit_ms" -> dur("walCommit"),
          "streaming.latestOffset_ms" -> dur("latestOffset"),
          "streaming.state_rows" -> last.flatten.map(_.numRowsTotal).sum.toDouble,
          "streaming.state_mb" -> last.flatten.map(_.memoryUsedBytes).sum / 1048576.0,
          "streaming.rows_dropped_late" ->
            progress.flatMap(_.progress.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble,
          "serving.upsert_ms" -> upserts._1 / 1e6,
          "serving.write_amp" -> upserts._2.toDouble / math.max(1L, inputBytes),
          "serving.read_ms" -> reads.sum), latMs.size)
      }
    val context = Seq(
      "workload" -> "\"stream\"", "chunks" -> TimedChunks.toString,
      "events" -> log.chunks.map(_.size).sum.toString,
      "late_or_repeated" -> log.dropped.toString,
      "read_geomean_ms" -> Stats.geomean(reads.toSeq).toString,
      "chunk_ms" -> lat.map(x => f"$x%.0f").mkString("[", ",", "]"),
      "read_ms" -> reads.map(x => f"$x%.0f").mkString("[", ",", "]"),
      "gc_count" -> (gc1._1 - gc0._1).toString, "gc_ms" -> (gc1._2 - gc0._2).toString,
      "cores" -> env.cores.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
    spark.stop()
    Result(attempted, failed, metrics, context)
  }
}

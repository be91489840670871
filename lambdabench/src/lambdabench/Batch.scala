package lambdabench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** The batch workloads: one closed-loop pass, from one thread, over a panel
  * of registered queries. `tabular` holds every query that reads neither
  * `documents` nor `embeddings`; `corpus` holds the rest and drops the
  * session cache before the pass, so the pass pays index training, dedup
  * clustering and mask checkpoints as a refresh over new data does. The
  * seed sets the query order within the pass, which decides which queries
  * pay for shared session-cache builds and which reuse them. */
object Batch {

  /** Fixed untimed warm-up run in every set-up: the same queries, in the
    * same order, whatever the seed. */
  val Warmup: Map[String, Seq[String]] = Map(
    "tabular" -> Seq("q01_pricing_summary"),
    "corpus" -> Seq("q43_cosine_neardup"))

  /** A pass times every n-th query of its panel in name order (19 of 75
    * `tabular`, 20 of 59 `corpus`), about 20 s of work either way. The first
    * execution of a query in a JVM costs about 0.8-1.1 s here, most of it
    * JIT and code generation, so a whole panel per run would not fit the
    * run budget. */
  val Stride: Map[String, Int] = Map("tabular" -> 4, "corpus" -> 3)

  /** Host-speed ticks ([[Probe.tick]]) taken before and after the pass, for
    * the context line only: they run inside the program's JVM, so JIT and
    * GC threads still busy there stretch them too. */
  val TickReps = 3

  final case class Op(name: String, latencyNs: Long, cpuNs: Long, buildNs: Long,
      ok: Boolean, phases: Map[String, Long], exchanges: Int)

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(df: DataFrame): Int =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case _: ShuffleExchangeLike => 1
        case _: BroadcastExchangeLike => 1
      }.size
  }

  /** Builds, executes and fingerprints one registered query. Only build and
    * execution are timed; the fingerprint is computed from the same
    * materialised rows afterwards. */
  def op(spark: SparkSession, env: Env, pin: Pin, spans: Spans, opId: Long,
      parent: Long): Op = {
    val span = spans.begin("op:" + pin.name, parent, opId)
    spark.sparkContext.setLocalProperty("lambdabench.op", opId.toString)
    spark.sparkContext.setLocalProperty("lambdabench.span", span.toString)
    val t0 = System.nanoTime()
    val c0 = Probe.cpuNs()
    try {
      val df = spans.around("operators.build", span, opId) {
        graft.SparkEntry.queries(pin.name)(spark, env.data)
      }
      val t1 = System.nanoTime()
      val rows = spans.around("spark.execute", span, opId)(df.collect())
      val t2 = System.nanoTime()
      val c1 = Probe.cpuNs()
      val got = spans.around("verify", span, opId)(Fingerprint.of(rows, pin.print.ordered))
      val ok = got == pin.print
      if (!ok)
        System.err.println(s"[lambdabench] WRONG OUTPUT ${pin.name} (${pin.label}): " +
          s"expected ${pin.print}, got $got")
      val phases =
        if (!spans.enabled) Map.empty[String, Long]
        else df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
      Op(pin.name, t2 - t0, c1 - c0, t1 - t0, ok, phases,
        if (spans.enabled) Plans.exchanges(df) else 0)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[lambdabench] FAILED ${pin.name}: $e")
        Op(pin.name, System.nanoTime() - t0, Probe.cpuNs() - c0, 0L, ok = false,
          Map.empty, 0)
    } finally spans.end(span)
  }

  def run(env: Env, workload: String, expected: Expected): Result = {
    expected.checkCoverage(graft.Registry.all.map(_.name))
    val panel = expected.panel(workload).zipWithIndex
      .collect { case (n, i) if i % Stride(workload) == 0 => expected.pins(n) }
    val warmup = Warmup(workload).map(expected.pins)
    require(warmup.forall(_.panel == workload), s"warm-up leaves the $workload panel")
    var attempted = 0L
    var failed = 0L
    def count(o: Op): Op = {
      attempted += 1
      if (!o.ok) failed += 1
      o
    }

    // Set-up, from JVM start: session start, table open (inside the warm-up
    // query) and the fixed warm-up.
    val spark = env.session()
    warmup.foreach(p => count(op(spark, env, p, new Spans(false), 0L, 0L)))
    if (workload == "corpus") graft.SessionCache.invalidateMemoized(spark)
    val setup = Main.sinceJvmStart()
    val order = new Random(env.seed).shuffle(panel)

    // The timed region: one pass. Trace mode runs the same pass, in the same
    // order, with the layer listener attached and spans recorded.
    val sc = spark.sparkContext
    val spans = new Spans(env.trace)
    val listener = new LayerListener(spans)
    if (env.trace) sc.addSparkListener(listener)
    System.gc()
    val ticks = Seq.fill(TickReps)(Probe.tick())
    Probe.resetHeapPeak()
    val gc0 = (Probe.gcCount(), Probe.gcMs(), Probe.jitMs())
    val passSpan = spans.begin("pass", 0L, 0L)
    val ops = order.zipWithIndex.map { case (p, j) =>
      count(op(spark, env, p, spans, j + 1L, passSpan))
    }
    spans.end(passSpan)
    val gc1 = (Probe.gcCount(), Probe.gcMs(), Probe.jitMs())
    val host = ticks ++ Seq.fill(TickReps)(Probe.tick())
    val wall = ops.map(_.latencyNs).sum / 1e9
    val lat = ops.map(_.latencyNs / 1e6)
    val metrics =
      if (env.trace) {
        org.apache.spark.lambdabench.ListenerDrain(sc)
        sc.removeSparkListener(listener)
        spans.write(java.nio.file.Paths.get(env.spans))
        Layers.batch(ops, listener, spans, gc1._2 - gc0._2)
      } else Seq(
        Metric("setup_s", setup, "s", 1),
        Metric("wall_s", wall, "s", 1),
        Metric("cpu_s", ops.map(_.cpuNs).sum / 1e9, "s", 1),
        Metric("latency_geomean_ms", Stats.geomean(lat), "ms", lat.size))
    val context = Seq(
      "workload" -> s""""$workload"""",
      "tick_s" -> Stats.median(host.map(_._1)).toString,
      "cpu_tick_s" -> Stats.median(host.map(_._2)).toString,
      "panel_size" -> panel.size.toString,
      "gc_count" -> (gc1._1 - gc0._1).toString, "gc_ms" -> (gc1._2 - gc0._2).toString,
      "jit_ms" -> (gc1._3 - gc0._3).toString, "cores" -> env.cores.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
    spark.stop()
    Result(attempted, failed, metrics, context)
  }

  def heapPeakMb(): Double = {
    val peak = Probe.heapPeakBytes()
    val now = Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
    (if (peak > 0) peak else now) / 1048576.0
  }
}

/** The per-layer metrics, as BENCHMARK.json lists them. Every workload
  * prints all of them; a layer it never calls into reads 0 (the batch
  * panels start no streaming query, `stream` calls no registry function). */
object Layers {
  private val MB = 1048576.0

  private val common: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.task_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "sources.scan_mb" -> "MB",
    "spark.gc_ms" -> "ms", "spark.peak_exec_mem_mb" -> "MB", "jvm.heap_peak_mb" -> "MB",
    "trace.wall_s" -> "s", "trace.hook_ms" -> "ms", "trace.overhead_pct" -> "%")

  private val batchNames: Seq[(String, String)] = Seq(
    "operators.build_ms" -> "ms", "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "plans.exchanges" -> "count") ++ common

  private val streamNames: Seq[(String, String)] = common ++ Seq(
    "streaming.addBatch_ms" -> "ms", "streaming.queryPlanning_ms" -> "ms",
    "streaming.walCommit_ms" -> "ms", "streaming.latestOffset_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.rows_dropped_late" -> "count", "serving.upsert_ms" -> "ms",
    "serving.write_amp" -> "ratio", "serving.read_ms" -> "ms")

  val names: Seq[(String, String)] = (batchNames ++ streamNames).distinct

  /** All layer metrics: `values` must hold exactly the workload's own. */
  private def complete(own: Seq[(String, String)], values: Map[String, Double],
      samples: Int): Seq[Metric] = {
    require(values.keySet == own.map(_._1).toSet,
      s"layer metrics out of step: ${values.keySet} vs ${own.map(_._1)}")
    names.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u, samples) }
  }

  private def engine(l: LayerListener, wallS: Double, gcMs: Long): Map[String, Double] = Map(
    "spark.jobs" -> l.jobs.get.toDouble, "spark.stages" -> l.stages.get.toDouble,
    "spark.tasks" -> l.tasks.get.toDouble,
    "spark.driver_gap_s" -> math.max(0.0, wallS - l.busyMs() / 1e3),
    "spark.task_s" -> l.taskMs.get / 1e3,
    "spark.shuffle_read_mb" -> l.shuffleRead.get / MB,
    "spark.shuffle_write_mb" -> l.shuffleWrite.get / MB,
    "spark.spill_mb" -> l.spill.get / MB, "sources.scan_mb" -> l.scan.get / MB,
    "spark.gc_ms" -> gcMs.toDouble, "spark.peak_exec_mem_mb" -> l.peakExecMem.get / MB,
    "jvm.heap_peak_mb" -> Batch.heapPeakMb())

  /** The traced run's own wall time, which compares directly with `wall_s`
    * of an untraced run of the same seed, and the time spent in the tracing
    * hooks themselves (listener callbacks and span bookkeeping), also as a
    * share of that wall time. */
  private def overhead(l: LayerListener, spans: Spans, wallS: Double): Map[String, Double] = Map(
    "trace.wall_s" -> wallS,
    "trace.hook_ms" -> (l.hookNs.get + spans.hookNs.get) / 1e6,
    "trace.overhead_pct" -> 100 * (l.hookNs.get + spans.hookNs.get) / 1e9 / wallS)

  def batch(ops: Seq[Batch.Op], l: LayerListener, spans: Spans, gcMs: Long): Seq[Metric] = {
    val wall = ops.map(_.latencyNs).sum / 1e9
    def phase(k: String) = ops.map(_.phases.getOrElse(k, 0L)).sum.toDouble
    complete(batchNames, engine(l, wall, gcMs) ++ overhead(l, spans, wall) ++ Map(
      "operators.build_ms" -> ops.map(_.buildNs).sum / 1e6,
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "plans.exchanges" -> ops.map(_.exchanges).sum.toDouble),
      ops.size)
  }

  def stream(l: LayerListener, spans: Spans, wallS: Double, gcMs: Long,
      layers: Map[String, Double], chunks: Int): Seq[Metric] =
    complete(streamNames, engine(l, wallS, gcMs) ++ overhead(l, spans, wallS) ++ layers, chunks)
}

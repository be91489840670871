package lambdabench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One metric as printed: value, unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric],
    context: Seq[(String, String)]) {
  def correct: Boolean = failed == 0
}

/** Settings shared by every session a run builds. Each run gets fresh
  * temp, checkpoint and serving directories under `work`, removed by the
  * launcher afterwards. */
final class Env(val work: String, val data: String, val seed: Long,
    val seconds: Int, val trace: Boolean, val spans: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lambdabench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoint")
    s
  }
}

/** Entry point. Modes:
  *   run (default)  --workload tabular|corpus|stream --seed N --seconds S --trace 0|1
  *   record         --out FILE   pins the panel's output fingerprints
  *   selftest                    the benchmark's own checks
  * Every mode also takes --data DIR and --work DIR. A run prints a detail
  * line and, last, the result line; it exits 1 on any wrong output. */
object Main {
  /** BENCHMARK.json's `run_seconds`: one pass (batch) or [[Stream.TimedChunks]]
    * chunks (`stream`) take about this long on a 4-core host. */
  val RunSeconds = 20

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val env = new Env(opt("work"), opt("data"), opts.getOrElse("seed", "1").toLong,
      opts.getOrElse("seconds", RunSeconds.toString).toInt, opts.getOrElse("trace", "0") == "1",
      opts.getOrElse("spans", opt("work") + "/spans.jsonl"))
    opts.getOrElse("mode", "run") match {
      case "record" => Record.run(env, opt("out"))
      case "selftest" => sys.exit(SelfTest.run(env, Expected.load(opt("expected"))))
      case "run" =>
        require(env.seconds == RunSeconds,
          s"a run measures a fixed amount of work sized for --seconds $RunSeconds")
        val result = opt("workload") match {
          case w @ ("tabular" | "corpus") => Batch.run(env, w, Expected.load(opt("expected")))
          case "stream" => Stream.run(env)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        emit(result, env.trace)
        sys.exit(if (result.correct) 0 else 1)
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else v.toString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def emit(r: Result, trace: Boolean): Unit = {
    val samples = r.metrics.map(m => s"${str(m.name)}:${m.samples}").mkString("{", ",", "}")
    val ctx = r.context.map { case (k, v) => s"${str(k)}:$v" }.mkString(",")
    println(s"""{"detail":{"trace":$trace,"samples":$samples,$ctx}}""")
    val metrics = r.metrics.map(m =>
      s"""${str(m.name)}:{"value":${num(m.value)},"unit":${str(m.unit)}}""")
      .mkString("{", ",", "}")
    println(s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},"metrics":$metrics}""")
    System.out.flush()
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def writeLines(path: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), lines.asJava)
  }
}

/** The pinned panel: for every registered query its workload, whether the
  * DuckDB oracle covers it, whether its output order is defined, and the
  * fingerprint of its output on the benchmark's tables. */
final case class Pin(name: String, panel: String, label: String,
    print: Fingerprint.Print)

final case class Expected(pins: Map[String, Pin]) {
  def panel(w: String): Seq[String] = pins.values.filter(_.panel == w).map(_.name).toSeq.sorted

  /** Every registered query sits in exactly one batch panel. Fails the run
    * when the program's registry and the pinned panels disagree. */
  def checkCoverage(registered: Seq[String]): Unit = {
    val dup = registered.diff(registered.distinct)
    val missing = registered.toSet -- pins.keySet
    val stale = pins.keySet -- registered.toSet
    if (dup.nonEmpty || missing.nonEmpty || stale.nonEmpty)
      throw new IllegalStateException(
        s"panel coverage broken: duplicated=${dup.mkString(",")} " +
          s"unpinned=${missing.toSeq.sorted.mkString(",")} " +
          s"pinned-but-unregistered=${stale.toSeq.sorted.mkString(",")}")
  }
}

object Expected {
  val Header = "name\tpanel\tlabel\tordered\trows\tdigest"

  def line(p: Pin): String =
    Seq(p.name, p.panel, p.label, p.print.ordered, p.print.rows, p.print.digest).mkString("\t")

  def load(path: String): Expected = {
    val rows = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && l != Header)
    Expected(rows.map { l =>
      val Array(n, panel, label, ordered, count, digest) = l.split("\t")
      n -> Pin(n, panel, label, Fingerprint.Print(count.toLong, ordered.toBoolean, digest))
    }.toMap)
  }
}

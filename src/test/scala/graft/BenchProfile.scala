package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The same-JVM warm-repetition profiler for any query at any scale factor
  * (`$SPARK_GRAFT_SF_DIR`, default sf0.1), in the EXACT session Bench.main
  * builds (local[$SPARK_GRAFT_CPUS], shuffle.partitions=cpus, ANSI pinned).
  *
  *   sbt "Test/runMain graft.BenchProfile q130_basket_pairs q133_dedup_roi"
  *   SPARK_GRAFT_CPUS=16 sbt "Test/runMain graft.BenchProfile --reps=7 --fresh q130_basket_pairs"
  *
  * One line per rep: wall s; build_ms, the DataFrame's construction
  * (memoized indexes and driver fast paths run their jobs there); the
  * Catalyst phase ms of the query executions that actually ran, summed
  * over every action of the rep; Spark jobs, completed stages, tasks and
  * task seconds. Rep 0 also lists each job with the call site that started
  * it. Then the min and median wall per query. Not part of the test suite.
  *
  * --fresh invalidates the session memo cache before every rep (q78/q133
  * otherwise ride the cached cluster relation after rep 0).
  *
  * --ab=key=value interleaves an A/B in one JVM (same JIT state, same host
  * window): even reps on the session default, odd reps with the conf set.
  * Separate JVMs read 0.395/0.459/0.631 s medians for the same q01.
  */
object BenchProfile {

  private val Columns = Seq("analysis_ms", "optimization_ms", "planning_ms",
    "jobs", "stages", "tasks", "task_ms")

  /** [[Columns]] since the last reset. With `itemize` set, a line per job,
    * named after its SQL action (AQE submits stages from pool threads, whose
    * call site says nothing), else after its result stage. */
  private final class Counters extends SparkListener with QueryExecutionListener {
    val n: Map[String, AtomicLong] = Columns.map(_ -> new AtomicLong).toMap
    val jobLines = new ConcurrentSkipListMap[Int, String]
    @volatile var itemize = false
    private val actions = new ConcurrentHashMap[Long, String]
    private def add(k: String, v: Long): Unit = { n(k).addAndGet(v); () }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => actions.put(s.executionId, s.description)
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      if (itemize) jobLines.put(j.jobId, f"job=${j.jobId}%4d stages=${j.stageIds.size}%2d " +
        f"tasks=${j.stageInfos.map(_.numTasks).sum}%4d  " + Option(j.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(actions.get(id.toLong)))
          .getOrElse(j.stageInfos.maxBy(_.stageId).name))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      if (t.taskInfo != null) add("task_ms", t.taskInfo.duration)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (k, p) => n.get(k + "_ms").foreach(_.addAndGet(p.durationMs)) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The middle-two mean on even counts: the upper-middle sample alone
    * biases high under one-sided host noise. */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def main(args: Array[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("--"))
    def flag(k: String): Option[String] =
      flags.collectFirst { case f if f.startsWith(s"--$k=") => f.drop(k.length + 3) }
    val reps = flag("reps").map(_.toInt).getOrElse(7)
    val fresh = flags.contains("--fresh")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val ab = flag("ab").map { kv =>
      val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1))
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    // --ab drops each arm's rep 0, so it needs two reps a query.
    if (names.isEmpty || unknown.nonEmpty || reps < (if (ab.isDefined) 2 else 1)) {
      System.err.println(s"bad --reps=$reps, or unknown or missing queries: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.ansi.enabled",
        sys.props.getOrElse("spark.sql.ansi.enabled", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val c = new Counters
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    // Bench's exact warm-up set.
    Seq("q01_pricing_summary", "q03_top_revenue_orders",
      "q13_top_orders_per_customer", "q35_word_freq", "q28_sessionization",
      "q38_doc_fingerprint", "q46_array_functions", "q43_cosine_neardup")
      .foreach(n => SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count())
    org.apache.spark.graft.ListenerDrain(sc)
    // Arm A restores the value the SESSION was built with: unset() on a
    // builder-pinned key would run it on Spark's global default instead.
    val abBaseline = ab.map { case (k, _) => spark.conf.getOption(k) }
    def restoreA(k: String): Unit = abBaseline.flatten match {
      case Some(orig) => spark.conf.set(k, orig)
      case None => spark.conf.unset(k)
    }
    names.foreach { q =>
      val samples = (0 until (if (ab.isDefined) reps * 2 else reps)).map { i =>
        val armB = ab.isDefined && i % 2 == 1
        ab.foreach { case (k, v) =>
          if (armB) spark.conf.set(k, v) else restoreA(k)
        }
        if (fresh) SessionCache.invalidateMemoized(spark)
        c.n.values.foreach(_.set(0)); c.jobLines.clear(); c.itemize = i == 0
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dir)
        val t1 = System.nanoTime()
        df.count()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graft.ListenerDrain(sc)
        val arm = if (ab.isEmpty) "" else if (armB) " B" else " A"
        println(f"[bprof] $q%-28s rep=$i%-2d$arm wall=$wall%6.3f " +
          f"build_ms=${(t1 - t0) / 1e6}%.0f " + Columns.map { k =>
            if (k == "task_ms") f"task_s=${c.n(k).get / 1e3}%.2f" else s"$k=${c.n(k).get}"
          }.mkString(" "))
        c.jobLines.values.asScala.foreach(l => println(s"[bprof]   $l"))
        (wall, armB)
      }
      ab.foreach { case (k, _) => restoreA(k) }
      def line(tag: String, ss: Seq[(Double, Boolean)]): Unit = {
        val walls = ss.map(_._1)
        println(f"[bprof] $q%-28s$tag min=${walls.min}%6.3f med=${median(walls)}%6.3f " +
          f"all=${walls.map(w => f"$w%.2f").mkString(",")}")
      }
      if (ab.isDefined) {
        // Drop each arm's first sample: rep 0 carries first-touch costs
        // (codegen, file listing) that would bias arm A.
        line(" A", samples.filter(!_._2).drop(1))
        line(" B", samples.filter(_._2).drop(1))
      } else line("", samples)
    }
    spark.stop()
  }
}

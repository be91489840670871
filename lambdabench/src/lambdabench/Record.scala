package lambdabench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Pins the batch panels: runs every registered query once on a fresh
  * session cache, assigns it to `corpus` when any SQL execution it caused
  * (its eager driver-side work included) scanned `documents` or
  * `embeddings` and to `tabular` otherwise, and records its output
  * fingerprint. Run it only on a program whose outputs have passed the
  * DuckDB oracle; the file it writes is what every run checks against. */
object Record {

  private final class Scans extends SparkListener {
    val plans = ArrayBuffer.empty[String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { plans += s.physicalPlanDescription }
      case _ =>
    }
  }

  def run(env: Env, out: String): Unit = {
    val spark = env.session()
    val scans = new Scans
    spark.sparkContext.addSparkListener(scans)
    val oracled = graft.SparkEntry.oracleSql.keySet
    val pins = graft.Registry.all.map(_.name).sorted.map { name =>
      graft.SessionCache.invalidateMemoized(spark)
      org.apache.spark.lambdabench.ListenerDrain(spark.sparkContext)
      scans.synchronized(scans.plans.clear())
      val df = graft.SparkEntry.queries(name)(spark, env.data)
      val rows = df.collect()
      org.apache.spark.lambdabench.ListenerDrain(spark.sparkContext)
      val corpus = scans.synchronized(scans.plans.exists(p =>
        p.contains("/documents.parquet") || p.contains("/embeddings.parquet")))
      val pin = Pin(name, if (corpus) "corpus" else "tabular",
        if (oracled(name)) "oracle" else "no_oracle",
        Fingerprint.of(rows, Fingerprint.ordered(df)))
      System.err.println(s"[record] ${Expected.line(pin)}")
      pin
    }
    Main.writeLines(out, Expected.Header +: pins.map(Expected.line))
    spark.stop()
  }
}

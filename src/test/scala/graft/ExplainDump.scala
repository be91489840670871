package graft

/** Regenerates EXPLAINS.md — formatted physical plans for EVERY declared
  * query, kept in-repo as plan-quality evidence (a 100×-scale plan audit
  * starts from these dumps). Run:
  * `sbt "Test/runMain graft.ExplainDump"`. */
object ExplainDump {
  def main(a: Array[String]): Unit = {
    val spark = TestSpark.spark
    val dir = "/root/testdata/sf0.01"
    val names = Registry.all.map(_.name).sorted
    val sb = new StringBuilder
    sb.append("# EXPLAINS — formatted physical plans (generated by ExplainDump)\n\n")
    sb.append("Regenerate with `sbt \"Test/runMain graft.ExplainDump\"` after\n")
    sb.append("changing any of these queries. Things to check per plan: filters\n")
    sb.append("inside `PushedFilters`, pruned `ReadSchema`, `BroadcastHashJoin` on\n")
    sb.append("dimension joins, partial+final `HashAggregate`, `*(n)` codegen\n")
    sb.append("stage fusion markers.\n")
    names.foreach { n =>
      sb.append(s"\n## $n\n\n```\n")
      sb.append(Registry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/EXPLAINS.md"), sb.toString)
    println(s"EXPLAINS.md written (${names.size} plans)")
    // No spark.stop(): TestSpark.spark is suite-shared; Test/runMain forks,
    // so JVM exit cleans it up.
  }
}

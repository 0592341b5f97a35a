package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Diagnostic main: per registered query, how many separate file scans
  * of each testdata table appear in the physical plan. A table scanned
  * more than once in one query is a candidate for a shared
  * (checkpointed) branch — the waste class fixed for the graph family's
  * events scan — though self-joins (dedup pair generation) legitimately
  * read a table's derivative twice. Run:
  * `runMain graft.PlanAudit /root/testdata/sf0.001 [minCount]`
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val minCount = if (args.length > 1) args(1).toInt else 2
    val spark = BenchSession.build()
    spark.sparkContext.setLogLevel("ERROR")

    def scans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      (plan.collect {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.getName)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      }).flatten

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val counts = scans(fn(spark, sfDir).queryExecution.executedPlan)
          .groupBy(identity).view.mapValues(_.size)
          .filter(_._2 >= minCount).toMap
        if (counts.nonEmpty)
          println(s"$name: " + counts.toSeq.sorted
            .map { case (t, n) => s"$t x$n" }.mkString(", "))
      } catch {
        case e: Throwable => println(s"$name: PLAN-ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared harness plumbing for the timing mains ([[Bench]], [[BenchOne]],
  * [[ScalingCurve]], [[ProfileQuery]]) and the correctness and plan
  * mains ([[Verify]], [[PlanAudit]]): one definition of the session
  * configuration, the untimed warm-up, the between-queries hygiene and
  * the per-sample timing step. Their numbers are only comparable
  * because these are identical — and a config change (codegen cache
  * size, a new required conf) or a change to what a sample measures
  * must land once, not once per main.
  */
object BenchSession {
  /** Local cores and shuffle partitions: `SPARK_GRAFT_CPUS`, else
    * every processor the JVM may use. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def build(): SparkSession = {
    val c = cpus
    val spark = SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The generated-class cache defaults to 100 entries; the query
      // surface x several codegen stages evicts every class between
      // rounds, so the wide sketch aggregates (60-64 buffers, seconds
      // of janino compile each) were recompiling once per round —
      // measured as a stable +10s that no profiling of the query alone
      // reproduced. Static conf: must be set before the first session.
      .config("spark.sql.codegen.cache.maxEntries", "2000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One untimed action: JVM/classloader/codegen warm-up otherwise
    * lands on whichever query runs first and distorts it by seconds. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try SparkEntry.queries.get("q01_pricing_summary")
      .foreach(fn => fn(spark, sfDir).count())
    catch { case _: Throwable => () }

  /** Between queries: the queries are independent, so drop any pinned
    * RDDs (the sketch operators' localCheckpoints) — letting one
    * query's blocks pressure the next one's execution memory distorts
    * numbers — and reclaim outliving scratch dirs (the streaming
    * queries' sink dirs), so repeated reps don't accumulate a staged
    * copy of events per invocation. */
  def dropPinnedBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    graft.sources.Scratch.sweep(spark)
  }

  /** One timing sample, the only one every timing main takes: drop
    * pinned blocks, then time a `count()` of `fn(spark, sfDir)` in
    * seconds. `None` = the query threw (reported on stderr under
    * `label`); a crash must NOT contribute a small positive wall time
    * that makes a bench look healthy. */
  def timeFn(spark: SparkSession, sfDir: String, label: String,
      fn: (SparkSession, String) => DataFrame): Option[Double] = {
    dropPinnedBlocks(spark)
    val t0 = System.nanoTime()
    val ok =
      try { fn(spark, sfDir).count(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label failed: ${e.getMessage}")
        false
      }
    if (ok) Some((System.nanoTime() - t0) / 1e9) else None
  }
}

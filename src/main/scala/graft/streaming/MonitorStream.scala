package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.quality.DataQuality

/** Streaming data-quality monitor — the q138 rule-assertion suite
  * evaluated continuously: each micro-batch's violation counts land
  * as one timeline row per rule under `monitorDir/batch=<id>`
  * (overwritten on replay — the same idempotent per-batch-partition
  * sink as the CMS partials), giving the quality dashboard its time
  * axis for free. Because every rule is an algebraic sum, the
  * timeline AGGREGATES to exactly the batch suite over the same data
  * — the equivalence the spec asserts; an alerting layer reads the
  * per-batch rows instead (a rule that was always-zero suddenly
  * spiking is the page, and it is invisible in the corpus total).
  */
object MonitorStream {

  /** Drain `dropDir` with AvailableNow, appending one rule-count row
    * set per micro-batch under `monitorDir/batch=<id>`. */
  def monitorAvailableNow(spark: SparkSession, dropDir: String,
      monitorDir: String, checkpoint: String): Unit = {
    Drain.run(EventStream.readEventStream(spark, dropDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DataQuality.assertionSuite(withRuleColumns(batch))
          .write.mode("overwrite")
          .parquet(s"$monitorDir/batch=$batchId")
        ()
      }, checkpoint)
  }

  /** Normalize a stream batch for the rule suite: derive `ts_ms` and
    * null-fill columns a leaner stream schema lacks (a missing column
    * then reads as all-violating or all-passing per its rule — drift
    * surfaces in the counts instead of crashing the monitor). */
  def withRuleColumns(batch: DataFrame): DataFrame = {
    val withTs = batch.withColumn("ts_ms", unix_millis(col("ts")))
    if (withTs.columns.contains("props")) withTs
    else withTs.withColumn("props", lit(null).cast("string"))
  }

  /** Rows each monitored batch lands under `batch=<id>` (the
    * assertion-suite output — [[ruleTotals]] is plannable against a
    * footer-only stub of this schema; the `batch=` partition column is
    * never referenced). */
  val sinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("rule", StringType),
      StructField("n_rows", LongType),
      StructField("n_violations", LongType)))
  }

  /** The rule totals across every monitored batch — equals the batch
    * suite over the union of the drops (asserted in StreamingSpec).
    * Doubles as q145's post-drain read-back. */
  def ruleTotals(spark: SparkSession, monitorDir: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(monitorDir)
      .groupBy("rule")
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_violations")).as("n_violations"),
        // one timeline row per micro-batch per rule — the batch count
        // is the proof the totals came through the stream, not one
        // monolithic pass
        count(lit(1)).as("n_batches"))
      .orderBy("rule")

  /** Drop files and files-per-trigger for [[monitorTimelineQuery]].
    * The oracle's `n_batches` literal is ceil(DropFiles /
    * FilesPerTrigger) — [[monitorTimelineOracleSql]] derives it from
    * these constants, and the query `require`s the actual batch count
    * so a fixture too small to fill every round-robin partition (an
    * empty partition writes no JSON file) fails loudly instead of
    * hash-mismatching. */
  val DropFiles = 6
  val FilesPerTrigger = 2

  /** q145: the streaming monitor driven end-to-end at the QUERY
    * surface — the events table is staged as a JSONL drop, drained
    * through a real `writeStream` (file source, `maxFilesPerTrigger`
    * forces multiple micro-batches, `foreachBatch` lands one
    * rule-count row set per batch), and the returned frame is the
    * batch-timeline aggregate. Because every rule is an algebraic sum,
    * the totals equal the batch assertion suite over the same events —
    * which is exactly what the DuckDB oracle recomputes from the raw
    * table, so the driver's hash check covers the streaming path, not
    * just the unit-level batch≡stream equivalences.
    *
    * The drop carries `ts_ms` (epoch millis) rather than a raw
    * timestamp so the JSON round-trip is exact-integer; `value`
    * round-trips via Jackson's shortest-repr doubles. Staging, drain,
    * and cleanup live in [[EventStream.stageAndDrain]] (shared with
    * q149); per-call temp dirs give the stream a fresh checkpoint, so
    * the full drop is processed on every invocation. */
  def monitorTimelineQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // monitorDir outlives the call (the returned frame reads it
    // lazily), so it goes on the Scratch ledger: resolved through the
    // configurable scratch root's Hadoop filesystem — reachable from
    // executors on a cluster — and reclaimed by the next sweep instead
    // of accumulating per verify/bench rep.
    val monitorDir = graft.sources.Scratch.dirOutliving(spark, "q145_mon")
    val staged = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("user_id"),
        col("props"), unix_millis(col("ts")).as("ts_ms"))
    val dropSchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("user_id", LongType),
      StructField("props", StringType),
      StructField("ts_ms", LongType)))
    EventStream.stageAndDrain(spark, staged, dropSchema,
      DropFiles, FilesPerTrigger, "q145")(
      _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        DataQuality.assertionSuite(batch)
          .write.mode("overwrite")
          .parquet(s"$monitorDir/batch=$batchId")
        ()
      })
    val expectedBatches =
      (DropFiles + FilesPerTrigger - 1) / FilesPerTrigger
    val got = spark.read.schema(sinkSchema).parquet(monitorDir)
      .select("rule").distinct().count()
    // count batches from the SINK side (one batch=N dir per
    // foreachBatch call) — this is the evidence the totals arrived
    // through multiple micro-batches, independent of stream progress.
    // Listed through the dir's own Hadoop FileSystem: a java.io.File
    // listing is wrong the moment the scratch root isn't driver-local.
    val monPath = new org.apache.hadoop.fs.Path(monitorDir)
    val batches = monPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(monPath)
      .count(_.getPath.getName.startsWith("batch="))
    require(got > 0 && batches == expectedBatches,
      s"q145 staged $DropFiles drop files but streamed $batches " +
        s"micro-batches (expected $expectedBatches) — fixture too " +
        "small to fill every drop partition?")
    ruleTotals(spark, monitorDir)
  }

  /** DuckDB oracle for [[monitorTimelineQuery]]: the batch assertion
    * suite plus the deterministic micro-batch count —
    * ceil([[DropFiles]] / [[FilesPerTrigger]]) batches, derived from
    * the same constants the query stages with (and `require`d against
    * the actual stream), so a hash match certifies both the rule
    * totals AND that the data arrived through multiple streaming
    * batches. */
  def monitorTimelineOracleSql: String = {
    val nBatches = (DropFiles + FilesPerTrigger - 1) / FilesPerTrigger
    s"""SELECT rule, n_rows, n_violations,
         CAST($nBatches AS BIGINT) AS n_batches
       FROM (""" + DataQuality.assertionSuiteOracleSql + """)
       ORDER BY rule"""
  }
}

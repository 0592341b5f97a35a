package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Watermark LATE-DATA accounting (q243) — the one streaming semantic
  * the other drained queries deliberately avoid: what happens to rows
  * that arrive AFTER the watermark has passed their window. q145/q218/
  * q229/q238 all stage arrivals so nothing is ever late (their claims
  * are about state carry, dedup, join buffering, offset continuation);
  * this query stages a three-wave arrival schedule with deterministic
  * STRAGGLERS — rows whose event time belongs to an earlier wave — and
  * hash-checks the windowed aggregate that survives.
  *
  * The semantics the oracle replays are Spark's DUAL watermark
  * (SPARK-40925, the 3.4+ behavior, measured here empirically before
  * the oracle was written): within micro-batch k the LATE-ROW filter
  * uses the PREVIOUS batch's watermark (max event time over batches
  * ≤ k-2, minus the horizon) while state EVICTION at the end of batch
  * k uses the CURRENT one (batches ≤ k-1). A row one wave late
  * therefore always merges into still-open state — its window cannot
  * have been evicted yet — which is why the stragglers here arrive
  * TWO waves late: their windows closed a batch ago, the lagged
  * filter drops them, and append mode never emits a window twice.
  * The invariant that makes the oracle a pure GROUP BY: a row
  * accepted by the lagged filter always reaches state before its
  * window's eviction, so an emitted window's count is exactly its
  * accepted-row count.
  *
  * The DuckDB oracle replays that arithmetic from the batch table:
  * per-wave max event time; a wave-k row is dropped iff its window
  * end has passed the watermark over waves ≤ k-2; a window is emitted
  * iff its end has passed the FINAL watermark. This certifies the
  * full append-mode lifecycle — accept/merge, late-drop,
  * close-and-emit — not just the happy path, and [[lateAuditQuery]]
  * itself requires a nonzero `numRowsDroppedByWatermark` so the run
  * provably exercised the drop path rather than vacuously matching.
  *
  * Tie-safety: event times are floored to the second and offset by
  * 17 ms, so no event time, watermark (max - horizon), or hour-window
  * boundary can ever coincide — the oracle's replay is then identical
  * whether Spark's internal comparisons are strict or not.
  *
  * Scale shape: the operator under test is `withWatermark` + windowed
  * aggregation — state bounded by open windows × types, the canonical
  * streaming-agg posture. The single-partition row_number that builds
  * the ARRIVAL SCHEDULE is test scaffolding (production arrival order
  * comes from the source itself), not part of the operator.
  */
object LateStream {

  /** Watermark horizon (10 min) in ms. */
  val LateHorizonMs: Long = 600000L

  /** Tumbling window width (1 h) in ms. */
  val LateWindowMs: Long = 3600000L

  /** Every `event_id % 11 == 0` row arrives two waves late (capped at
    * the last wave) — two, not one, because of the lagged late filter
    * documented above. */
  val LateShiftMod: Long = 11L

  val lateSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType)))

  /** The arrival schedule: events in time-tertile waves, stragglers
    * (event_id % [[LateShiftMod]] == 0) shifted two waves later. */
  def stagedWaves(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("ts"), col("event_id"))
    events
      .select(col("event_id"), col("ts"), col("event_type"))
      .withColumn("ms",
        unix_timestamp(col("ts")) * lit(1000L) + lit(17L))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy()).cast("long"))
      .withColumn("wave", least(
        expr("(rn - 1) * 3 div n") +
          when(pmod(col("event_id"), lit(LateShiftMod)) === 0, 2)
            .otherwise(0), lit(2)).cast("int"))
      .select(col("event_id"), timestamp_millis(col("ms")).as("ts"),
        col("event_type"), col("wave"))
  }

  /** The windowed aggregate under test: hourly counts per type with a
    * 10-minute watermark; append mode emits a window only once it can
    * no longer change. */
  def windowedCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", s"${LateHorizonMs / 1000} seconds")
      .groupBy(window(col("ts"), s"${LateWindowMs / 1000} seconds"),
        col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(unix_millis(col("window.start")).as("window_ms"),
        col("event_type"), col("n"))

  /** q243: stage the three waves as one file each (mtime-pinned so the
    * file source replays them in wave order), drain through
    * [[windowedCounts]], and return the emitted windows. */
  def lateAuditQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q243_sunk")
    val drop = StagedDrops.shared(spark, "late_waves3", dir) { d =>
      val staged = stagedWaves(graft.sources.Tables.events(spark, dir))
        .localCheckpoint() // one schedule build, three filtered writes
      EventStream.stageWaveFiles(spark, staged,
        Seq("event_id", "ts", "event_type"), 3, d)
    }
    val progress = Drain.scratch(spark, "q243", 3, 1)(Drain.run(
      windowedCounts(
          spark.readStream.schema(lateSchema)
            .option("maxFilesPerTrigger", "1").json(drop))
        .writeStream.format("parquet").option("path", sunk), _))
    require(Drain.droppedByWatermark(progress) > 0,
      "q243 ran without dropping any late rows — the schedule no " +
        "longer exercises the watermark drop path")
    readBack(spark, sunk)
  }

  /** Rows the q243 drain lands (the windowed-count output). */
  val sinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("window_ms", LongType),
      StructField("event_type", StringType),
      StructField("n", LongType)))
  }

  /** q243's post-drain read-back — the emitted (closed) windows. */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .select(col("window_ms").cast("long"), col("event_type"),
        col("n").cast("long"))
      .orderBy("window_ms", "event_type")

  /** DuckDB oracle for [[lateAuditQuery]] — the dual-watermark
    * lifecycle replayed in SQL: per-wave max event time, drop-late
    * against the watermark two waves back (the lagged late filter),
    * emit against the final watermark. */
  def lateAuditOracleSql: String =
    s"""WITH e AS (SELECT event_id, ts, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 + 17 AS ms
         FROM events),
       r AS (SELECT *, row_number() OVER (ORDER BY ts, event_id) AS rn,
           count(*) OVER () AS n FROM e),
       w AS (SELECT event_id, ms, event_type,
           least((rn - 1) * 3 // n + CASE WHEN event_id % $LateShiftMod = 0
             THEN 2 ELSE 0 END, 2) AS wave
         FROM r),
       wmax AS (SELECT wave AS k, max(ms) AS mx FROM w GROUP BY 1),
       acc AS (SELECT * FROM w WHERE wave <= 1
           OR (ms // $LateWindowMs) * $LateWindowMs + $LateWindowMs >
              (SELECT max(mx) FROM wmax WHERE k <= w.wave - 2)
                - $LateHorizonMs),
       fin AS (SELECT max(ms) - $LateHorizonMs AS fwm FROM w)
     SELECT CAST((ms // $LateWindowMs) * $LateWindowMs AS BIGINT)
         AS window_ms,
       event_type, CAST(count(*) AS BIGINT) AS n
     FROM acc, fin
     WHERE (ms // $LateWindowMs) * $LateWindowMs + $LateWindowMs <= fwm
     GROUP BY 1, 2 ORDER BY 1, 2"""
}

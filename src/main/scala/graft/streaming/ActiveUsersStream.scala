package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming rolling distinct actives — the streaming twin of the
  * batch WAU curve (`Sessionize.rollingActive`, q92).
  *
  * Batch counts distinct users per 7-day window by exploding (user,
  * day) pairs; a stream cannot re-scan, so the idiomatic shape is two
  * chained stateful operators (Spark 3.5+ supports this combination):
  *
  *   1. `dropDuplicates(window, user)` — first touch per user per
  *      sliding window. State holds one entry per ACTIVE (window,
  *      user) inside the watermark horizon and is evicted as event
  *      time advances past each window — bounded by arrival-rate ×
  *      horizon × (windowDays slides), never by history length.
  *   2. windowed `count` — the per-window distinct total, emitted in
  *      append mode once the watermark closes the window.
  *
  * The sliding `window(ts, '7 days', '1 day')` generates the same ≤ 7
  * windows per event the batch explode materializes — the expand
  * shape, computed incrementally. Windows only FINALIZE (append-mode
  * emit) once the watermark passes their end, so a run over a bounded
  * drop emits exactly the windows ending at or before max(ts) -
  * horizon; the tail stays in state for the next trigger — asserted,
  * not worked around, in the equivalence spec.
  */
object ActiveUsersStream {

  /** Per-sliding-window distinct user counts over a watermarked event
    * stream. `day` is the last day each 7-day window covers (window
    * end is exclusive). Works identically on a batch frame (same
    * expression tree, no watermark semantics) — the equivalence the
    * spec asserts. */
  def activeUsers(events: DataFrame, windowDays: Int = 7,
      horizon: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .select(window(col("ts"), s"$windowDays days", "1 day").as("w"),
        col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy("w")
      .agg(count(lit(1)).as("active_users"))
      .select(
        date_format(date_sub(col("w.end").cast("date"), 1), "yyyy-MM-dd")
          .as("day"),
        col("active_users"))

  /** q255: the rolling-actives STREAM under oracle check (previously
    * unit-only) — the corpus staged as one drop with event times
    * floored to the second + 17 ms (so day-boundary window ends can
    * never tie with the watermark), drained through [[activeUsers]],
    * and the emitted curve matched against DuckDB's explode-and-
    * count-distinct over the original events restricted to windows
    * the final watermark closed (end ≤ max - 1 day). Certifies the
    * chained dropDuplicates → windowed-count pair (two state stores)
    * and the append-mode close rule on SLIDING windows — q243 pinned
    * it for tumbling. */
  def activeUsersQuery(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q255_sunk")
    val drop = StagedDrops.shared(spark, "events_sec17", dir) { d =>
      graft.sources.Tables.events(spark, dir)
        .select(col("event_id"),
          timestamp_millis(unix_timestamp(col("ts")) * lit(1000L) +
            lit(17L)).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(4).write.mode("overwrite").json(d)
    }
    // two state stores per partition (dedup + window) — the
    // [[StatePartitions]] loan cuts the per-batch store-commit
    // overhead; the (at most) 4 drop files fit one 16-file trigger
    Drain.scratch(spark, "q255", 4, 16)(
      activeUsersAvailableNow(spark, drop, sunk, _))
    readBack(spark, sunk)
  }

  /** Rows the q255 drain lands (the [[activeUsers]] output). */
  val sinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("day", StringType),
      StructField("active_users", LongType)))
  }

  /** q255's post-drain read-back — the emitted WAU curve. */
  def readBack(spark: org.apache.spark.sql.SparkSession,
      sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .select(col("day"), col("active_users").cast("long"))
      .orderBy("day")

  /** DuckDB oracle for [[activeUsersQuery]]: each event touches the 7
    * epoch-aligned sliding windows ending on days d+1..d+7; distinct
    * users per window; emitted iff the window end passed the final
    * watermark (max staged ms - 1 day). */
  def activeUsersOracleSql: String =
    """WITH e AS (SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 + 17 AS ms
         FROM events),
       fin AS (SELECT max(ms) - 86400000 AS fwm FROM e),
       p AS (SELECT DISTINCT user_id,
           ms // 86400000 + o AS end_day
         FROM e, range(1, 8) r(o)),
       w AS (SELECT end_day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
         FROM p GROUP BY 1)
     SELECT strftime(DATE '1970-01-01'
         + CAST(end_day - 1 AS BIGINT) * INTERVAL 1 DAY,
         '%Y-%m-%d') AS day,
       active_users
     FROM w, fin WHERE end_day * 86400000 <= fwm
     ORDER BY day"""

  /** Drive [[activeUsers]] over a drop directory with AvailableNow to
    * a parquet sink; returns after the run completes. */
  def activeUsersAvailableNow(spark: org.apache.spark.sql.SparkSession,
      dropDir: String, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    Drain.run(activeUsers(EventStream.readEventStream(spark, dropDir))
      .writeStream
      .format("parquet")
      .option("path", outDir), checkpointDir)
  }
}

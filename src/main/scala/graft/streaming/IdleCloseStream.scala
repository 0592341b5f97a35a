package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Idle-close per-user summaries via EVENT-TIME TIMERS and MapState
  * (q250) — the two `transformWithState` primitives q246 does not
  * touch. A user's per-event-type counts accumulate in a `MapState`
  * (one RocksDB entry PER TYPE, not one re-encoded blob — the reason
  * the API scales to wide per-key maps); every arrival re-arms an
  * event-time timer at `last_seen + idle`; when the watermark passes
  * the timer, `handleExpiredTimer` emits the summary rows and clears
  * the key — the push-based "key went quiet" primitive that windowed
  * aggregation cannot express and the q46 sessionizer approximates
  * with per-batch group iteration.
  *
  * Timer discipline pinned here (and by StreamingSpec): a new arrival
  * must DELETE the previously registered timer before re-arming —
  * otherwise the stale timer fires at its old expiry and emits a
  * premature summary. Expiry is checked against the end-of-batch
  * eviction watermark, so a user whose events straddle two batches
  * merges FIRST (input rows are processed before expiry checks) and
  * re-arms; mid-stream closes therefore happen only for users with no
  * later events, which is what makes the final answer independent of
  * WHERE the close fired: every emitted summary carries the user's
  * all-events totals.
  *
  * Oracle consequence: a user emits (exactly once) iff their LAST
  * event plus the idle gap has passed the final watermark; the rows
  * are their total per-type counts. Tie-safety: event times are
  * floored to the second so timers sit at .000 ms while watermarks
  * (horizon 600.5 s) sit at .500 ms — expiry comparisons never tie.
  */
object IdleCloseStream {

  /** Idle gap (2 h) in ms — a key quiet this long is closed. */
  val IdleMs: Long = 7200000L

  /** Watermark horizon: 600.5 s (q244's tie-dodge). */
  val IdleHorizonMs: Long = 600500L

  val idleSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("ts", TimestampType)))

  case class TypedEvent(user_id: Long, event_id: Long,
                        event_type: String, ms: Long)
  case class TypeSummary(user_id: Long, event_type: String, n: Long,
                         last_ms: Long)

  class IdleSummaryProcessor
      extends StatefulProcessor[Long, TypedEvent, TypeSummary] {
    @transient private var counts: MapState[String, Long] = _
    @transient private var lastSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      lastSeen = getHandle.getValueState[Long]("last_seen",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: TimerValues): Iterator[TypeSummary] = {
      val sorted = rows.toArray.sortBy(e => (e.ms, e.event_id))
      if (sorted.nonEmpty) {
        val prior = if (lastSeen.exists()) Some(lastSeen.get()) else None
        prior.foreach(p => getHandle.deleteTimer(p + IdleMs)) // dis-arm
        for (e <- sorted) {
          val n = if (counts.containsKey(e.event_type))
            counts.getValue(e.event_type) else 0L
          counts.updateValue(e.event_type, n + 1L)
        }
        // max against stored state: a batch of LATE rows (older than
        // the stored last-seen but inside the watermark horizon) must
        // not regress the idle clock and close the key early
        val last = math.max(sorted.last.ms, prior.getOrElse(Long.MinValue))
        lastSeen.update(last)
        getHandle.registerTimer(last + IdleMs)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TypeSummary] = {
      val last = lastSeen.get()
      val out = counts.iterator().toArray.sortBy(_._1)
        .map { case (t, n) => TypeSummary(key, t, n, last) }
      counts.clear()
      lastSeen.clear()
      out.iterator
    }
  }

  /** The transform under test, factored for spec reuse. */
  def idleSummaries(spark: SparkSession, stream: DataFrame): DataFrame = {
    import spark.implicits._
    stream
      .withWatermark("ts", s"$IdleHorizonMs milliseconds")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new IdleSummaryProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** q250: two median-split waves (q244's staging) drained through
    * [[idleSummaries]] on the RocksDB state store. */
  def idleCloseQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q250_sunk")
    val drop = EventStream.stageTypedSecondWaves(spark, dir)
    Drain.scratch(spark, "q250", 2, 1) { ck =>
      EventStream.withRocksDbProvider(spark) {
        Drain.run(idleSummaries(spark,
            spark.readStream.schema(idleSchema)
              .option("maxFilesPerTrigger", "1").json(drop))
          .writeStream.format("parquet").option("path", sunk), ck)
      }
    }
    readBack(spark, sunk)
  }

  /** Rows the q250 drain lands (the [[TypeSummary]] encoder layout). */
  val sinkSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("n", LongType),
    StructField("last_ms", LongType)))

  /** q250's post-drain read-back — the idle-closed summaries. */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .select(col("user_id").cast("long"), col("event_type"),
        col("n").cast("long"), col("last_ms").cast("long"))
      .orderBy("user_id", "event_type")

  /** DuckDB oracle for [[idleCloseQuery]]: a user emits iff their
    * last event + idle has passed the final watermark; rows are total
    * per-type counts with the user's last-seen ms. */
  def idleCloseOracleSql: String =
    s"""WITH e AS (SELECT user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ms
         FROM events),
       u AS (SELECT user_id, max(ms) AS last_ms FROM e GROUP BY 1),
       fin AS (SELECT max(ms) - $IdleHorizonMs AS fwm FROM e)
     SELECT e.user_id, e.event_type, CAST(count(*) AS BIGINT) AS n,
       u.last_ms
     FROM e JOIN u USING (user_id), fin
     WHERE u.last_ms + $IdleMs <= fwm
     GROUP BY e.user_id, e.event_type, u.last_ms
     ORDER BY e.user_id, e.event_type"""
}

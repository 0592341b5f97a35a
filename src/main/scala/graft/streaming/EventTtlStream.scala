package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** EVENT-TIME TTL via timers (q282) — the deterministic twin of q275's
  * processing-time TTL, completing the state-hygiene matrix: q275 pins
  * `TTLConfig` (wall-clock expiry, necessarily wall-clock-constructed),
  * q250 pins event-time timers (idle close), and THIS query pins TTL
  * semantics DRIVEN BY THE WATERMARK, so the whole lifecycle — expiry
  * decisions included — is a pure function of the data and the batch
  * schedule, oracle-checkable with no sleeps.
  *
  * Per-user cache discipline:
  *
  *  - On arrival, the entry is LOGICALLY expired iff the current
  *    watermark has passed `last_seen + TTL`. The check is lazy (at
  *    the input row) rather than trusting physical timer cleanup,
  *    because input rows are processed BEFORE expiry checks within a
  *    batch (the q250-pinned ordering) — a user whose timer expired
  *    and who re-arrives in the same batch must still classify COLD.
  *    Lazy-check-plus-timers is exactly how RocksDB TTL compaction
  *    filters work at scale: reads validate, background cleanup
  *    reclaims.
  *  - Every arrival deletes the previously armed timer and re-arms at
  *    `last + TTL` (q250's dis-arm discipline — a stale timer firing
  *    at its old expiry would clear a LIVE entry).
  *  - `handleExpiredTimer` physically clears the entry — the storage
  *    reclamation the 100 TB posture needs; without it every user ever
  *    seen stays resident forever. Measured live by the drain-side
  *    assertion: final resident state rows = users whose `last + TTL`
  *    the final watermark has NOT passed (exact equality, computed
  *    from the staged feed).
  *
  * Output: per user per batch, the cold/warm arrival split (cold = the
  * batch's first arrival found the entry absent or logically expired).
  * With the two-wave median split the oracle is exact: batch 0 runs
  * under watermark 0 (nothing ever expired — a user's first arrival is
  * cold by absence, the rest warm); batch 1 runs under the wave-0
  * watermark `w0 = max0 − horizon`, so its first arrival is cold iff
  * the user had no wave-0 events or `last0 + TTL < w0`; wave-1
  * followups are always warm (`first1 ≥ max0 > w0` bounds every
  * wave-1 entry's expiry above the batch watermark). Tie-safety:
  * second-floored event times + whole-second TTL sit at .000 ms, the
  * watermark (horizon 600.5 s) at .500 ms — expiry comparisons never
  * tie.
  */
object EventTtlStream {

  /** Event-time TTL: 1 day in ms. Short relative to the fixture's
    * 30-day span so both cold paths (absence AND expiry) fire at
    * every SF. */
  val TtlMs: Long = 86400000L

  /** Watermark horizon: 600.5 s (q244's tie-dodge). */
  val HorizonMs: Long = 600500L

  val ttlSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("ts", TimestampType)))

  case class TtlEvent(user_id: Long, event_id: Long, ms: Long)
  case class TtlSplit(user_id: Long, cold: Long, warm: Long)

  class EventTtlProcessor(ttlMs: Long = TtlMs)
      extends StatefulProcessor[Long, TtlEvent, TtlSplit] {
    @transient private var lastSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      // TTLConfig.NONE: expiry is OURS (watermark-driven), not the
      // store's wall clock — the whole point of the query
      lastSeen = getHandle.getValueState[Long]("last_seen",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TtlEvent],
        timerValues: TimerValues): Iterator[TtlSplit] = {
      // one fold: only the batch's row count and max event time are
      // consumed (classification is per-BATCH-first-arrival, so
      // within-batch order is irrelevant — no sort, no buffering)
      var n = 0L
      var maxMs = Long.MinValue
      rows.foreach { e => n += 1; if (e.ms > maxMs) maxMs = e.ms }
      if (n == 0) Iterator.empty
      else {
        val wm = timerValues.getCurrentWatermarkInMs()
        val prior = if (lastSeen.exists()) Some(lastSeen.get()) else None
        prior.foreach(p => getHandle.deleteTimer(p + ttlMs)) // dis-arm
        // cold: no entry, or the entry's event-time TTL has lapsed
        // under the CURRENT watermark (lazy check — see scaladoc)
        val cold = prior.forall(p => p + ttlMs < wm)
        val last = math.max(maxMs, prior.getOrElse(Long.MinValue))
        lastSeen.update(last)
        getHandle.registerTimer(last + ttlMs)
        Iterator.single(TtlSplit(key,
          if (cold) 1L else 0L,
          n - (if (cold) 1L else 0L)))
      }
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TtlSplit] = {
      lastSeen.clear() // physical reclamation — emits nothing
      Iterator.empty
    }
  }

  /** The transform under test, factored for spec reuse (the spec's
    * contrast arm passes an effectively-infinite TTL: every cold must
    * then come from ABSENCE, and no entry may ever be reclaimed). */
  def ttlSplits(spark: SparkSession, stream: DataFrame,
      ttlMs: Long = TtlMs): DataFrame = {
    import spark.implicits._
    stream
      .withWatermark("ts", s"$HorizonMs milliseconds")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"))
      .as[TtlEvent]
      .groupByKey(_.user_id)
      .transformWithState(new EventTtlProcessor(ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** q282: the two median-split waves (q244's shared staging) drained
    * through [[ttlSplits]] on RocksDB, with the physical-reclamation
    * assertion live: after the drain, resident state rows must equal
    * EXACTLY the users the final watermark has not yet expired
    * (`last + TTL > fwm`) — cleared entries really left the store,
    * surviving entries really stayed. */
  def eventTtlQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q282_sunk")
    val drop = EventStream.stageSecondWaves(spark, dir)
    val progress = Drain.scratch(spark, "q282", 2, 1) { ck =>
      EventStream.withRocksDbProvider(spark) {
        Drain.run(ttlSplits(spark,
            spark.readStream.schema(ttlSchema)
              .option("maxFilesPerTrigger", "1").json(drop))
          .writeStream.format("parquet").option("path", sunk), ck)
      }
    }
    // physical reclamation, asserted exactly: resident entries ==
    // users still inside their event-time TTL at the final
    // watermark (value-state rows; timer registrations are
    // tracked outside numRowsTotal in this Spark version —
    // measured at sf0.001 before this was pinned)
    val resident = progress.last.stateOperators.map(_.numRowsTotal).sum
    val feed = spark.read.schema(ttlSchema).json(drop)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
    val fwm = feed.agg(max("ms")).head.getLong(0) - HorizonMs
    val live = feed.groupBy("user_id")
      .agg(max("ms").as("last"))
      .filter(col("last") + TtlMs > fwm)
      .count()
    require(resident == live,
      s"q282 ended with $resident resident entries, expected " +
        s"$live in-TTL users — physical timer cleanup (or entry " +
        "survival) diverged from the event-time TTL contract")
    readBack(spark, sunk)
  }

  /** Rows the q282 drain lands (the [[TtlSplit]] encoder layout). */
  val sinkSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("cold", LongType),
    StructField("warm", LongType)))

  /** q282's post-drain read-back — per-user cold/warm arrival totals
    * across the drain's batches. */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .groupBy("user_id")
      .agg(sum(col("cold")).cast("long").as("n_cold"),
        sum(col("warm")).cast("long").as("n_warm"))
      .orderBy("user_id")

  /** DuckDB oracle for [[eventTtlQuery]] — the two-batch lifecycle
    * replayed relationally (see object scaladoc for the derivation of
    * each term). */
  def eventTtlOracleSql: String =
    s"""WITH e AS (SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ms
         FROM events),
       w AS (SELECT user_id, event_id, ms,
           ntile(2) OVER (ORDER BY ms, event_id) - 1 AS wave FROM e),
       w0 AS (SELECT max(ms) - $HorizonMs AS wm FROM w WHERE wave = 0),
       u AS (SELECT user_id,
           count(CASE WHEN wave = 0 THEN 1 END) AS n0,
           max(CASE WHEN wave = 0 THEN ms END) AS last0,
           count(CASE WHEN wave = 1 THEN 1 END) AS n1
         FROM w GROUP BY 1)
     SELECT user_id, n_cold, CAST(n_total - n_cold AS BIGINT) AS n_warm
     FROM (SELECT user_id,
         CAST((CASE WHEN n0 > 0 THEN 1 ELSE 0 END) +
           (CASE WHEN n1 > 0 AND (n0 = 0 OR last0 + $TtlMs <
               (SELECT wm FROM w0)) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cold,
         n0 + n1 AS n_total
       FROM u)
     ORDER BY user_id"""
}

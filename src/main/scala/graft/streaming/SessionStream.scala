package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Built-in `session_window` sessionization (q244) — the Spark-native
  * counterpart to [[EventSessionizer]]'s custom
  * `flatMapGroupsWithState` loop. The custom operator earns its keep
  * where semantics go beyond gaps (q46's value-sum carry, funnel
  * stages); for PLAIN gap sessions the engine's own operator is what
  * a 100 TB deployment should run: state lives in the state store
  * with per-key session merging handled by
  * `MergingSessionsExec`/`SessionWindowStateStoreSaveExec`, no
  * user-code row loop, and the same dual-watermark lifecycle q243
  * certified for tumbling windows.
  *
  * Two semantics pinned here and in the oracle (both measured before
  * the oracle was written — StreamingSpec has the boundary cases):
  *
  *  1. **The merge boundary is INCLUSIVE.** Per-event windows
  *     `[ts, ts + gap)` merge when they overlap OR TOUCH, so an event
  *     arriving exactly `gap` after the last one still extends the
  *     session — the same `diff <= gap` rule
  *     `Sessionize.sessionsFromMs`/[[EventSessionizer.advance]] use,
  *     which is what lets q46's custom sessionizer and this operator
  *     share a definition of "session".
  *  2. **The session end is `last + gap`,** not the last event time —
  *     the merged window's upper bound, which is also what the
  *     watermark eviction compares against.
  *
  * Arrival schedule: two waves split at the median event time, files
  * mtime-pinned so the stream sees them in event-time order — no
  * stragglers; the claim under test is cross-batch SESSION MERGING
  * (wave-0 leaves thousands of open sessions in the state store;
  * wave-1 must extend them, not restart them) plus close-and-emit
  * against the final watermark. Lateness/drop semantics are q243's
  * claim; this query holds them at zero by construction.
  *
  * Tie-safety: event times are floored to the second, so session ends
  * (`last + gap`, gap a whole second) sit at .000 ms while the
  * watermark (`max - horizon`, horizon 600.5 s) sits at .500 ms —
  * eviction comparisons can never tie. Merge comparisons CAN tie
  * (whole-second diffs vs a whole-second gap) — that is deliberate,
  * and both engines apply the same inclusive rule to identical
  * integers.
  */
object SessionStream {

  /** Session gap (30 min) in ms. */
  val SessGapMs: Long = 1800000L

  /** Watermark horizon: 600.5 s — the .5 offsets every eviction
    * comparison away from the whole-second session ends. */
  val SessHorizonMs: Long = 600500L

  val sessSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("ts", TimestampType)))

  /** The aggregate under test: per-user gap sessions via the built-in
    * `session_window`, counting events per session. */
  def sessionCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", s"$SessHorizonMs milliseconds")
      .groupBy(session_window(col("ts"), s"${SessGapMs / 1000} seconds"),
        col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("sess_start_ms"),
        unix_millis(col("session_window.end")).as("sess_end_ms"),
        col("n"))

  /** Drain a wave drop one file per micro-batch through
    * [[sessionCounts]] into the parquet sink `sunk` (q244, q278, q286). */
  private def drainSessions(spark: SparkSession, drop: String,
      sunk: String, ck: String) =
    Drain.run(sessionCounts(
        spark.readStream.schema(sessSchema)
          .option("maxFilesPerTrigger", "1").json(drop))
      .writeStream.format("parquet").option("path", sunk), ck)

  /** q244: stage events in two median-split waves, drain through
    * [[sessionCounts]], return the emitted (closed) sessions. */
  def sessionWindowQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q244_sunk")
    // "sec_waves2": shared with q246 — both drain the same
    // (event_id, user_id, second-floored ts) median-split schedule
    val drop = EventStream.stageSecondWaves(spark, dir)
    val dropped = Drain.droppedByWatermark(
      Drain.scratch(spark, "q244", 2, 1)(drainSessions(spark, drop, sunk, _)))
    require(dropped == 0,
      s"q244's in-order schedule must never drop rows, saw $dropped")
    readBack(spark, sunk)
  }

  /** q278 wave count — enough watermark advances that most sessions
    * close (and leave the store) while input is still flowing. */
  val SessEvictWaves = 6

  /** q278: the session-window EVICTION drain — q244's semantics
    * staged as [[SessEvictWaves]] watermark-advancing waves, so open
    * sessions must CLOSE (emit + leave the state store) mid-drain
    * instead of accumulating to the end. This resolves the q244
    * "cadence caveat" in SCALING.md the same way the q273/q274/q277
    * trio resolved it for the join family: q244's 2-wave peak is
    * ~half the feed because sessions cannot be evicted mid-batch;
    * staged across 6 waves the peak must stay under half the staged
    * feed, proving state follows the OPEN-session working set, not
    * the input volume.
    *
    * The result is COMPLETE and q244's oracle applies verbatim:
    * waves split on the global (ts, event_id) order, so no event is
    * ever late (wave k+1's min ts ≥ wave k's max), a session can
    * only be closed when the watermark passes `last + gap` — at
    * which point no event that could extend it (diff ≤ gap) can
    * still arrive — and the FINAL watermark (max staged ts −
    * horizon), which alone decides the emitted-session set, is
    * drain-cadence-independent. */
  /** The staged q278 wave drop (shared once per JVM; the restart spec
    * replays EXACTLY the schedule the oracle query drains). */
  private[graft] def stageSessionWaves(spark: SparkSession,
      dir: String): String =
    StagedDrops.shared(spark, s"sec_waves$SessEvictWaves", dir) { d =>
      val staged = graft.sources.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          timestamp_seconds(unix_timestamp(col("ts"))).as("ts"))
        .withColumn("wave",
          (ntile(SessEvictWaves).over(org.apache.spark.sql.expressions
            .Window.orderBy(col("ts"), col("event_id"))) - 1).cast("int"))
        .localCheckpoint()
      EventStream.stageWaveFiles(spark, staged,
        Seq("event_id", "user_id", "ts"), SessEvictWaves, d)
    }

  def sessionEvictionQuery(spark: SparkSession, dir: String): DataFrame =
    drainSessionEviction(spark, dir, "q278")

  /** q286: q278's session-eviction drain ON ROCKSDB — provider parity
    * for the session store, whose merge-on-arrival state layout
    * (`SessionWindowStateStoreSaveExec` keeps per-key session LISTS
    * that split/merge as events arrive, unlike the interval joins'
    * append-only row buffers) is the eviction family's most
    * RocksDB-divergent member: q281 covered the chained join→window
    * pipeline, but session merging exercises the provider's
    * read-modify-write path, not just put/evict. Same live assertions
    * (wave count, zero drops, peak < ½ staged, mid-drain removal),
    * same q244 oracle; the provider is a loan
    * ([[EventStream.withRocksDbProvider]]) so it cannot leak into
    * queries sharing the session. */
  def rocksDbSessionEvictionQuery(spark: SparkSession,
      dir: String): DataFrame =
    EventStream.withRocksDbProvider(spark) {
      drainSessionEviction(spark, dir, "q286")
    }

  /** The session-window eviction drain (q278/q286 share it; the
    * state-store provider is whatever the session carries when the
    * drain starts, which is how q286 swaps in RocksDB). */
  private def drainSessionEviction(spark: SparkSession, dir: String,
      label: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, s"${label}_sunk")
    val drop = stageSessionWaves(spark, dir)
    val progress = Drain.scratch(spark, label, SessEvictWaves, 1)(
      drainSessions(spark, drop, sunk, _))
    val dropped = Drain.droppedByWatermark(progress)
    require(dropped == 0,
      s"$label's in-order schedule must never drop rows, saw $dropped")
    // the eviction claim, measured live: open-session state must
    // stay under half the staged feed (q244's 2-wave drain peaks at
    // ~half — the per-batch working set this drain divides)
    val peakState = Drain.peakStateRows(progress)
    val staged = spark.read.schema(sessSchema).json(drop).count()
    require(peakState * 2 < staged,
      s"$label session store peaked at $peakState rows for $staged " +
        "staged — sessions never closed between waves")
    // the mid-drain claim: sessions must EMIT while input is still
    // flowing (append-mode close), not only at the final no-data
    // batch — numRowsRemoved is populated by the session store on
    // close (measured at sf0.001 before this was pinned)
    require(Drain.removedWhileInputFlowed(progress) > 0,
      s"$label removed no session rows during the input waves — " +
        "closure never fired mid-drain")
    readBack(spark, sunk)
  }

  /** Rows the q244 drain lands (the closed-session output). */
  val sinkSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("sess_start_ms", LongType),
    StructField("sess_end_ms", LongType),
    StructField("n", LongType)))

  /** q244's post-drain read-back — the emitted (closed) sessions. */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .select(col("user_id").cast("long"),
        col("sess_start_ms").cast("long"),
        col("sess_end_ms").cast("long"), col("n").cast("long"))
      .orderBy("user_id", "sess_start_ms")

  /** DuckDB oracle for [[sessionWindowQuery]]: inclusive-gap sessions
    * per user over second-floored times, session end = last + gap,
    * emitted iff the end has passed the final watermark
    * (max - horizon). */
  def sessionWindowOracleSql: String =
    s"""WITH e AS (SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ms
         FROM events),
       d AS (SELECT user_id, ms,
           CASE WHEN ms - lag(ms) OVER
               (PARTITION BY user_id ORDER BY ms) <= $SessGapMs
             THEN 0 ELSE 1 END AS brk
         FROM e),
       s AS (SELECT user_id, ms,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ms
             ROWS UNBOUNDED PRECEDING) AS sid
         FROM d),
       g AS (SELECT user_id, min(ms) AS sess_start_ms,
           max(ms) + $SessGapMs AS sess_end_ms,
           CAST(count(*) AS BIGINT) AS n
         FROM s GROUP BY user_id, sid),
       fin AS (SELECT max(ms) - $SessHorizonMs AS fwm FROM e)
     SELECT user_id, sess_start_ms, sess_end_ms, n
     FROM g, fin WHERE sess_end_ms <= fwm
     ORDER BY user_id, sess_start_ms"""
}

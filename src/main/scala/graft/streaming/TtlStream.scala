package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** STATE TTL under `transformWithState` — the state-hygiene primitive
  * a long-running deployment leans on (q246/q250/q271 exercise
  * ValueState/MapState+timers/ListState, all with `TTLConfig.NONE`;
  * this query is the one whose state is configured to EXPIRE). The
  * operator is a per-user running counter cached in a TTL'd
  * `ValueState[Long]`: each batch emits the user's batch count plus
  * whatever the cache still CARRIES from earlier batches — so the
  * carried column is the direct observable of TTL eviction, and the
  * DuckDB oracle pins it.
  *
  * Determinism of a processing-time TTL, measured then pinned (the
  * q259 discipline): a TTL'd value written in batch k expires at
  * batch k's processing timestamp + TTL, and reads in batch k+1
  * enforce expiry against batch k+1's timestamp
  * (ValueStateImplWithTTL.get — `batchTimestampMs` is the clock, so
  * within one batch a fresh write never self-expires). The drain
  * makes the cross-batch outcome deterministic by CONSTRUCTION, not
  * by racing the clock: [[TtlMs]] is small and the sink sleeps
  * [[SinkPauseMs]] ≫ TtlMs after every batch, so consecutive batch
  * timestamps always differ by more than the TTL and every
  * cross-batch read sees an expired cache. Hence carried = 0
  * everywhere — a value the ORACLE asserts (and that a TTL-free run
  * falsifies: TtlStreamSpec drains the identical schedule with
  * `TTLConfig.NONE` and measures carried > 0, plus asserts this
  * drain's `numValuesRemovedDueToTTLExpiry` metric counted real
  * evictions). State posture at 100 TB: the store holds live keys
  * only for one TTL window — the cache bound a capacity planner
  * sizes, where `NONE` grows with the all-time key space.
  */
object TtlStream {

  /** Cache TTL: 50 ms. */
  val TtlMs = 50L

  /** Post-batch sink pause: 8× the TTL — consecutive batch timestamps
    * always straddle the expiration. */
  val SinkPauseMs = 400L

  /** Wave count (one micro-batch per wave). */
  val Waves = 3

  case class CacheSlice(user_id: Long, n: Long, carried: Long,
      max_ms: Long)

  /** The per-user counter cache; `ttl` is injected so the spec can
    * contrast the same processor with `TTLConfig.NONE`. */
  class TtlCountProcessor(ttlMs: Long)
      extends StatefulProcessor[Long,
        graft.streaming.IdleCloseStream.TypedEvent, CacheSlice] {
    @transient private var cum: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum", Encoders.scalaLong,
        if (ttlMs <= 0) TTLConfig.NONE
        else new TTLConfig(java.time.Duration.ofMillis(ttlMs)))

    override def handleInputRows(key: Long,
        rows: Iterator[graft.streaming.IdleCloseStream.TypedEvent],
        timerValues: TimerValues): Iterator[CacheSlice] = {
      val arr = rows.toArray
      if (arr.isEmpty) Iterator.empty
      else {
        // exists() enforces TTL like get(): an expired value reads as
        // absent (never as an unboxed 0 from a stale row)
        val carried = if (cum.exists()) cum.get() else 0L
        cum.update(carried + arr.length)
        Iterator.single(CacheSlice(key, arr.length.toLong, carried,
          arr.map(_.ms).max))
      }
    }
  }

  /** The transform under test, factored for spec reuse (`ttlMs <= 0`
    * = no TTL, the spec's contrast arm). */
  def ttlCounts(spark: SparkSession, stream: DataFrame,
      ttlMs: Long): DataFrame = {
    import spark.implicits._
    stream
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .as[graft.streaming.IdleCloseStream.TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TtlCountProcessor(ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
      .toDF()
  }

  /** The typed three-wave staged drop (second-floored ts, global
    * (ts, event_id) ntile split — q250's staging at [[Waves]]). */
  def stageTypedWaves3(spark: SparkSession, dir: String): String =
    StagedDrops.shared(spark, s"sec_waves${Waves}_typed", dir) { d =>
      val staged = graft.sources.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(unix_timestamp(col("ts"))).as("ts"))
        .withColumn("wave",
          (ntile(Waves).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("ts"), col("event_id"))) - 1).cast("int"))
        .localCheckpoint()
      EventStream.stageWaveFiles(spark, staged,
        Seq("event_id", "user_id", "event_type", "ts"), Waves, d)
    }

  /** Shared drain scaffold: one wave per micro-batch through
    * [[ttlCounts]] on RocksDB, each DATA batch's slice landed to
    * `sunk/b=<id>` (idempotent under replay) followed by the
    * [[SinkPauseMs]] pause that pins the TTL outcome. Returns the
    * summed `numValuesRemovedDueToTTLExpiry` across batches.
    *
    * Trigger discipline, measured on this engine: a ProcessingTime-
    * mode `transformWithState` schedules a NO-DATA batch after every
    * batch (the TTL/timer check re-arms each time processing time
    * advances), so the stream never reports "done" —
    * `Trigger.AvailableNow` looped past 780 empty micro-batches and
    * `processAllAvailable()` blocked forever on the same re-arm. The
    * drain therefore runs the default trigger, POLLS the progress
    * feed until all [[Waves]] data batches have committed (progress
    * posts after the checkpoint commit, so count ≥ Waves means every
    * staged file is durably processed), and stops the query
    * explicitly; the foreachBatch guard skips the empty no-data
    * frames so only the data batches land. The interleaved no-data
    * batches only ADVANCE processing time — they can make a TTL'd
    * value expire earlier, never survive longer, so the pinned
    * carried=0 outcome is unaffected.
    *
    * Where the PHYSICAL removal is observable (also measured): a
    * value expired by read-time is usually OVERWRITTEN by its key's
    * next update before the end-of-batch TTL cleanup can count it
    * (every fixture user appears in every wave), so the
    * `numValuesRemovedDueToTTLExpiry` counter stays 0 through the
    * data batches. The cleanup that counts runs in the re-arm loop's
    * first no-data batch more than one TTL past the last data batch —
    * the TTL'd drain waits for it (bounded poll) before stopping, and
    * returns the counted removals plus the peak/final state-store
    * rows so callers can assert the store physically SHRANK. */
  case class TtlDrainStats(removed: Long, peakStateRows: Long,
      finalStateRows: Long)

  private[graft] def drainTtl(spark: SparkSession, drop: String,
      sunk: String, ck: String, ttlMs: Long): TtlDrainStats = {
    var stats = TtlDrainStats(0L, -1L, -1L)
    EventStream.withRocksDbProvider(spark) {
      val q = ttlCounts(spark,
          spark.readStream.schema(IdleCloseStream.idleSchema)
            .option("maxFilesPerTrigger", "1").json(drop), ttlMs)
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty) {
            batch.write.mode("overwrite").parquet(s"$sunk/b=$batchId")
            // the pause IS the determinism: the next batch's
            // timestamp lands > TTL past this batch's writes
            Thread.sleep(SinkPauseMs)
          }
        }
        .start()
      try {
        def dataBatches(): Long = Drain.dataBatches(q.recentProgress)
        def removedSoFar(): Long = q.recentProgress
          .flatMap(_.stateOperators)
          .flatMap(so => Option(so.customMetrics)
            .map(_.getOrDefault("numValuesRemovedDueToTTLExpiry",
              java.lang.Long.valueOf(0L)).longValue()))
          .sum
        val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
        while (dataBatches() < Waves && q.exception.isEmpty &&
            System.nanoTime() < deadline)
          Thread.sleep(100)
        // TTL'd arm: wait for the first counted cleanup pass (the
        // re-arm loop's no-data batch past the TTL) before stopping
        while (ttlMs > 0 && removedSoFar() == 0 && q.exception.isEmpty &&
            System.nanoTime() < deadline)
          Thread.sleep(100)
        q.exception.foreach(throw _)
        val batches = dataBatches()
        require(batches == Waves,
          s"staged $Waves wave files but streamed $batches data batches")
        val rowsPerProgress = q.recentProgress.toSeq
          .filter(_.stateOperators.nonEmpty)
          .map(_.stateOperators.map(_.numRowsTotal).sum)
        stats = TtlDrainStats(removedSoFar(),
          if (rowsPerProgress.nonEmpty) rowsPerProgress.max else -1L,
          rowsPerProgress.lastOption.getOrElse(-1L))
      } finally q.stop()
    }
    stats
  }

  /** q275: the TTL'd-cache drain driven to a hash-checked answer. */
  def ttlCacheQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q275_sunk")
    val drop = stageTypedWaves3(spark, dir)
    // drainTtl runs its own processing-time drain (see above), so
    // only the scratch checkpoint and its loan come from Drain
    val stats = Drain.scratchCheckpoint(spark, "q275")(
      drainTtl(spark, drop, sunk, _, TtlMs))
    // eviction must have PHYSICALLY happened (the TTL-cleanup
    // metric), not just read-as-absent — otherwise the store still
    // accumulates the all-time key space
    require(stats.removed > 0,
      "q275 drained without a single TTL-expired value removed — " +
        "the eviction path was not exercised")
    require(stats.finalStateRows < stats.peakStateRows,
      s"q275 state store never shrank (peak=${stats.peakStateRows}, " +
        s"final=${stats.finalStateRows}) — TTL cleanup freed nothing")
    readBack(spark, sunk)
  }

  /** Rows the q275 drain lands ([[CacheSlice]] plus the `b` batch
    * partition column). */
  val sinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("n", LongType),
      StructField("carried", LongType),
      StructField("max_ms", LongType),
      StructField("b", IntegerType)))
  }

  /** q275's post-drain read-back — the per-user per-batch cache
    * slices ((user, max_ms) identifies a user's batch; equal-n ties
    * are identical rows, so the order is total for hashing). */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.parquet(sunk)
      .select(col("user_id").cast("long"), col("n").cast("long"),
        col("carried").cast("long"), col("max_ms").cast("long"))
      .orderBy("user_id", "max_ms", "n")

  /** DuckDB oracle for [[ttlCacheQuery]] — the wave split replayed;
    * carried is 0 EVERYWHERE because every cross-batch read happens
    * past the TTL (see object scaladoc for why that is deterministic,
    * and TtlStreamSpec for the TTL-free contrast proving the zeros
    * come from eviction, not from a processor that never carries). */
  def ttlCacheOracleSql: String =
    s"""WITH w AS (SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ms,
           ntile($Waves) OVER (ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
             event_id) - 1 AS wave
         FROM events)
     SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       CAST(0 AS BIGINT) AS carried, max(ms) AS max_ms
     FROM w GROUP BY user_id, wave
     ORDER BY user_id, max_ms, n"""
}

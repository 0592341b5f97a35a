package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming twin of the batch sequential funnel
  * (`operators.Sessionize.funnelQuery`): a per-user state machine over
  * `flatMapGroupsWithState` that records each stage of
  * signup → view → click → purchase the first time it completes IN
  * ORDER (an event only counts if it is at or after the previous
  * stage's completion time — identical semantics to the batch
  * sorted-array recurrence, so the two are testably equivalent).
  *
  * State per user is four optional epoch-ms stamps — constant size, no
  * event buffering — and EVERY kept state arms an event-time timeout
  * (progress time + quietMs, or the batch's latest event for users who
  * never complete stage 1), so non-converting users are evicted too
  * and state is bounded by the active-user set, not the all-time user
  * set. A completed funnel keeps a tombstone state until the same
  * timeout so late duplicate events cannot restart the funnel and
  * double-count stages within the retention window. The
  * only shuffle is the keyed grouping on user_id. Within a micro-batch
  * events are sorted before advancing, so any disorder the watermark
  * admits cannot reorder stages; cross-batch disorder is the watermark
  * contract, as in every stateful streaming operator here.
  */
object FunnelStream {

  val stages: Seq[String] = Seq("signup", "view", "click", "purchase")

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Completed-prefix stage times, epoch ms. */
  case class FunnelState(times: Seq[Long])

  /** One newly completed stage for one user. */
  case class StageHit(user_id: Long, stage: Long, step: String, ms: Long)

  /** Pure per-user transition: fold sorted events into the state,
    * emitting a StageHit for each stage newly completed. Exactly the
    * batch recurrence: stage i completes at the first event of its
    * type at or after stage i-1's completion — including on TIES. The
    * batch rule is order-free (a sorted-array filter on timestamps),
    * so two events at the identical timestamp must complete both
    * their stages regardless of which is processed first; a single
    * left-to-right scan would skip a later-stage event that precedes
    * its enabler in (ts, event_id) order at the same stamp. The scan
    * therefore reruns over the batch until no stage advances — at
    * most `stages.length` passes, and a no-op for the distinct-
    * timestamp common case (pass 2 finds nothing). Cross-BATCH ties
    * remain the watermark contract, as for ordering generally. */
  def advance(state: FunnelState, events: Seq[Event],
              userId: Long): (Seq[StageHit], FunnelState) = {
    val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
    var times = state.times
    val hits = Seq.newBuilder[StageHit]
    var progressed = true
    while (progressed && times.length < stages.length) {
      progressed = false
      for (e <- sorted if times.length < stages.length) {
        val next = stages(times.length)
        val t = e.ts.getTime
        if (e.event_type == next && (times.isEmpty || t >= times.last)) {
          times = times :+ t
          hits += StageHit(userId, times.length.toLong, next, t)
          progressed = true
        }
      }
    }
    (hits.result(), FunnelState(times))
  }

  /** Streaming funnel over an event stream: appends one row per
    * (user, newly completed stage). State is dropped once the
    * watermark passes the user's last activity + `quietMs`; until
    * then a completed funnel's state stays as a tombstone (advance()
    * is a no-op on it) so a duplicate late event cannot restart the
    * funnel and emit a second StageHit for a stage the user already
    * completed. */
  def funnelStages(events: Dataset[Event],
                   quietMs: Long = 3600000L): Dataset[StageHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, it, state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = it.toSeq
            val (hits, next) = advance(
              state.getOption.getOrElse(FunnelState(Seq.empty)),
              evs, userId)
            state.update(next)
            // Timeout base: last funnel progress, else the batch's
            // latest event (users stuck before stage 1 must expire
            // too or state grows with every user ever seen). Clamped
            // above the current watermark — setTimeoutTimestamp
            // throws on a timestamp the watermark already passed
            // (reachable when a non-advancing event arrives after
            // the user's progress time has aged past quietMs).
            val base =
              if (next.times.nonEmpty) next.times.last
              else if (evs.nonEmpty) evs.iterator.map(_.ts.getTime).max
              else state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
              math.max(base + quietMs, state.getCurrentWatermarkMs() + 1L))
            hits.iterator
          }
      }
  }

  /** q254: the STREAMING funnel under oracle check (previously
    * unit-only) — the whole feed staged as one drop, drained through
    * [[funnelStages]], and the landed per-(user, stage) hits rolled
    * up to the stage-count spine the batch funnel (q63) emits; the
    * batch funnel's DuckDB oracle is reused verbatim. Equality proves
    * the flatMapGroupsWithState recurrence (chained first-qualifying
    * stage times), the per-batch sort, the tombstone that stops
    * double emission, and the parquet sink commit log all reproduce
    * the declarative batch answer. Single-batch staging keeps the
    * drain complete (q229's discipline); the multi-batch/timeout
    * lifecycle is StreamingSpec's claim. */
  def funnelQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q254_sunk")
    val drop = EventStream.stageEventsMs(spark, dir)
    // stageEventsMs' 4 files fit one 16-file trigger
    Drain.scratch(spark, "q254", 4, 16)(
      funnelAvailableNow(spark, drop, sunk, _))
    readBack(spark, sunk)
  }

  /** Rows the q254 drain lands (the [[StageHit]] encoder layout). */
  val sinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("stage", LongType),
      StructField("step", StringType),
      StructField("ms", LongType)))
  }

  /** q254's post-drain read-back — per-(user, stage) hits rolled up
    * to the stage-count spine the batch funnel (q63) emits. */
  def readBack(spark: SparkSession, sunk: String): DataFrame = {
    val spine = spark.createDataFrame(
      stages.zipWithIndex.map { case (s, i) => ((i + 1).toLong, s) })
      .toDF("stage", "step")
    val counts = spark.read.schema(sinkSchema).parquet(sunk)
      .groupBy(col("stage"), col("step"))
      .agg(count(lit(1)).cast("long").as("users"))
    spine.join(counts, Seq("stage", "step"), "left")
      .select(col("stage"), col("step"),
        coalesce(col("users"), lit(0L)).as("users"))
      .orderBy("stage")
  }

  /** Drive the funnel over the drop dir into a parquet sink
    * (AvailableNow; durable sink because state recovery rides the
    * checkpoint). */
  def funnelAvailableNow(spark: SparkSession, dropDir: String,
                         outDir: String,
                         checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val events = EventStream.readEventStream(spark, dropDir).as[Event]
    Drain.run(funnelStages(events)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .outputMode("append"), checkpointDir)
  }
}

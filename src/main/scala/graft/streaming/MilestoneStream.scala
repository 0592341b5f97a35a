package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Per-key milestone crossings via `transformWithState` (q246) — the
  * Spark 4 arbitrary-state API on the RocksDB state store, the pair a
  * 100 TB streaming deployment actually runs.
  *
  * Why this exists next to [[EventSessionizer]]'s
  * `flatMapGroupsWithState`: the older API holds each key's whole
  * state as ONE object round-tripped per batch through an Encoder,
  * and its HDFS-backed default store keeps every key on-heap — both
  * break when keyed state outgrows executor memory. The
  * `transformWithState` handle exposes NAMED state primitives
  * (value/list/map) stored as individual RocksDB entries: state is
  * read lazily per key, spills to local SST files, and checkpoint
  * uploads are incremental changelogs. Spark enforces the pairing —
  * the API refuses to run on the HDFS store — so the query sets the
  * RocksDB provider for its own drain and restores the session conf
  * after ([[graft.sources.Tables]]' nanosAsLong discipline).
  *
  * The operator: per user, a running event counter in a
  * `ValueState[Long]`; when the count crosses a power of two the
  * processor emits `(user_id, milestone_n, at_ms)` — each milestone
  * exactly once across the whole stream, whatever the batching. The
  * growth-ladder shape (first touch, 2nd, 4th, ... 2^k-th event with
  * timestamps) is the engagement/retention signal the funnel and
  * session operators don't give, and it is the simplest operator
  * whose correctness certifies cross-batch state carry: any lost or
  * double-counted row shifts some user's crossing to a different
  * event and breaks the hash.
  *
  * Determinism: within one `handleInputRows` call rows arrive in
  * arbitrary order, so the processor sorts the batch's rows per key
  * by (ms, event_id); across batches the two-wave median split stages
  * arrivals in event-time order. Global processing order per user is
  * therefore exactly (ms, event_id), and the DuckDB oracle is a
  * row_number over that order filtered to powers of two.
  */
object MilestoneStream {

  case class KeyedEvent(user_id: Long, event_id: Long, ms: Long)
  case class Milestone(user_id: Long, milestone_n: Long, at_ms: Long)

  val milestoneSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("ts", TimestampType)))

  /** Counter with power-of-two emission. State per key: one Long. */
  class MilestoneProcessor
      extends StatefulProcessor[Long, KeyedEvent, Milestone] {
    @transient private var count: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[KeyedEvent],
        timerValues: TimerValues): Iterator[Milestone] = {
      // per-key batch buffer: bounded by one user's events per batch
      val sorted = rows.toArray.sortBy(e => (e.ms, e.event_id))
      var c = if (count.exists()) count.get() else 0L
      val out = Array.newBuilder[Milestone]
      for (e <- sorted) {
        c += 1
        if ((c & (c - 1)) == 0L) out += Milestone(key, c, e.ms)
      }
      count.update(c)
      out.result().iterator
    }
  }

  /** The transform under test, factored for spec reuse. */
  def milestones(spark: SparkSession, stream: DataFrame): DataFrame = {
    import spark.implicits._
    stream
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"))
      .as[KeyedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new MilestoneProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** q246: two median-split waves (q244's staging) drained through
    * [[milestones]] on the RocksDB state store. */
  def milestoneQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q246_sunk")
    val drop = EventStream.stageSecondWaves(spark, dir) // shared w/ q244
    Drain.scratch(spark, "q246", 2, 1) { ck =>
      EventStream.withRocksDbProvider(spark) {
        Drain.run(milestones(spark,
            spark.readStream.schema(milestoneSchema)
              .option("maxFilesPerTrigger", "1").json(drop))
          .writeStream.format("parquet").option("path", sunk), ck)
      }
    }
    readBack(spark, sunk)
  }

  /** Rows the q246 drain lands (the [[Milestone]] encoder layout). */
  val sinkSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("milestone_n", LongType),
    StructField("at_ms", LongType)))

  /** q246's post-drain read-back — the emitted milestone crossings. */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .select(col("user_id").cast("long"),
        col("milestone_n").cast("long"), col("at_ms").cast("long"))
      .orderBy("user_id", "milestone_n")

  /** DuckDB oracle for [[milestoneQuery]]: per-user row_number over
    * (second-floored ms, event_id), kept where it is a power of two. */
  def milestoneOracleSql: String =
    """WITH e AS (SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ms
         FROM events),
       r AS (SELECT user_id, ms, row_number() OVER
           (PARTITION BY user_id ORDER BY ms, event_id) AS rn
         FROM e)
     SELECT user_id, CAST(rn AS BIGINT) AS milestone_n, ms AS at_ms
     FROM r WHERE (rn & (rn - 1)) = 0
     ORDER BY user_id, milestone_n"""
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Per-key RUN DETECTION via `transformWithState` with LIST state —
  * the CEP-lite "N consecutive events of the same kind" trigger (three
  * failed logins, three successive purchases, three repeated errors)
  * that alerting and engagement pipelines key on. q271 completes the
  * transformWithState primitive coverage: q246 exercises ValueState,
  * q250 MapState + event-time timers, this one `ListState` — the
  * primitive for bounded per-key HISTORY, stored as individual
  * RocksDB list entries instead of one re-encoded blob (`appendValue`
  * is an append, not a read-modify-write of the whole history; `put`
  * here rewrites a 2-element window, never an unbounded one).
  *
  * The operator: per user, a sliding window of the LAST TWO events
  * rides in a `ListState[TypeStamp]`; an arriving event whose type
  * equals both predecessors' emits `(user, type, at_ms, at_id)` — one
  * row per stream position whose two predecessors share its type, so
  * runs of length L emit L-2 rows. State per key is exactly ≤ 2
  * entries at all times, whatever the history length — the bounded-
  * window contract the scaladoc of a 100 TB deployment cares about.
  *
  * Determinism: rows sort per key by (ms, event_id) within a batch
  * (the q246 discipline); the two-wave median split preserves each
  * user's global order across the batch boundary, so a run straddling
  * the waves MUST still emit — that cross-batch carry is exactly what
  * the oracle's whole-stream lag window certifies.
  */
object RunStream {

  /** Run length that triggers an emission. */
  val RunLen = 3

  case class TypeStamp(event_type: String, ms: Long, event_id: Long)
  case class RunHit(user_id: Long, event_type: String, at_ms: Long,
      at_id: Long)

  class RunProcessor
      extends StatefulProcessor[Long,
        graft.streaming.IdleCloseStream.TypedEvent, RunHit] {
    @transient private var lastTwo: ListState[TypeStamp] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastTwo = getHandle.getListState[TypeStamp]("last_two",
        Encoders.product[TypeStamp], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[graft.streaming.IdleCloseStream.TypedEvent],
        timerValues: TimerValues): Iterator[RunHit] = {
      val sorted = rows.toArray.sortBy(e => (e.ms, e.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        // window = the stored ≤2 predecessors, oldest first
        var win = lastTwo.get().toVector
        val out = Array.newBuilder[RunHit]
        for (e <- sorted) {
          if (win.length == 2 && win.forall(_.event_type == e.event_type))
            out += RunHit(key, e.event_type, e.ms, e.event_id)
          win = (win :+ TypeStamp(e.event_type, e.ms, e.event_id))
            .takeRight(RunLen - 1)
        }
        lastTwo.put(win.toArray) // rewrite of a ≤2-element window
        out.result().iterator
      }
    }
  }

  /** The transform under test, factored for spec reuse. */
  def typeRuns(spark: SparkSession, stream: DataFrame): DataFrame = {
    import spark.implicits._
    stream
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .as[graft.streaming.IdleCloseStream.TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** q271: the two typed median-split waves (q250's staging) drained
    * through [[typeRuns]] on the RocksDB state store. */
  def typeRunsQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q271_sunk")
    val drop = EventStream.stageTypedSecondWaves(spark, dir)
    Drain.scratch(spark, "q271", 2, 1) { ck =>
      EventStream.withRocksDbProvider(spark) {
        Drain.run(typeRuns(spark,
            spark.readStream.schema(IdleCloseStream.idleSchema)
              .option("maxFilesPerTrigger", "1").json(drop))
          .writeStream.format("parquet").option("path", sunk), ck)
      }
    }
    readBack(spark, sunk)
  }

  /** Rows the q271 drain lands (the [[RunHit]] encoder layout). */
  val sinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("at_ms", LongType),
      StructField("at_id", LongType)))
  }

  /** q271's post-drain read-back — the emitted run hits. */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .select(col("user_id").cast("long"), col("event_type"),
        col("at_ms").cast("long"), col("at_id").cast("long"))
      .orderBy("user_id", "at_ms", "at_id")

  /** DuckDB oracle for [[typeRunsQuery]] — the whole-stream lag
    * window over the same (second-floored ms, event_id) order. */
  def typeRunsOracleSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ms
         FROM events),
       r AS (SELECT user_id, event_id, event_type, ms,
           lag(event_type, 1) OVER w AS p1,
           lag(event_type, 2) OVER w AS p2
         FROM e WINDOW w AS
           (PARTITION BY user_id ORDER BY ms, event_id))
     SELECT user_id, event_type, ms AS at_ms, event_id AS at_id
     FROM r WHERE p1 = event_type AND p2 = event_type
     ORDER BY user_id, at_ms, at_id"""
}

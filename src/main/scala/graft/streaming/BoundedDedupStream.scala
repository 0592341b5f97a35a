package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** BOUNDED-STATE streaming dedup lifecycle proof. q218's DocStream
  * already runs `dropDuplicatesWithinWatermark` (1-hour horizon), but
  * its staging deliberately keeps every duplicate INSIDE one horizon,
  * so expiry never fires there — what q218 certifies is in-horizon
  * suppression. THIS query stages the other half of the contract: a
  * key's state lives only until the watermark passes its event time +
  * the delay threshold, so a duplicate arriving WITHIN the window is
  * suppressed while one arriving AFTER its key expired is RE-ADMITTED
  * — the measured expiry/re-admission timing a capacity planner (and
  * an at-least-once upstream) relies on.
  * This query stages both cases deliberately and the oracle replays
  * the exact admit/suppress/re-admit lifecycle, so the hash match
  * certifies the semantics a capacity planner relies on — the same
  * measured-then-pinned discipline as q251's min-policy watermark.
  *
  * Timing rule (MEASURED on this engine, then pinned in the oracle):
  * batch k runs under the watermark computed from batch k-1's data
  * (max event time − delay), and state eviction is PHYSICAL REMOVAL
  * at the END of batch k under that same watermark — a key expired by
  * batch k's own data is still in the store while batch k processes
  * (the first staging attempt put the echoes in the watermark-
  * advancing batch itself and measured ZERO re-admissions). Hence the
  * three-wave schedule: originals, then the watermark advancer, then
  * the echoes — by the echo batch, end-of-batch-1 eviction has
  * removed every key whose event time + delay sat below the batch-1
  * watermark. Echo selections are robust to lazy-vs-eager expiry
  * checks (near echoes are alive under both readings, far echoes gone
  * under both). The delay carries a .25 s fraction so neither the
  * expiry nor the freshness comparison can ever TIE against the
  * second-floored event times (q244's dodge).
  */
object BoundedDedupStream {

  /** Dedup delay: 5 days + 250 ms (the tie dodge). */
  val DelayMs = 432000250L

  /** Echo shifts: a near echo re-sent 300 s after its original (state
    * certainly alive); a far echo re-sent `span − delay` later (state
    * certainly expired, arrival certainly fresh). The far shift is
    * DERIVED from the staged feed's own time range — whole seconds,
    * `(max − min) − 432000` — so EVERY evicted key's echo clears the
    * batch-2 watermark regardless of the range: the 30-day fixture
    * reproduces the former 25-day constant, and a stretched decade
    * (10x the range) scales with it instead of silently producing
    * zero far echoes (the staging guard caught exactly that before
    * the shift was made span-proportional). */
  val NearShiftSec = 300L

  /** The far shift in whole seconds (delay floor: 432000 s = the
    * 5-day delay without its .25 s tie-dodge fraction, so freshness
    * comparisons keep a 250 ms margin and can never tie). */
  val FarShiftFloorSec = 432000L

  private val dropSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType)))

  /** Stage the three-wave echo schedule: wave 0 = the first half of
    * events (median split by second-floored ts, id tiebreak), wave 1
    * = the second half (the watermark advancer), wave 2 = the echoes
    * of every 7th key: NEAR echoes of late wave-1 keys (state alive
    * under the batch-2 watermark ⇒ suppressed), FAR echoes of wave-0
    * keys already evicted at the end of batch 1 (⇒ re-admitted,
    * arriving span − delay after their original, where span is the
    * staged feed's time range ([[FarShiftFloorSec]] derivation) — the
    * at-least-once replay-after-retention case). */
  def stageEchoWaves(spark: SparkSession, dir: String): String =
    StagedDrops.shared(spark, "dedup_echo_waves3", dir) { d =>
      val base = graft.sources.Tables.events(spark, dir)
        .select(col("event_id"),
          timestamp_seconds(unix_timestamp(col("ts"))).as("ts"),
          col("event_type"))
      val waved = base.withColumn("wave",
          (ntile(2).over(Window.orderBy(col("ts"), col("event_id"))) - 1)
            .cast("int"))
        .localCheckpoint() // one split, four filtered reads
      // m0 = wave-0 max (sets the watermark batch 1 runs under, which
      // end-of-batch-1 eviction applies); mAll = global max (sets the
      // watermark batch 2 runs under, the echoes' freshness bar)
      val bounds = waved.agg(
        max(when(col("wave") === 0, unix_millis(col("ts")))).as("m0"),
        max(unix_millis(col("ts"))).as("mAll"),
        min(unix_millis(col("ts"))).as("mn"))
      val sevenths = waved.crossJoin(broadcast(bounds))
        .filter(col("event_id") % 7 === 0)
      // alive at batch 2 under EITHER expiry reading: ts+delay above
      // the batch-2 watermark, so not even a lazy check rejects it
      val echoNear = sevenths
        .filter(col("wave") === 1 &&
          unix_millis(col("ts")) >= col("mAll") - lit(DelayMs))
        .select(col("event_id"),
          (col("ts") + expr(s"interval $NearShiftSec seconds")).as("ts"),
          col("event_type"), lit(2).cast("int").as("wave"))
      // evicted at end of batch 1 (expired vs the m0-delay watermark)
      // AND fresh vs the batch-2 watermark (mAll-delay); the shift is
      // span-proportional (see [[FarShiftFloorSec]]) — exact long
      // arithmetic on ms values that are whole-second multiples
      val farShiftMs = ((col("mAll") - col("mn")) / lit(1000))
        .cast("long") * lit(1000L) - lit(FarShiftFloorSec * 1000L)
      val echoFar = sevenths
        .filter(col("wave") === 0 &&
          unix_millis(col("ts")) + lit(DelayMs) < col("m0") - lit(DelayMs) &&
          unix_millis(col("ts")) + farShiftMs >=
            col("mAll") - lit(DelayMs))
        .select(col("event_id"),
          timestamp_millis(unix_millis(col("ts")) + farShiftMs).as("ts"),
          col("event_type"), lit(2).cast("int").as("wave"))
      val staged = waved.select("event_id", "ts", "event_type", "wave")
        .unionByName(echoNear).unionByName(echoFar)
        .localCheckpoint()
      // Both echo classes must be NONEMPTY or the query silently stops
      // exercising the path it exists to certify: an empty far set
      // makes n_readmitted 0 everywhere — and the oracle AGREES, so
      // the hash match would keep passing while proving nothing about
      // re-admission (an empty near set likewise blinds suppression).
      // Checked at staging (once per JVM), against the checkpointed
      // frame so no pipeline re-runs.
      val nNear = echoNear.count()
      val nFar = echoFar.count()
      require(nFar > 0 && nNear > 0,
        s"q259 staging produced $nNear near / $nFar far echoes — the " +
          "fixture's time range no longer spans ~2x the dedup delay; " +
          "rescale DelayMs/FarShiftFloorSec (or widen the fixture's " +
          "time range) or the suppress/re-admit paths go unexercised")
      EventStream.stageWaveFiles(spark, staged,
        Seq("event_id", "ts", "event_type"), 3, d)
    }

  /** q259: the two-wave echo drain through
    * `dropDuplicatesWithinWatermark(event_id)`, rolled up per event
    * type with the re-admission count made explicit (n_admitted −
    * n_distinct = far echoes that returned after expiry). */
  def boundedDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q259_sunk")
    val drop = stageEchoWaves(spark, dir)
    // multi-batch drain: the dedup store re-commits per partition per
    // wave — the [[StatePartitions]] loan cuts that fixed overhead
    val progress = Drain.scratch(spark, "q259", 3, 1)(Drain.run(
      spark.readStream.schema(dropSchema)
        .option("maxFilesPerTrigger", "1").json(drop)
        .withWatermark("ts", s"$DelayMs milliseconds")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.format("parquet").option("path", sunk), _))
    // the boundedness claim, checked live: the store never holds
    // the full key history (one stateful operator: the dedup store)
    val peakState = Drain.peakStateRows(progress)
    val staged = spark.read.schema(dropSchema).json(drop).count()
    require(peakState < staged,
      s"q259 state held $peakState rows for $staged staged — " +
        "expiry never happened")
    readBack(spark, sunk)
  }

  /** Rows the q259 drain lands: the admitted arrivals (drop schema
    * verbatim — `dropDuplicatesWithinWatermark` filters, never
    * projects). */
  val sinkSchema: StructType = dropSchema

  /** q259's post-drain read-back — per-type admitted/distinct/
    * re-admitted rollup over the sunk survivors. */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n_admitted"),
        count_distinct(col("event_id")).cast("long").as("n_distinct"),
        (count(lit(1)) - count_distinct(col("event_id"))).cast("long")
          .as("n_readmitted"))
      .orderBy("event_type")

  /** DuckDB oracle for [[boundedDedupQuery]] — replay the lifecycle:
    * every original admits (unique ids, first occurrence); near
    * echoes hit live state and suppress; far echoes return after
    * expiry and re-admit. */
  def boundedDedupOracleSql: String =
    s"""WITH e AS (SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type
         FROM events),
       w AS (SELECT event_id, s, event_type,
           ntile(2) OVER (ORDER BY s, event_id) - 1 AS wave FROM e),
       m AS (SELECT max(CASE WHEN wave = 0 THEN s END) * 1000 AS m0,
           max(s) * 1000 AS mall,
           (max(s) - min(s) - $FarShiftFloorSec) * 1000 AS fs FROM w),
       far AS (SELECT event_id, event_type FROM w, m
         WHERE wave = 0 AND event_id % 7 = 0
           AND s * 1000 + $DelayMs < m0 - $DelayMs
           AND s * 1000 + fs >= mall - $DelayMs),
       adm AS (SELECT event_id, event_type FROM w
         UNION ALL SELECT event_id, event_type FROM far)
     SELECT event_type, CAST(count(*) AS BIGINT) AS n_admitted,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
         AS n_readmitted
     FROM adm GROUP BY 1 ORDER BY 1"""
}

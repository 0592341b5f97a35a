package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Watermarked stream-stream join — the correlation operator for two
  * live feeds (the batch twin is the q42 range join): each click is
  * joined to the same user's purchases in the preceding attribution
  * window.
  *
  * Both sides carry event-time watermarks and the join condition
  * bounds purchase time relative to click time, which is what lets
  * Structured Streaming EXPIRE state: a buffered purchase can only
  * match clicks up to `windowMinutes` later, so once the click-side
  * watermark passes `purchase_ts + window` the row is evicted from
  * the state store. Without the time-interval condition the state
  * grows without bound — the condition is a correctness requirement
  * at scale, not an optimization. State is keyed by user_id, so the
  * shuffle and store partition exactly like the batch join would.
  */
object StreamJoin {

  /** Click→purchase attribution join: purchases at or before the
    * click, within `windowMinutes`. Inner join — emit only attributed
    * clicks; results append as both watermarks advance. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        windowMinutes: Int = 10,
                        watermark: String = "5 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") <= col("click_ts") &&
        col("purchase_ts") >= col("click_ts") -
          expr(s"interval $windowMinutes minutes"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Same interval join with LEFT OUTER semantics (q251): an
    * unattributed click is emitted with a null purchase once the
    * watermark proves no matching purchase can still arrive. The
    * time-interval condition is doubly load-bearing here — it bounds
    * state AND defines when a null-completion row may be emitted. */
  def clickPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame,
                            windowMinutes: Int,
                            watermark: String): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") <= col("click_ts") &&
        col("purchase_ts") >= col("click_ts") -
          expr(s"interval $windowMinutes minutes"),
      "leftOuter")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Same interval join with FULL OUTER semantics (q277): unmatched
    * rows on BOTH sides emit null completions once the watermark
    * proves the other side can no longer arrive — an unmatched click
    * closes when the watermark passes click_ts (its candidate
    * purchases have purchase_ts ≤ click_ts), an unmatched purchase
    * closes when the watermark passes purchase_ts + window (its
    * candidate clicks have click_ts ≤ purchase_ts + window). The
    * output user_id must coalesce across sides: a purchase-side null
    * row has no click columns. */
  def clickPurchaseFullJoin(clicks: DataFrame, purchases: DataFrame,
                            windowMinutes: Int,
                            watermark: String): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") <= col("click_ts") &&
        col("purchase_ts") >= col("click_ts") -
          expr(s"interval $windowMinutes minutes"),
      "fullOuter")
      .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** q229 attribution window; 60 minutes yields a non-trivial match
    * set on the fixture's 30-day event span. */
  val AttributionMinutes = 60

  /** One micro-batch by construction: every drop file fits in the
    * single AvailableNow trigger, so no watermark advance can evict
    * join state between batches and the drained result is COMPLETE —
    * which is exactly what lets a batch oracle check it. (Multi-batch
    * watermark semantics are exercised by StreamingSpec; q218's drain
    * covers the multi-batch stateful family with eviction-safe
    * staging.) */
  val JoinDropFiles = 4
  val JoinFilesPerTrigger = 8

  /** The click/purchase drop schema the three join drains share. */
  private val joinDropSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("t", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Stage click/purchase events as the shared JSONL drop.
    * `floorSeconds` = the q251/q252 tie-dodge (second-floored ms, so
    * event times sit at .000 against the .500 watermark); q229 keeps
    * raw ms precision. */
  private def stageJoinDrop(spark: SparkSession, dir: String,
      drop: String, floorSeconds: Boolean): Unit = {
    val t = if (floorSeconds) unix_timestamp(col("ts")) * lit(1000L)
            else unix_millis(col("ts"))
    graft.sources.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), t.as("t"),
        col("user_id"), col("event_type"), col("value"))
      .repartition(JoinDropFiles).write.mode("overwrite").json(drop)
  }

  /** Attribution pairs rolled up into hourly click-time windows — the
    * chained join→window pipeline of q252/q279/q281. */
  private def joinedWindows(pairs: DataFrame): DataFrame =
    pairs.groupBy(window(col("click_ts"), "3600 seconds"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .select(unix_millis(col("window.start")).as("window_ms"),
        col("n_pairs"))

  /** One side of the dual-stream read over a click/purchase drop:
    * the single-batch drop ([[JoinFilesPerTrigger]]) or a wave drop
    * read one file per micro-batch (the eviction drains). */
  private def joinSide(spark: SparkSession, drop: String,
      eventType: String, filesPerTrigger: Int): DataFrame = spark.readStream
    .schema(joinDropSchema)
    .option("maxFilesPerTrigger", filesPerTrigger.toString)
    .json(drop)
    .filter(col("event_type") === eventType)
    .select(col("event_id"), timestamp_millis(col("t")).as("ts"),
      col("user_id"), col("value"))

  /** q229: the watermarked STREAM-STREAM interval join driven to a
    * hash-checked answer — clicks and purchases staged as one JSONL
    * drop (epoch-ms longs, exact integer round-trip — the q149
    * discipline), read back as TWO file-source streams over the same
    * drop (each side filters its event type), joined with the
    * time-interval condition that bounds state, drained AvailableNow
    * into a parquet sink, and the landed pairs aggregated per user.
    * Equality with the batch interval join over the raw events
    * certifies the whole path: staging, dual-stream scan, state-store
    * join, sink commit log, read-back, and the cents arithmetic. */
  def streamJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q229_sunk")
    val drop = StagedDrops.shared(spark, "join_ms", dir)(
      stageJoinDrop(spark, dir, _, floorSeconds = false))
    // 4 join stores per partition, re-committed per batch — the loan
    // cuts the single batch's fixed store overhead ([[StatePartitions]])
    Drain.scratch(spark, "q229", JoinDropFiles, JoinFilesPerTrigger) { ck =>
      def side(eventType: String): DataFrame =
        joinSide(spark, drop, eventType, JoinFilesPerTrigger)
      Drain.run(clickPurchaseJoin(side("click"), side("purchase"),
          AttributionMinutes)
        .writeStream.format("parquet").option("path", sunk), ck)
    }
    joinReadBack(spark, sunk)
  }

  /** Rows the q229/q251 drains land — the [[clickPurchaseJoin]] /
    * [[clickPurchaseLeftJoin]] output layout (identical; the left
    * join just admits null purchase columns). */
  val joinSinkSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("click_id", LongType),
    StructField("purchase_id", LongType),
    StructField("click_ts", org.apache.spark.sql.types.TimestampType),
    StructField("purchase_ts", org.apache.spark.sql.types.TimestampType),
    StructField("value", DoubleType)))

  /** q229's post-drain read-back — attribution pairs rolled up per
    * user. */
  def joinReadBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(joinSinkSchema).parquet(sunk)
      .groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        count_distinct(col("click_id")).cast("long").as("n_clicks"),
        graft.operators.OlapOps.decSumCents(col("value"))
          .as("value_cents"))
      .orderBy("user_id")

  /** q251 watermark horizon: 600.5 s — second-floored event times sit
    * at .000 ms, the watermark at .500 ms, so the null-completion
    * boundary can never tie (q244's dodge). */
  val LeftJoinHorizonMs = 600500L

  /** q251: the LEFT OUTER stream-stream interval join driven to a
    * hash-checked answer. Staging is q229's single-batch drop with
    * event times floored to the second; the drain then runs one final
    * no-data batch whose watermark closes unmatched clicks. Emission
    * semantics measured before the oracle was written (a synthetic
    * cutoff probe, then confirmed on the corpus): a matched pair
    * emits immediately (inner rows never wait); an UNMATCHED click
    * emits its null-completion row once the GLOBAL watermark passes
    * the click time — and with TWO `withWatermark` nodes the global
    * watermark follows `spark.sql.streaming.multipleWatermarkPolicy`
    * = `min` (the default): `min(max click ts, max purchase ts) -
    * horizon`, NOT the overall max. The slower side gates the
    * completion of the faster one — exactly the cross-feed safety a
    * production attribution pipeline needs, and the detail a naive
    * single-watermark oracle gets wrong (it emitted one extra null
    * row for the click between the two sides' maxima). Clicks after
    * that watermark stay buffered and never emit: the oracle drops
    * them. Output keys nulls as purchase_id = -1 (hash-stable). */
  def leftJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q251_sunk")
    val drop = StagedDrops.shared(spark, "join_sec", dir)(
      stageJoinDrop(spark, dir, _, floorSeconds = true))
    Drain.scratch(spark, "q251", JoinDropFiles, JoinFilesPerTrigger) { ck =>
      def side(eventType: String): DataFrame =
        joinSide(spark, drop, eventType, JoinFilesPerTrigger)
      Drain.run(clickPurchaseLeftJoin(side("click"), side("purchase"),
          AttributionMinutes, s"$LeftJoinHorizonMs milliseconds")
        .writeStream.format("parquet").option("path", sunk), ck)
    }
    // drain-side assertion, NOT part of the read-back: the outer path
    // must actually have been exercised by this drain
    val nulls = spark.read.schema(joinSinkSchema).parquet(sunk)
      .filter(col("purchase_id").isNull).limit(1).count()
    require(nulls > 0,
      "q251 drained without any null-completion row — the outer path " +
        "was not exercised")
    leftJoinReadBack(spark, sunk)
  }

  /** q251's post-drain read-back — pairs plus null completions, nulls
    * keyed as purchase_id = -1 (hash-stable). */
  def leftJoinReadBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(joinSinkSchema).parquet(sunk)
      .select(col("user_id").cast("long"), col("click_id").cast("long"),
        coalesce(col("purchase_id"), lit(-1L)).cast("long")
          .as("purchase_id"))
      .orderBy("user_id", "click_id", "purchase_id")

  /** DuckDB oracle for [[leftJoinQuery]]: the batch left join; null
    * completions survive only for clicks the final MIN-policy
    * watermark closed (min over the two sides' maxima - horizon). */
  def leftJoinOracleSql: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, value,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ms
         FROM events WHERE event_type IN ('click', 'purchase')),
       c AS (SELECT event_id AS click_id, user_id, ms AS ct FROM e
         WHERE event_type = 'click'),
       p AS (SELECT event_id AS purchase_id, user_id, ms AS pt FROM e
         WHERE event_type = 'purchase'),
       fin AS (SELECT least((SELECT max(ct) FROM c),
           (SELECT max(pt) FROM p)) - $LeftJoinHorizonMs AS fwm),
       j AS (SELECT c.user_id, c.click_id, c.ct, p.purchase_id
             FROM c LEFT JOIN p ON p.user_id = c.user_id
               AND p.pt <= c.ct
               AND p.pt >= c.ct - ${AttributionMinutes * 60000L})
     SELECT user_id, click_id,
       coalesce(purchase_id, -1) AS purchase_id
     FROM j, fin
     WHERE purchase_id IS NOT NULL OR ct <= fwm
     ORDER BY user_id, click_id, purchase_id"""

  /** q252: CHAINED stateful operators — the stream-stream interval
    * join feeding a windowed aggregation in the SAME streaming query,
    * the multi-stateful-operator support Spark added in 3.5
    * (SPARK-42376); before that this pipeline needed two queries with
    * an intermediate sink. Attribution pairs roll up into hourly
    * click-time windows while the join is still buffering state — two
    * state stores, one watermark lifecycle.
    *
    * Emission semantics measured before the oracle was written: the
    * hourly window closes against the same MIN-policy final watermark
    * q251 pinned (min of the two sides' maxima - horizon), with NO
    * extra join-induced delay subtracted — a pair's click_ts is never
    * older than the purchase that completes it, so the join's output
    * event time is already watermark-safe and the downstream window
    * needs no allowance. Windows whose end passed that watermark emit
    * exactly once with their full pair count. */
  def joinedWindowQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q252_sunk")
    val drop = StagedDrops.shared(spark, "join_sec", dir)(
      stageJoinDrop(spark, dir, _, floorSeconds = true))
    // two state stores (join + window agg) per partition, 2 batches
    // (one with data, one no-data batch that closes windows)
    Drain.scratch(spark, "q252", JoinDropFiles, JoinFilesPerTrigger) { ck =>
      def side(eventType: String): DataFrame =
        joinSide(spark, drop, eventType, JoinFilesPerTrigger)
      Drain.run(joinedWindows(clickPurchaseJoin(side("click"),
          side("purchase"), AttributionMinutes,
          s"$LeftJoinHorizonMs milliseconds"))
        .writeStream.format("parquet").option("path", sunk), ck)
    }
    joinedWindowReadBack(spark, sunk)
  }

  /** Rows the q252 drain lands (hourly window start, pair count). */
  val joinedWindowSinkSchema: StructType = StructType(Seq(
    StructField("window_ms", LongType),
    StructField("n_pairs", LongType)))

  /** q252's post-drain read-back — the closed hourly windows. */
  def joinedWindowReadBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(joinedWindowSinkSchema).parquet(sunk)
      .select(col("window_ms").cast("long"),
        col("n_pairs").cast("long"))
      .orderBy("window_ms")

  /** DuckDB oracle for [[joinedWindowQuery]]: the batch interval join
    * windowed by click hour; windows survive iff closed by the
    * min-policy final watermark. */
  def joinedWindowOracleSql: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ms
         FROM events WHERE event_type IN ('click', 'purchase')),
       c AS (SELECT event_id AS click_id, user_id, ms AS ct FROM e
         WHERE event_type = 'click'),
       p AS (SELECT event_id AS purchase_id, user_id, ms AS pt FROM e
         WHERE event_type = 'purchase'),
       fin AS (SELECT least((SELECT max(ct) FROM c),
           (SELECT max(pt) FROM p)) - $LeftJoinHorizonMs AS fwm),
       j AS (SELECT c.ct FROM c JOIN p ON p.user_id = c.user_id
               AND p.pt <= c.ct
               AND p.pt >= c.ct - ${AttributionMinutes * 60000L})
     SELECT CAST((ct // 3600000) * 3600000 AS BIGINT) AS window_ms,
       CAST(count(*) AS BIGINT) AS n_pairs
     FROM j, fin
     WHERE (ct // 3600000) * 3600000 + 3600000 <= fwm
     GROUP BY 1 ORDER BY 1"""

  /** q273: the MULTI-BATCH EVICTION PROOF for the stream-stream
    * interval join — the scale claim at [[clickPurchaseJoin]]'s
    * scaladoc ("the time-interval condition is what lets state be
    * evicted") finally measured instead of asserted. q229/q251 drain
    * in ONE batch by design (so a batch oracle sees a complete
    * result), which means their measured peak state is the whole
    * staged feed; THIS drain stages the same click/purchase feed as
    * [[EvictWaves]] time-ordered waves (global (t, event_id) ntile
    * split, one file per micro-batch), so the watermark advances
    * between batches and the state store must shed each batch's
    * buffered rows once they fall out of the interval.
    *
    * Why the result is still COMPLETE (and the single-batch q229
    * oracle applies verbatim): waves are split on the global time
    * order, so every event in wave k+1 carries ts ≥ every event in
    * wave k. A buffered purchase is evictable only when the global
    * watermark (min-policy over the two sides, each max-seen − delay)
    * passes purchase_ts + window; any FUTURE click needing it has
    * click_ts ≥ the current max ts, hence needs purchases ≥ max −
    * window > (max-seen − delay) − window for any delay > 0 — needed
    * rows are never evicted. Symmetrically a click is evictable only
    * below the watermark, where matching purchases (purchase_ts ≤
    * click_ts) can no longer arrive. And no staged row is ever LATE:
    * wave k+1's min ts ≥ wave k's max ≥ watermark + delay. So
    * eviction changes the PEAK STATE, never the answer — which is
    * exactly what lets one oracle certify both the join and the
    * eviction-bounded drain.
    *
    * The boundedness claim is asserted live: peak state-store rows
    * (summed over operators, maxed over batches) must stay under half
    * the staged feed — the measured sf0.1 figure (SCALING.md) is
    * ~2/[[EvictWaves]] of the feed plus the interval tail, vs 100% for
    * the single-batch q229 drain. At 1000 waves (a continuous
    * deployment) the same mechanics hold the buffer at the
    * interval-bounded working set. */
  val EvictWaves = 6

  /** Watermark delay for the eviction drain: ~1 minute. Small relative
    * to the 30-day staged span so eviction is aggressive; the
    * completeness argument above holds for ANY delay > 0. */
  val EvictDelayMs = 60250L

  /** The staged wave drop for q273 (shared once per JVM). */
  private[graft] def stageJoinWaves(spark: SparkSession, dir: String): String =
    StagedDrops.shared(spark, s"join_waves$EvictWaves", dir) { d =>
      val staged = graft.sources.Tables.events(spark, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), unix_millis(col("ts")).as("t"),
          col("user_id"), col("event_type"), col("value"))
        .withColumn("wave",
          (ntile(EvictWaves).over(org.apache.spark.sql.expressions
            .Window.orderBy(col("t"), col("event_id"))) - 1).cast("int"))
        .localCheckpoint()
      EventStream.stageWaveFiles(spark, staged,
        Seq("event_id", "t", "user_id", "event_type", "value"),
        EvictWaves, d)
    }

  /** q273: drain [[clickPurchaseJoin]] across [[EvictWaves]]
    * watermark-advancing micro-batches, assert the state store shed
    * between batches, and roll up the landed pairs per user (q229's
    * read-back and oracle verbatim — the multi-batch drain must land
    * the identical complete result). */
  def evictionJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q273_sunk")
    val drop = stageJoinWaves(spark, dir)
    // 6 batches × 4 join stores per partition re-committed each batch
    // — the fixed overhead [[StatePartitions]] documents (its measured
    // numbers came from THIS drain)
    val progress = Drain.scratch(spark, "q273", EvictWaves, 1)(Drain.run(
      clickPurchaseJoin(joinSide(spark, drop, "click", 1),
          joinSide(spark, drop, "purchase", 1), AttributionMinutes,
          s"$EvictDelayMs milliseconds")
        .writeStream.format("parquet").option("path", sunk), _))
    // the eviction claim, measured live: the join buffer must never
    // hold more than half the staged feed (a non-evicting drain
    // holds 100% — q229's measured single-batch peak)
    val peakState = Drain.peakStateRows(progress)
    val staged = spark.read.schema(joinDropSchema).json(drop).count()
    require(peakState * 2 < staged,
      s"q273 join buffer peaked at $peakState rows for $staged " +
        "staged — watermark eviction never freed state between batches")
    joinReadBack(spark, sunk)
  }

  /** q274: the LEFT OUTER twin of [[evictionJoinQuery]] — q251's
    * null-completion semantics driven across [[EvictWaves]]
    * watermark-advancing micro-batches, so BOTH halves of the
    * round-12 eviction contingency (q229 inner / q251 outer) carry a
    * measured multi-batch proof. The outer path adds one claim the
    * inner drain cannot test: null-completion rows must emit as the
    * watermark closes unmatched clicks MID-DRAIN (not only at the
    * final no-data batch), and each closed click must leave the state
    * store — so the same peak-state bound applies to the outer
    * buffer, which also holds every unmatched click until closure.
    *
    * Why q251's oracle applies verbatim: waves split on the global
    * (t, event_id) order, so a purchase matching a click (purchase_ts
    * ≤ click_ts) is staged in the same or an EARLIER wave — by the
    * time the watermark passes a click (the null-emission point), all
    * its candidate purchases were ingested, so no null row is ever
    * premature. Inner pairs and eviction safety follow q273's
    * argument unchanged, and the FINAL min-policy watermark — which
    * alone decides the surviving null set — depends only on each
    * side's max event time and the [[LeftJoinHorizonMs]] delay,
    * identical to the single-batch drain. Eviction changes the peak
    * state, never the answer. */
  /** The staged outer-join wave drop q274/q277 share: q251's
    * second-floored feed (event times at .000 ms so the .500 ms
    * horizon can never tie — q244's dodge) split into [[EvictWaves]]
    * time-ordered wave files. */
  private[graft] def stageOuterJoinWaves(spark: SparkSession,
      dir: String): String =
    StagedDrops.shared(spark, s"leftjoin_waves$EvictWaves", dir) { d =>
      val staged = graft.sources.Tables.events(spark, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"),
          (unix_timestamp(col("ts")) * lit(1000L)).as("t"),
          col("user_id"), col("event_type"), col("value"))
        .withColumn("wave",
          (ntile(EvictWaves).over(org.apache.spark.sql.expressions
            .Window.orderBy(col("t"), col("event_id"))) - 1).cast("int"))
        .localCheckpoint()
      EventStream.stageWaveFiles(spark, staged,
        Seq("event_id", "t", "user_id", "event_type", "value"),
        EvictWaves, d)
    }

  /** The shared eviction-drain harness for the OUTER variants
    * (q274/q277): drain `join` over the [[stageOuterJoinWaves]] drop
    * across [[EvictWaves]] watermark-advancing micro-batches under
    * the [[StatePartitions]] loan, and assert the three live claims —
    * wave count, peak state under half the staged feed (q273's
    * bound), and mid-drain state removal (rows must leave the store
    * during input-carrying batches, not only at the final no-data
    * batch: removal is both eviction of expired buffer rows and
    * closure of unmatched rows, the mechanics the peak bound depends
    * on wave-to-wave). `assertRemovedMetric` additionally pins the
    * store's own `numRowsRemoved` counter > 0 across the input waves —
    * the left-outer eviction path populates it (measured), so q274
    * asserts the METRIC on top of the totals inference; the full-outer
    * path does not populate it in this Spark version (see below), so
    * q277 relies on the inference alone. Returns the sink path for the
    * caller's read-back. */
  private def drainEvictionJoin(spark: SparkSession, dir: String,
      label: String, assertRemovedMetric: Boolean = false)(
      join: (DataFrame, DataFrame) => DataFrame): String = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, s"${label}_sunk")
    val drop = stageOuterJoinWaves(spark, dir)
    val progress = Drain.scratch(spark, label, EvictWaves, 1)(Drain.run(
      join(joinSide(spark, drop, "click", 1),
          joinSide(spark, drop, "purchase", 1))
        .writeStream.format("parquet").option("path", sunk), _))
    val peakState = Drain.peakStateRows(progress)
    val staged = spark.read.schema(joinDropSchema).json(drop).count()
    require(peakState * 2 < staged,
      s"$label join buffer peaked at $peakState rows for $staged " +
        "staged — watermark eviction never freed state between batches")
    // Inferred from TOTALS (cumulative arrivals minus resident
    // rows), not the numRowsRemoved metric: every input row of an
    // interval join enters one side's buffer, so cum − total is
    // exactly the rows shed so far — and the full-outer eviction
    // path does not populate numRowsRemoved in this Spark version
    // (measured on q277: totals shrink batch to batch while the
    // metric stays 0; the left-outer path does populate it).
    val inputBatches = progress
      .filter(_.numInputRows > 0).sortBy(_.batchId)
    val midDrainShed = inputBatches.zipWithIndex.map {
      case (pr, i) =>
        inputBatches.take(i + 1).map(_.numInputRows).sum -
          pr.stateOperators.map(_.numRowsTotal).sum
    }.max
    require(midDrainShed > 0,
      s"$label shed no state rows during the input waves — the " +
        "watermark never frees the buffer mid-drain")
    require(!assertRemovedMetric ||
        Drain.removedWhileInputFlowed(progress) > 0,
      s"$label reported numRowsRemoved = 0 across the input waves " +
        "— the store's own removal counter must confirm the " +
        "totals-inferred shedding")
    sunk
  }

  def evictionLeftJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = drainEvictionJoin(spark, dir, "q274",
        assertRemovedMetric = true) { (c, p) =>
      clickPurchaseLeftJoin(c, p, AttributionMinutes,
        s"$LeftJoinHorizonMs milliseconds")
    }
    // the outer path itself must have fired (q251's assertion)
    val nulls = spark.read.schema(joinSinkSchema).parquet(sunk)
      .filter(col("purchase_id").isNull).limit(1).count()
    require(nulls > 0,
      "q274 drained without any null-completion row — the outer path " +
        "was not exercised")
    leftJoinReadBack(spark, sunk)
  }

  /** q277: the FULL OUTER eviction drain — the last member of the
    * stream-stream interval-join family (q229/q273 inner, q251/q274
    * left). Both sides' unmatched rows must emit null completions as
    * the watermark closes them, and both closures must leave the
    * state store, so the q273 peak bound and the q274 mid-drain
    * removal claim apply to BOTH buffers at once.
    *
    * Emission semantics measured before the oracle was written
    * (q251's discipline): an unmatched CLICK closes when the
    * min-policy watermark passes click_ts (its candidate purchases
    * have purchase_ts ≤ click_ts — q251's rule verbatim); an
    * unmatched PURCHASE closes when the watermark passes purchase_ts
    * + window (its candidate clicks have click_ts ≤ purchase_ts +
    * window). Completeness across waves holds on both sides: a
    * click's candidates arrive in the same or EARLIER waves
    * (purchase_ts ≤ click_ts), and by the time the watermark passes
    * purchase_ts + window every candidate click (click_ts ≤
    * purchase_ts + window < max-seen) is already ingested — so no
    * null row is ever premature, and the final watermark, identical
    * to a single-batch drain's, alone decides both surviving null
    * sets. Nulls are keyed -1 on both sides (hash-stable). */
  def evictionFullJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = drainEvictionJoin(spark, dir, "q277") { (c, p) =>
      clickPurchaseFullJoin(c, p, AttributionMinutes,
        s"$LeftJoinHorizonMs milliseconds")
    }
    // both outer paths must actually have fired
    val landed = spark.read.schema(joinSinkSchema).parquet(sunk)
    require(landed.filter(col("purchase_id").isNull).limit(1).count() > 0,
      "q277 drained without any click-side null completion")
    require(landed.filter(col("click_id").isNull).limit(1).count() > 0,
      "q277 drained without any purchase-side null completion")
    fullJoinReadBack(spark, sunk)
  }

  /** q279: the CHAINED eviction drain — q252's join→windowed-agg
    * pipeline (two state stores, one watermark lifecycle) staged
    * across [[EvictWaves]] watermark-advancing waves, so BOTH stores
    * must shed mid-drain: the join buffer as the interval condition
    * expires rows (q273's mechanics) and the window store as hourly
    * windows close and emit. This measures the q252 "cadence caveat"
    * in SCALING.md — the last stateful family whose multi-batch peak
    * was asserted rather than measured.
    *
    * q252's oracle applies verbatim: the joined rows are complete
    * across waves (q273's completeness argument — needed rows are
    * never evicted, staged rows are never late), a window may close
    * only when the min-policy watermark passes its end (at which
    * point no pair with a click in that hour can still form), and
    * the FINAL watermark deciding the emitted-window set depends only
    * on each side's max event time and the horizon — identical to
    * the 2-batch drain. */
  def evictionJoinedWindowQuery(spark: SparkSession, dir: String)
      : DataFrame = drainChainedEviction(spark, dir, "q279")

  /** q281: q279's chained eviction drain ON ROCKSDB — the provider the
    * 100 TB state posture actually leans on (README §scale), run with
    * the SAME live assertions (wave count, summed peak < ½ staged,
    * mid-drain removal) and the SAME oracle. Before this query the
    * eviction family drained only on the default HDFS-backed provider
    * while only the transformWithState family (q246/q271/q275)
    * exercised RocksDB; this closes the gap at the family's hardest
    * member (two chained stores, one watermark lifecycle). The
    * provider is a loan ([[EventStream.withRocksDbProvider]]) so it
    * cannot leak into queries sharing the session. */
  def rocksDbChainedEvictionQuery(spark: SparkSession, dir: String)
      : DataFrame =
    EventStream.withRocksDbProvider(spark) {
      drainChainedEviction(spark, dir, "q281")
    }

  /** The chained join→window eviction drain (q279/q281 share it; the
    * state-store provider is whatever the session carries when the
    * drain starts, which is how q281 swaps in RocksDB). */
  private def drainChainedEviction(spark: SparkSession, dir: String,
      label: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, s"${label}_sunk")
    val drop = stageOuterJoinWaves(spark, dir)
    val progress = Drain.scratch(spark, label, EvictWaves, 1)(Drain.run(
      joinedWindows(clickPurchaseJoin(joinSide(spark, drop, "click", 1),
          joinSide(spark, drop, "purchase", 1), AttributionMinutes,
          s"$LeftJoinHorizonMs milliseconds"))
        .writeStream.format("parquet").option("path", sunk), _))
    // the eviction claim, measured live across BOTH stores: summed
    // peak state must stay under half the staged feed (q252's
    // 2-batch drain peaks at the whole feed + open windows)
    val peakState = Drain.peakStateRows(progress)
    val staged = spark.read.schema(joinDropSchema).json(drop).count()
    require(peakState * 2 < staged,
      s"$label chained stores peaked at $peakState rows for $staged " +
        "staged — neither eviction nor window close freed state " +
        "between batches")
    // mid-drain shedding, measured on the stores' own counters:
    // rows must be REMOVED during input-carrying batches (the
    // inner-join buffer populates numRowsRemoved on eviction —
    // unlike the full-outer path, see drainEvictionJoin — and the
    // window store populates it on close). The file sink reports
    // numOutputRows = -1, so sink-side emission is not observable.
    require(Drain.removedWhileInputFlowed(progress) > 0,
      s"$label removed no state rows during the input waves — " +
        "neither eviction nor window close fired mid-drain")
    joinedWindowReadBack(spark, sunk)
  }

  /** q277's post-drain read-back — matched pairs plus BOTH sides'
    * null completions, nulls keyed as -1 (hash-stable). */
  def fullJoinReadBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(joinSinkSchema).parquet(sunk)
      .select(col("user_id").cast("long"),
        coalesce(col("click_id"), lit(-1L)).cast("long").as("click_id"),
        coalesce(col("purchase_id"), lit(-1L)).cast("long")
          .as("purchase_id"))
      .orderBy("user_id", "click_id", "purchase_id")

  /** DuckDB oracle for [[evictionFullJoinQuery]]: the batch full
    * outer interval join; click-side nulls survive iff the final
    * MIN-policy watermark passed the click (q251's rule), purchase-
    * side nulls iff it passed purchase_ts + window (the purchase's
    * last possible match). Second-floored event times against the
    * .500 ms horizon — neither boundary can tie. */
  def fullJoinOracleSql: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, value,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ms
         FROM events WHERE event_type IN ('click', 'purchase')),
       c AS (SELECT event_id AS click_id, user_id, ms AS ct FROM e
         WHERE event_type = 'click'),
       p AS (SELECT event_id AS purchase_id, user_id, ms AS pt FROM e
         WHERE event_type = 'purchase'),
       fin AS (SELECT least((SELECT max(ct) FROM c),
           (SELECT max(pt) FROM p)) - $LeftJoinHorizonMs AS fwm),
       j AS (SELECT coalesce(c.user_id, p.user_id) AS user_id,
               c.click_id, c.ct, p.purchase_id, p.pt
             FROM c FULL JOIN p ON p.user_id = c.user_id
               AND p.pt <= c.ct
               AND p.pt >= c.ct - ${AttributionMinutes * 60000L})
     SELECT user_id, coalesce(click_id, -1) AS click_id,
       coalesce(purchase_id, -1) AS purchase_id
     FROM j, fin
     WHERE (click_id IS NOT NULL AND purchase_id IS NOT NULL)
        OR (purchase_id IS NULL AND ct <= fwm)
        OR (click_id IS NULL
            AND pt + ${AttributionMinutes * 60000L} <= fwm)
     ORDER BY user_id, click_id, purchase_id"""

  /** DuckDB oracle for [[streamJoinQuery]] — the batch interval join
    * over the raw events at the staged ms precision. */
  def streamJoinOracleSql: String =
    s"""WITH c AS (SELECT event_id AS click_id, user_id,
           epoch_ms(ts) AS ct FROM events WHERE event_type = 'click'),
       p AS (SELECT event_id AS purchase_id, user_id,
           epoch_ms(ts) AS pt, value FROM events
         WHERE event_type = 'purchase'),
       j AS (SELECT c.user_id, c.click_id, p.purchase_id, p.value
             FROM c JOIN p ON p.user_id = c.user_id
               AND p.pt <= c.ct
               AND p.pt >= c.ct - ${AttributionMinutes * 60000L})
     SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT click_id) AS BIGINT) AS n_clicks,
       CAST(round(sum(CAST(value AS DECIMAL(38,10))), 2) * 100
         AS BIGINT) AS value_cents
     FROM j GROUP BY 1 ORDER BY user_id"""
}

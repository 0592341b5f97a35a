package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped INCREMENTAL VIEW MAINTENANCE over the CDC log (q288) —
  * the retraction machinery the log's `prev_ver` column exists for,
  * exercised on a view where retraction actually BITES: a GROUPED
  * aggregate whose group key is a function of the maintained value,
  * so an update moves its key BETWEEN groups and the view can only
  * stay correct by subtracting the pre-image from the group it left.
  * q276's retraction identity is a global scalar (one Σver — no
  * group ever changes); this is the real IVM shape: per-bucket
  * (count, sum) maintained from ops alone, never scanning the table.
  *
  * The view: `SELECT ver % 7 AS bucket, count(*), sum(ver) FROM
  * <table state> GROUP BY bucket`. Per batch the delta is
  *
  *   - +(1, ver)       at bucket(ver)       for every op, and
  *   - −(1, prev_ver)  at bucket(prev_ver)  for every UPDATE op
  *
  * aggregated by bucket and merged into the prior view (full-outer +
  * coalesced sums — the standard count/sum retraction monoid). Groups
  * whose count reaches zero are DROPPED, which keeps the view equal
  * to the from-scratch GROUP BY (no empty groups); a zero count
  * forces a zero sum because each key's retraction subtracts exactly
  * the value its arrival added.
  *
  * Scale shape: the view is at most [[Buckets]] rows, so each step is
  * O(batch ops + |view|) — the maintenance cost is the change, not
  * the table. The materialized view chain runs the SAME storage
  * discipline as the consumer's state chain (write-new-then-repoint
  * commit markers, K-window vacuum, position derived from disk —
  * [[UpsertStream.applyConsumerBatch]]'s contract), so the MV is
  * itself restart-safe and storage-bounded.
  *
  * Reference anchor: the reference has no change feed at all (its
  * tables are overwrite-loaded, DynaLedger backend/main.py:43-252);
  * this extends the beyond-parity CDC family (q265/q276/q280/q284).
  */
object GroupedIvm {

  /** Group-key cardinality of the maintained view (the modulus). */
  val Buckets = 7

  private def bucketOf(c: Column): Column = pmod(c, lit(Buckets.toLong))

  /** Rows a materialized-view dir holds. */
  private val mvSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("bucket", LongType),
      StructField("n_docs", LongType),
      StructField("sum_ver", LongType)))
  }

  /** One IVM step: read batch `b`'s ops from the log, build the
    * retraction delta, merge it onto the view at `prev`, write the
    * next view to `mvRoot/s<b>` (mode overwrite — torn replayed
    * attempts are idempotent), mark it committed, vacuum views below
    * the K-window, and return its path. */
  private[graft] def applyMvBatch(spark: SparkSession, cdc: String,
      b: Long, prev: Option[String], mvRoot: String,
      retain: Int = 2): String = {
    require(retain >= 2,
      s"retain=$retain — the window must keep the s(b-1) replay margin")
    UpsertStream.vacuumConsumerStates(spark, mvRoot, b - (retain - 1))
    val ops = UpsertStream.readCdcLog(spark, cdc)
      .filter(col("batch") === b)
      .select("op", "doc_id", "ver", "prev_ver")
    val additions = ops.select(bucketOf(col("ver")).as("bucket"),
      lit(1L).as("dn"), col("ver").as("dv"))
    val retractions = ops.filter(col("op") === "update")
      .select(bucketOf(col("prev_ver")).as("bucket"),
        lit(-1L).as("dn"), (-col("prev_ver")).as("dv"))
    val delta = additions.unionByName(retractions)
      .groupBy("bucket")
      .agg(sum("dn").as("dn"), sum("dv").as("dv"))
    val next = prev match {
      case None => delta.select(col("bucket"),
        col("dn").as("n_docs"), col("dv").as("sum_ver"))
      case Some(d) =>
        spark.read.schema(mvSchema).parquet(d)
          .join(delta, Seq("bucket"), "full")
          .select(col("bucket"),
            (coalesce(col("n_docs"), lit(0L)) +
              coalesce(col("dn"), lit(0L))).as("n_docs"),
            (coalesce(col("sum_ver"), lit(0L)) +
              coalesce(col("dv"), lit(0L))).as("sum_ver"))
    }
    val out = s"$mvRoot/s$b"
    next.filter(col("n_docs") > 0)
      .write.mode("overwrite").parquet(out)
    UpsertStream.markCommitted(spark, out)
    out
  }

  /** q288: the grouped view maintained incrementally across the CDC
    * drain's batches, position derived from disk at every step (the
    * q287 resume-is-the-only-path discipline). Asserted live:
    *
    *   1. RETRACTION BITES: at least one update op MOVES buckets
    *      (bucket(ver) ≠ bucket(prev_ver)) — otherwise the run would
    *      wire the machinery without exercising cross-group
    *      subtraction, and the oracle match would prove nothing new.
    *   2. BOUNDED CHAIN: the MV chain holds ≤ K directories while the
    *      loop runs (same storage bound as q287's state chain).
    *   3. VIEW IDENTITY: the final materialized view equals the
    *      from-scratch GROUP BY over the reconstructed table state,
    *      row-for-row (full-outer compare, zero disagreements) — the
    *      incremental path and the scan path meet.
    *
    * Oracle: DuckDB's from-scratch bucket rollup over the per-user
    * argmax — certifies the retraction algebra end to end. */
  def groupedIvmQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.Scratch.dirOutliving(spark, "q288_table")
    val cdc = graft.sources.Scratch.dirOutliving(spark, "q288_cdc")
    val drop = UpsertStream.stageUpsertWaves(spark, dir)
    UpsertStream.scratchCdcWaves(spark, "q288", drop, root, cdc)
    // claim 1: the staged schedule actually moves keys across buckets
    val moved = UpsertStream.readCdcLog(spark, cdc)
      .filter(col("op") === "update" &&
        bucketOf(col("ver")) =!= bucketOf(col("prev_ver")))
      .count()
    require(moved > 0,
      "q288 staged no bucket-moving update — cross-group retraction " +
        "would go unexercised")
    val mvRoot = graft.sources.Scratch.dirOutliving(spark, "q288_mv")
    for (b <- 0L until UpsertStream.Waves.toLong) {
      val st = UpsertStream.currentConsumerState(spark, mvRoot)
      require(st.map(_._1).getOrElse(-1L) == b - 1,
        s"q288 step $b: latest committed view is " +
          s"${st.map(_._1).getOrElse(-1L)}, expected ${b - 1}")
      applyMvBatch(spark, cdc, b, st.map(_._2), mvRoot)
      // claim 2: the MV chain stays bounded while the vacuum fires
      val live = UpsertStream.consumerStateCount(spark, mvRoot)
      val want = math.min(b + 1, 2L).toInt
      require(live == want,
        s"q288 step $b: $live live view dirs, expected $want")
    }
    // claim 3: incremental view == from-scratch rollup, row-for-row
    val (lastB, lastDir) = UpsertStream.currentConsumerState(spark, mvRoot)
      .getOrElse(sys.error("q288 ended with no committed view"))
    require(lastB == UpsertStream.Waves - 1L,
      s"q288 final view is s$lastB, expected s${UpsertStream.Waves - 1}")
    // checkpointed ONCE: the identity compare and the returned frame
    // share one rollup computation instead of re-running it per action
    val readBack = groupedIvmReadBack(spark, cdc).localCheckpoint()
    val disagree = graft.FrameCheck.disagreements(
      spark.read.schema(mvSchema).parquet(lastDir), readBack,
      keys = Seq("bucket"), vals = Seq("n_docs", "sum_ver"))
    require(disagree == 0,
      s"q288 incremental view disagrees with the from-scratch rollup " +
        s"on $disagree buckets")
    readBack
  }

  /** One GUARDED IVM step — the at-least-once-to-exactly-once bridge
    * a view maintained INSIDE a foreachBatch drain needs: foreachBatch
    * replays a batch whose checkpoint commit was lost, so the step
    * first reads the view's durable position ([[UpsertStream.
    * currentConsumerState]]) and applies batch `b` only when the
    * position is exactly b−1. A replay of an already-applied batch
    * (position ≥ b) is a NO-OP — the disk position, not the
    * checkpoint, is what makes the view effectively-once; a torn
    * (marker-less) attempt is invisible to the position read, so a
    * crash mid-apply re-applies idempotently. A position below b−1
    * means a batch was skipped and the view can only be wrong —
    * fail loudly rather than fold a gap. */
  private[graft] def applyMvBatchGuarded(spark: SparkSession,
      cdc: String, b: Long, mvRoot: String): Unit = {
    val st = UpsertStream.currentConsumerState(spark, mvRoot)
    val pos = st.map(_._1).getOrElse(-1L)
    if (pos >= b) () // replayed batch, already folded — effectively-once
    else {
      require(pos == b - 1,
        s"view position $pos cannot accept batch $b — a batch gap " +
          "would fold an incomplete history")
      applyMvBatch(spark, cdc, b, st.map(_._2), mvRoot)
      ()
    }
  }

  /** q291: the grouped view maintained INSIDE the live CDC drain —
    * q288's fold run where production runs it, in the same
    * foreachBatch transaction as the table merge and the log write,
    * through the replay guard ([[applyMvBatchGuarded]]). Per batch,
    * asserted live IN the drain: the just-committed view equals the
    * from-scratch rollup of batches ≤ b (so the view is consistent
    * with the log at every commit point, not just after the drain).
    * The at-least-once cases — kill after the view commits but before
    * the checkpoint (replay must skip), kill mid-apply (torn view,
    * replay must re-apply) — are GroupedIvmSpec's restart cases.
    * Oracle: q288's from-scratch bucket rollup verbatim. */
  def streamingIvmQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.Scratch.dirOutliving(spark, "q291_table")
    val cdc = graft.sources.Scratch.dirOutliving(spark, "q291_cdc")
    val mvRoot = graft.sources.Scratch.dirOutliving(spark, "q291_mv")
    val drop = UpsertStream.stageUpsertWaves(spark, dir)
    Drain.scratch(spark, "q291", UpsertStream.Waves, 1)(
      UpsertStream.cdcWaves(spark, drop, root, cdc, _, None,
        { (cdcDir, b) =>
          applyMvBatchGuarded(spark, cdcDir, b, mvRoot)
          // in-drain consistency: view(b) == rollup of batches <= b
          val (pos, viewDir) = UpsertStream
            .currentConsumerState(spark, mvRoot)
            .getOrElse(sys.error(s"q291 batch $b left no committed view"))
          require(pos == b, s"q291 batch $b: view position is $pos")
          val disagree = graft.FrameCheck.disagreements(
            spark.read.schema(mvSchema).parquet(viewDir),
            groupedIvmReadBackUpTo(spark, cdcDir, b),
            keys = Seq("bucket"), vals = Seq("n_docs", "sum_ver"))
          require(disagree == 0,
            s"q291 batch $b: the in-drain view disagrees with the " +
              s"rollup of batches <= $b on $disagree buckets")
        }))
    groupedIvmReadBack(spark, cdc)
  }

  /** The from-scratch rollup over batches ≤ `upTo` (the in-drain
    * consistency comparator). */
  private def groupedIvmReadBackUpTo(spark: SparkSession, cdc: String,
      upTo: Long): DataFrame = {
    val last = UpsertStream.readCdcLog(spark, cdc)
      .filter(col("batch") <= upTo)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("batch").desc)))
      .filter(col("__rn") === 1)
    last.groupBy(bucketOf(col("ver")).as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("ver")).cast("long").as("sum_ver"))
      .select(col("bucket").cast("long").as("bucket"),
        col("n_docs"), col("sum_ver"))
  }

  /** q291's read-back — q288's ([[groupedIvmReadBack]]): where the
    * fold runs must not change what it computes. */
  def streamingIvmReadBack(spark: SparkSession, cdc: String): DataFrame =
    groupedIvmReadBack(spark, cdc)

  /** Rows the q291 drain's downstream view consumes (the CDC log
    * layout). */
  val streamingIvmSinkSchema: org.apache.spark.sql.types.StructType =
    UpsertStream.cdcSinkSchema

  /** DuckDB oracle for [[streamingIvmQuery]] — q288's from-scratch
    * bucket rollup verbatim. */
  def streamingIvmOracleSql: String = groupedIvmOracleSql

  /** q288's read-back: the from-scratch rollup over the whole log —
    * [[groupedIvmReadBackUpTo]] unbounded, so the in-drain comparator
    * and the oracle read-back share ONE rollup definition. The live
    * queries assert their materialized views equal this before
    * returning it, so the oracle certifies the retraction algebra. */
  def groupedIvmReadBack(spark: SparkSession, cdc: String): DataFrame =
    groupedIvmReadBackUpTo(spark, cdc, Long.MaxValue).orderBy("bucket")

  /** Rows the q288 maintenance consumes (the CDC log layout). */
  val groupedIvmSinkSchema: org.apache.spark.sql.types.StructType =
    UpsertStream.cdcSinkSchema

  /** DuckDB oracle for [[groupedIvmQuery]] — the from-scratch bucket
    * rollup over each user's final (max) version: what the
    * incrementally-maintained view must equal. */
  def groupedIvmOracleSql: String =
    s"""WITH s AS (SELECT user_id, max(event_id) AS ver
           FROM events GROUP BY 1)
     SELECT CAST(ver % ${Buckets} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ver) AS BIGINT) AS sum_ver
     FROM s GROUP BY 1 ORDER BY 1"""
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** The two OUTPUT MODES the rest of the streaming family never uses
  * (every other drained query appends): UPDATE mode feeding an
  * idempotent keyed merge (q256) and COMPLETE mode feeding a
  * whole-snapshot overwrite (q257).
  *
  * Why these need their own sinks: a file sink only supports append,
  * so update/complete results live behind `foreachBatch` — exactly
  * how a serving table is maintained in production. Update mode emits
  * the CHANGED groups per micro-batch (a group's latest emission is
  * its current total, so last-writer-wins by batch order is the
  * correct merge — no version column needed); complete mode re-emits
  * the WHOLE result per batch, which is what makes global ORDER BY +
  * LIMIT legal in streaming — the top-K leaderboard shape append mode
  * cannot express.
  *
  * Watermark posture, stated rather than hidden: q256 runs
  * UNWATERMARKED, so no row is ever late-dropped and the final
  * snapshot equals the batch aggregate exactly — the tradeoff is
  * state proportional to open groups (bounded here by hours × types;
  * the watermark lifecycle under eviction is q243's claim). q257's
  * complete mode retains all groups by definition.
  */
object UpdateModeStream {

  /** Wave count — three since round 14 so the snapshot-retention
    * vacuum (first firing at batch 2) actually executes a delete in
    * the drained queries, not just wires the policy. */
  val Waves = 3

  /** The shared three-wave arrival schedule + drain: stage events
    * split by the global (ts, event_id) order (q244's staging), stream
    * one wave per micro-batch through the caller's writer, and require
    * all batches ran — defined once so the two output-mode queries
    * cannot drift apart in their arrival schedules. */
  private def drainWaves(spark: SparkSession, dir: String,
      label: String)(
      attach: DataFrame => DataStreamWriter[org.apache.spark.sql.Row])
      : Unit = {
    val drop = StagedDrops.shared(spark, s"event_waves$Waves", dir) { d =>
      val staged = graft.sources.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
        .withColumn("wave",
          (ntile(Waves).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("ts"), col("event_id"))) - 1).cast("int"))
        .localCheckpoint()
      EventStream.stageWaveFiles(spark, staged,
        Seq("event_id", "user_id", "event_type", "ts"), Waves, d)
    }
    // shared by q256/q257: state re-commits per partition per wave;
    // a single batch would never exercise the second-batch overwrite
    Drain.scratch(spark, label, Waves, 1)(Drain.run(
      attach(spark.readStream
        .schema(graft.streaming.IdleCloseStream.idleSchema)
        .option("maxFilesPerTrigger", "1").json(drop)), _))
  }

  /** q256: hourly per-type counts in UPDATE mode, merged per batch
    * into a keyed snapshot (last writer wins); two arrival waves so
    * second-batch emissions must OVERWRITE first-batch rows for every
    * window straddling the split. Final snapshot = the batch GROUP BY,
    * which is the oracle. */
  def updateModeQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.Scratch.dirOutliving(spark, "q256_table")
    drainWaves(spark, dir, "q256") { stream =>
      stream
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"))
        .select(unix_millis(col("w.start")).as("window_ms"),
          col("event_type"), col("n"))
        .writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // retention first: batch b reads only v{b-1}, and every
          // batch < b has committed, so snapshots below v{b-1} are
          // dead weight (UpsertStream.vacuumSnapshots' replay-safety
          // argument applies verbatim — the chain stays ~2 long)
          UpsertStream.vacuumSnapshots(spark, root, batchId - 1)
          // last-writer-wins keyed merge: this batch's rows replace
          // the stored rows for the same (window, type); update mode
          // guarantees the latest emission carries the current total.
          // The batch frame feeds BOTH the anti-join probe and the
          // union — persist it so the streaming aggregation subtree
          // runs once, not twice, per micro-batch
          batch.persist()
          try {
            val cur = s"$root/v$batchId"
            val base =
              if (batchId == 0) batch.limit(0)
              else spark.read.schema(updateModeSinkSchema).parquet(s"$root/v${batchId - 1}")
                .join(batch.select("window_ms", "event_type"),
                  Seq("window_ms", "event_type"), "left_anti")
            base.unionByName(batch).write.mode("overwrite").parquet(cur)
          } finally batch.unpersist()
          ()
        }
    }
    // retention observed: the crash-free drain ends with {v1, v2}
    val live = UpsertStream.snapshotCount(spark, root)
    require(live == 2,
      s"q256 drained with $live live snapshots — retention must leave " +
        "exactly {v(N-1), v(N)}")
    updateModeReadBack(spark, s"$root/v${Waves - 1}")
  }

  /** Rows each q256 snapshot version holds (the update-mode emission
    * layout the keyed merge preserves). */
  val updateModeSinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("window_ms", LongType),
      StructField("event_type", StringType),
      StructField("n", LongType)))
  }

  /** q256's post-drain read-back over the FINAL snapshot version
    * directory. */
  def updateModeReadBack(spark: SparkSession, snapshot: String): DataFrame =
    spark.read.schema(updateModeSinkSchema).parquet(snapshot)
      .select(col("window_ms").cast("long"), col("event_type"),
        col("n").cast("long"))
      .orderBy("window_ms", "event_type")

  /** DuckDB oracle for [[updateModeQuery]]: the plain hourly GROUP BY
    * — update mode with last-writer-wins merging loses nothing. */
  def updateModeOracleSql: String =
    """SELECT CAST(epoch_ms(ts) // 3600000 * 3600000 AS BIGINT)
         AS window_ms,
       event_type, CAST(count(*) AS BIGINT) AS n
     FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** q257 leaderboard size. */
  val TopK = 20

  /** q257: the COMPLETE-mode top-K leaderboard — per-user event
    * counts, globally sorted and limited INSIDE the streaming query
    * (legal only in complete mode), snapshot-overwritten per batch.
    * The final snapshot must equal the batch top-K under the same
    * total order (count desc, user_id asc — ties broken
    * deterministically). */
  def completeModeQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.Scratch.dirOutliving(spark, "q257_table")
    drainWaves(spark, dir, "q257") { stream =>
      stream
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("n").desc, col("user_id").asc)
        .limit(TopK)
        .writeStream
        .outputMode(OutputMode.Complete())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // complete mode re-emits the whole leaderboard: the merge
          // IS a snapshot overwrite, and retention is even simpler
          // than q256's — no batch reads ANY prior snapshot, so the
          // keep-from-v{b-1} policy is applied uniformly for the
          // shared crash-safety argument, not out of need
          UpsertStream.vacuumSnapshots(spark, root, batchId - 1)
          batch.write.mode("overwrite").parquet(s"$root/v$batchId")
          ()
        }
    }
    val live = UpsertStream.snapshotCount(spark, root)
    require(live == 2,
      s"q257 drained with $live live snapshots — retention must leave " +
        "exactly {v(N-1), v(N)}")
    completeModeReadBack(spark, s"$root/v${Waves - 1}")
  }

  /** Rows each q257 leaderboard snapshot holds. */
  val completeModeSinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("n", LongType)))
  }

  /** q257's post-drain read-back over the FINAL leaderboard
    * snapshot. */
  def completeModeReadBack(spark: SparkSession,
      snapshot: String): DataFrame =
    spark.read.schema(completeModeSinkSchema).parquet(snapshot)
      .select(col("user_id").cast("long"), col("n").cast("long"))
      .orderBy(col("n").desc, col("user_id").asc)

  /** DuckDB oracle for [[completeModeQuery]]: the batch top-K under
    * the identical total order. */
  def completeModeOracleSql: String =
    s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n
       FROM events GROUP BY 1
       ORDER BY n DESC, user_id ASC LIMIT $TopK"""
}

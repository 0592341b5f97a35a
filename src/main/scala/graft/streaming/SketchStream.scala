package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{CorpusStats, Maintenance}

/** Streaming count-min-sketch maintenance — the incremental twin of
  * the batch CMS (q101). The sketch's defining property is that grids
  * of disjoint corpus slices MERGE by cell-wise addition, so a stream
  * maintains the corpus sketch by writing one partial grid per
  * micro-batch and merging on read; no micro-batch ever re-reads the
  * corpus, and the serving estimate is a groupBy-sum over
  * (batches × d × w) metadata-scale rows.
  *
  * Idempotence: each batch's partial lands under `batch=<id>` and is
  * OVERWRITTEN on replay (foreachBatch re-delivers a batch id after a
  * crash) — the checkpoint serializes batches, so replays rewrite the
  * same subdirectory with the same deterministic content instead of
  * double-counting. The same per-batch-partition idempotent-sink
  * pattern as a warehouse's staged loads; compaction of old partials
  * into a base grid is the natural follow-up and reuses
  * `Maintenance.compact`'s write-new-then-swap argument.
  */
object SketchStream {

  /** Drain `dropDir` with AvailableNow, writing one partial CMS grid
    * per micro-batch under `gridDir/batch=<id>`. */
  def cmsAvailableNow(spark: SparkSession, dropDir: String,
      gridDir: String, checkpoint: String): Unit = {
    Drain.run(DocStream.readDocStream(spark, dropDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        CorpusStats.cmsGrid(batch)
          .write.mode("overwrite").parquet(s"$gridDir/batch=$batchId")
        ()
      }, checkpoint)
  }

  /** The merged corpus grid: cell-wise sum of every batch partial. */
  def mergedGrid(spark: SparkSession, gridDir: String): DataFrame = {
    val p = new Path(gridDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no grid partials under $gridDir")
    spark.read.schema(Maintenance.dataSchema(spark, gridDir)).parquet(gridDir)
      .groupBy("r", "bucket").agg(sum(col("counter")).as("counter"))
  }

  /** Streaming HLL maintenance — the incremental twin of the batch
    * registers (q152), same shape as the CMS path above: one partial
    * register table per micro-batch under `regDir/batch=<id>`,
    * merged on read by per-register MAX. Unlike the CMS sum, max is
    * also IDEMPOTENT, so even a partial that slipped into the merge
    * twice cannot inflate the distinct estimate; the batch=<id>
    * overwrite discipline is kept anyway for sink hygiene. */
  def hllAvailableNow(spark: SparkSession, dropDir: String,
      regDir: String, checkpoint: String): Unit = {
    Drain.run(EventStream.readEventStream(spark, dropDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.DistinctSketch
          .registers(batch, "event_type", "user_id")
          .write.mode("overwrite").parquet(s"$regDir/batch=$batchId")
        ()
      }, checkpoint)
  }

  /** The merged register table: per-register max of every batch
    * partial — rows are batches × groups × m, metadata-scale. */
  def mergedRegisters(spark: SparkSession, regDir: String): DataFrame = {
    val p = new Path(regDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no register partials under $regDir")
    spark.read.schema(Maintenance.dataSchema(spark, regDir)).parquet(regDir)
      .groupBy("event_type", "register")
      .agg(max(col("max_rho")).as("max_rho"))
  }

  /** Streaming AGMS maintenance — the third sketch family kept
    * incrementally (CMS merges by SUM, HLL by MAX, the signed AGMS
    * grid again by SUM): one partial signed grid per micro-batch over
    * the batch's user-key counts, merged on read. A continuously
    * maintained AGMS grid is a live join-size estimate (q154/q155)
    * for the planner — no re-scan of history to re-estimate after
    * each arrival. NOT idempotent under double-merge (signed sums add
    * like CMS counters), hence the same batch=<id> overwrite
    * discipline as the CMS path. */
  def agmsAvailableNow(spark: SparkSession, dropDir: String,
      gridDir: String, checkpoint: String): Unit = {
    Drain.run(EventStream.readEventStream(spark, dropDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.JoinStrategies.agmsCells(
            batch.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
              .select(col("user_id").cast("string").as("k"), col("cnt")))
          .write.mode("overwrite").parquet(s"$gridDir/batch=$batchId")
        ()
      }, checkpoint)
  }

  /** The merged signed grid: cell-wise sum of every batch partial. */
  def mergedAgms(spark: SparkSession, gridDir: String): DataFrame = {
    val p = new Path(gridDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no AGMS partials under $gridDir")
    spark.read.schema(Maintenance.dataSchema(spark, gridDir)).parquet(gridDir)
      .groupBy("r", "bucket").agg(sum(col("c")).as("c"))
  }
}

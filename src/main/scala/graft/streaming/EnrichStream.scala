package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAM-STATIC enrichment join — the dimension-attach pattern for a
  * live feed: a streaming fact source joined against a plain batch
  * DataFrame inside the streaming query. Spark re-plans the join per
  * micro-batch with the static side broadcast, so unlike the
  * stream-stream family (StreamJoin) there is NO state store, no
  * watermark requirement, and no buffering — each batch's rows join
  * and leave. This is the right tool whenever one side is a slowly-
  * changing dimension: the 100 TB fact stream never shuffles, and the
  * dim rides the broadcast exactly as it would in the batch plan.
  */
object EnrichStream {

  /** q258: streamed events enriched with the customer dimension
    * (market segment), drained over ≥2 micro-batches — the multi-batch
    * requirement proves the static side re-attaches per batch, not
    * just once — then rolled up per (segment, event type). Equality
    * with the batch join over the raw tables certifies the staging,
    * the per-batch broadcast re-plan, the sink commit log, and the
    * cents arithmetic. */
  def enrichedQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q258_sunk")
    val drop = EventStream.stageEventsMs(spark, dir)
    val dim = graft.sources.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    // 4 files at 2/trigger: a single batch never proves the per-batch
    // dim re-attach
    Drain.scratch(spark, "q258", 4, 2)(Drain.run(
      spark.readStream.schema(EventStream.eventSchema)
        .option("maxFilesPerTrigger", "2").json(drop)
        .join(broadcast(dim), Seq("user_id"))
        .writeStream.format("parquet").option("path", sunk), _))
    readBack(spark, sunk)
  }

  /** Rows the q258 drain lands: the streamed event columns (join key
    * first — the join output layout) plus the attached dim column. */
  val sinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("c_mktsegment", StringType)))
  }

  /** q258's post-drain read-back — the per-(segment, type) rollup
    * over the enriched sink. */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).cast("long").as("n_events"),
        graft.operators.OlapOps.decSumCents(col("value"))
          .as("value_cents"))
      .orderBy("c_mktsegment", "event_type")

  /** DuckDB oracle for [[enrichedQuery]] — the batch enrichment join
    * over the raw tables. */
  def enrichedOracleSql: String =
    """SELECT c.c_mktsegment, e.event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(round(sum(CAST(e.value AS DECIMAL(38,10))), 2) * 100
           AS BIGINT) AS value_cents
       FROM events e JOIN customer c ON c.c_custkey = e.user_id
       GROUP BY 1, 2 ORDER BY 1, 2"""
}

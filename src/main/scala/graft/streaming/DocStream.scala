package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.functions.TextFunctions.fingerprint

/** Streaming ingest-time deduplication for the training-data pipeline:
  * the streaming twin of [[graft.operators.Dedup.exactDedup]].
  *
  * Batch dedup re-scans the full corpus; at ingest the idiomatic Spark
  * shape is `dropDuplicatesWithinWatermark` over the content
  * fingerprint — one stateful operator whose state holds ONE entry per
  * distinct fingerprint seen within the watermark horizon and is
  * EVICTED as event time advances, so memory is bounded by the arrival
  * rate x horizon, not by corpus size. Exactly the posture a 100 TB
  * corpus needs: duplicates cluster in time (re-crawls, mirror
  * batches), so a bounded horizon catches them without holding the
  * full fingerprint set forever; the periodic batch dedup sweeps the
  * long tail. q218 runs a 1-HOUR horizon with staging that keeps all
  * duplicates inside it (so it certifies in-horizon suppression); the
  * expiry/re-admission half of the contract is
  * [[BoundedDedupStream]]'s (q259) measured claim.
  */
object DocStream {

  /** Streamed document drops (JSONL): arrival-stamped text rows. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("text", StringType),
    StructField("source", StringType)))

  def readDocStream(spark: SparkSession, dropDir: String): DataFrame =
    spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "16")
      .json(dropDir)

  /** One row per content fingerprint within the watermark horizon;
    * duplicate arrivals (same normalized text) are dropped in-flight. */
  def dedupedDocs(docs: DataFrame, horizon: String): DataFrame =
    docs
      .withColumn("fp", fingerprint(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Stream-STATIC dedup: arriving documents checked against the
    * persisted corpus fingerprint index — the streaming twin of the
    * incremental batch dedup (`Dedup.incrementalDedup`), at the exact
    * level instead of near-dup. The static side is a plain DataFrame
    * (in production: the corpus index table on disk); Spark plans a
    * stream-static left join, re-resolving the static side per
    * micro-batch, with NO streaming state at all — the index is the
    * state, which is what makes this shape scale: a 100 TB corpus's
    * fingerprint index joins by key, nothing is held in the state
    * store. Emits every arrival labeled `is_known_dup`; the in-stream
    * [[dedupedDocs]] guards against within-horizon repeats, this one
    * against the historical corpus. */
  def labelAgainstCorpus(arrivals: DataFrame,
                         corpusIndex: DataFrame): DataFrame = {
    val idx = corpusIndex
      .select(col("fp"), col("doc_id").as("corpus_doc_id"))
      .groupBy("fp").agg(min(col("corpus_doc_id")).as("corpus_doc_id"))
    arrivals
      .withColumn("fp", fingerprint(col("text")))
      .join(idx, Seq("fp"), "left")
      .select(col("doc_id"), col("ts"), col("source"), col("fp"),
        col("corpus_doc_id"),
        col("corpus_doc_id").isNotNull.cast("long").as("is_known_dup"))
  }

  /** Corpus fingerprint index for [[labelAgainstCorpus]] — one row per
    * distinct content fingerprint (in production this parquet table is
    * maintained incrementally, not rebuilt). */
  def corpusFingerprintIndex(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Drop-file / trigger shape for [[streamDedupQuery]] — 6 files at
    * 2 per trigger = 3 micro-batches, `require`d after the drain (the
    * q145/q149 discipline: the multi-batch claim is checked, not
    * assumed). */
  val DedupDropFiles = 6
  val DedupFilesPerTrigger = 2

  /** q218: streaming ingest-dedup as an ORACLE-CHECKED query — the
    * corpus is staged TWICE (ids offset, timestamps identical per
    * content) into round-robin drop files, drained through
    * [[dedupedDocs]] across 3 micro-batches, and the sunk survivors
    * grouped by fingerprint. If the stateful dedup works, every
    * distinct fingerprint surfaces EXACTLY once — n_rows = 1 — which
    * is precisely what the oracle asserts from the batch table
    * (GROUP BY fp, literal 1): a duplicate that slipped through
    * state (same batch, cross batch, or across the doubled corpus)
    * lands as n_rows = 2 and breaks the hash. Survivor doc_ids are
    * deliberately NOT output — which arrival of a dup family is kept
    * depends on batch order (real stream semantics), while the
    * surviving fingerprint SET is exactly determined. */
  def streamDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q218_sunk")
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    // same ts for both arrivals of a content (pmod strips the copy
    // offset), all inside one watermark horizon -> no state eviction
    // can race the second arrival. Both properties are PRECONDITIONS
    // on doc_id range, so fail loudly rather than let a bigger corpus
    // silently spread ts past the 1-hour horizon (a high-ts doc in an
    // early batch could then evict a fingerprint before its duplicate
    // arrives) or collide the doubled ids
    val maxId = Option(docs.agg(max(col("doc_id"))).head
      .getAs[java.lang.Long](0)).map(_.toLong)
    require(maxId.exists(_ < 3600000L),
      s"q218 staging maps doc_id to ms offsets; max doc_id $maxId " +
        "must exist and stay under the 1-hour dedup horizon — widen " +
        "the horizon or rescale the offsets")
    val staged = docs
      .unionAll(docs.select(col("doc_id") + lit(10000000L), col("text")))
      .select(col("doc_id"),
        timestamp_millis(lit(1700000000000L) +
          pmod(col("doc_id"), lit(10000000L))).as("ts"),
        col("text"), lit("drop").as("source"))
    EventStream.stageAndDrain(spark, staged, docSchema,
      DedupDropFiles, DedupFilesPerTrigger, "q218")(
      df => dedupedDocs(df, "1 hour")
        .writeStream.format("parquet").option("path", sunk))
    readBack(spark, sunk)
  }

  /** Rows [[dedupedDocs]] lands in the q218 sink: the doc columns plus
    * the content fingerprint. Lets plan audits stage a footer-only
    * stub and plan [[readBack]] without draining. */
  val sinkSchema: StructType =
    docSchema.add(StructField("fp", StringType))

  /** q218's post-drain read-back — the pure rollup over the sunk
    * survivors (every distinct fingerprint must surface exactly
    * once). */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .groupBy("fp").agg(count(lit(1)).cast("long").as("n_rows"))
      .orderBy("fp")

  /** DuckDB oracle for [[streamDedupQuery]] — the surviving
    * fingerprint set with multiplicity one, from the batch table. */
  def streamDedupOracleSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
         AS fp, CAST(1 AS BIGINT) AS n_rows
       FROM documents GROUP BY 1 ORDER BY fp"""

  /** Drain the drop dir through the dedup into a parquet sink, then
    * stop (AvailableNow; checkpointed state carries the seen-set
    * across invocations, so a duplicate arriving in a LATER drain is
    * still dropped while inside the horizon). */
  def dedupAvailableNow(spark: SparkSession, dropDir: String, outDir: String,
                        checkpointDir: String,
                        horizon: String = "1 hour"): StreamingQuery = {
    Drain.run(dedupedDocs(readDocStream(spark, dropDir), horizon)
      .writeStream
      .format("parquet")
      .option("path", outDir), checkpointDir)
  }
}

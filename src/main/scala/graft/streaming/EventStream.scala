package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured Streaming upgrade of the reference's incremental-arrival
  * pattern (reference airflow/dags/s3_data_checker.py:96-103 +
  * dft_data_flow_dag.py:18-26: "is new data in the bucket?" branch).
  *
  * The reference polls a prefix and branches a batch DAG; the Spark
  * idiom is a file-source stream with `Trigger.AvailableNow` —
  * exactly-once over whatever has arrived, then stop. The same code
  * runs continuously (micro-batch) by swapping the trigger. Watermarked
  * event-time windows cover the aggregation the reference would push to
  * a dashboard (the reference itself has no event-time semantics —
  * SURVEY §2.9 — so these are the beyond-parity streaming surface).
  */
object EventStream {

  /** Event schema for streamed JSONL drops (mirrors the events table). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The staged-drop drain shared by the driver-checked streaming
    * queries (q145 monitor timeline, q149 file-sink ingest, q218
    * dedup): stage `staged` as a JSONL drop of `dropFiles` files and
    * drain it through a file-source stream reading `filesPerTrigger`
    * files per micro-batch on a [[Drain.scratch]] checkpoint, which
    * requires ceil(dropFiles / filesPerTrigger) data batches.
    * `attachSink` turns the streamed frame into a writer (parquet
    * path, foreachBatch, …). Returns the number of micro-batches that
    * carried rows. */
  def stageAndDrain(spark: SparkSession, staged: DataFrame,
      dropSchema: StructType, dropFiles: Int, filesPerTrigger: Int,
      prefix: String)(
      attachSink: DataFrame => org.apache.spark.sql.streaming
        .DataStreamWriter[org.apache.spark.sql.Row]): Long =
    drainStaged(spark, dropSchema, dropFiles, filesPerTrigger, prefix)(
      staged.repartition(dropFiles).write.mode("overwrite").json(_))(
      attachSink)

  /** [[stageAndDrain]] with an ORDER CONTRACT: the caller's
    * partitioning is preserved (no round-robin repartition — stage
    * with repartitionByRange so file k holds the k-th key range), and
    * each part file's mtime is pinned to its part number, because the
    * file source replays files in TIMESTAMP order and parallel write
    * tasks finish in arbitrary order — without the pin, "file order"
    * is a race. This is the replayed-ingest-log shape a stateful
    * order-sensitive operator (the q238 packer) needs; order-free
    * drains (q218's dedup set) use [[stageAndDrain]]. */
  def stageAndDrainOrdered(spark: SparkSession, staged: DataFrame,
      dropSchema: StructType, dropFiles: Int, filesPerTrigger: Int,
      prefix: String)(
      attachSink: DataFrame => org.apache.spark.sql.streaming
        .DataStreamWriter[org.apache.spark.sql.Row]): Long =
    drainStaged(spark, dropSchema, dropFiles, filesPerTrigger, prefix) {
      drop =>
        staged.write.mode("overwrite").json(drop)
        // resolve the scratch path's OWN filesystem (not the default
        // FS) — consistent with stageWaveFiles and Scratch.delete
        val fs = new org.apache.hadoop.fs.Path(drop).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val parts = fs.listStatus(new org.apache.hadoop.fs.Path(drop))
          .filter(_.getPath.getName.startsWith("part-"))
          .sortBy(_.getPath.getName)
        require(parts.length == dropFiles,
          s"staging wrote ${parts.length} part files, expected " +
            s"$dropFiles (repartition the staged frame to dropFiles)")
        parts.zipWithIndex.foreach { case (st, i) =>
          fs.setTimes(st.getPath, 1700000000000L + i * 1000L, -1L)
        }
    }(attachSink)

  /** Stage a drop with `stage` and drain it: the drop lives under
    * graft.sources.Scratch (on a cluster it must sit on a filesystem
    * EXECUTORS can reach, not the driver's tmpdir) and is deleted
    * afterwards — even when staging or the stream throws — so
    * repeated verify/bench runs don't accumulate staged copies. */
  private def drainStaged(spark: SparkSession, dropSchema: StructType,
      dropFiles: Int, filesPerTrigger: Int, prefix: String)(
      stage: String => Unit)(
      attachSink: DataFrame => org.apache.spark.sql.streaming
        .DataStreamWriter[org.apache.spark.sql.Row]): Long = {
    val drop = graft.sources.Scratch.dir(spark, s"${prefix}_drop")
    try {
      stage(drop)
      Drain.dataBatches(
        Drain.scratch(spark, prefix, dropFiles, filesPerTrigger) { ck =>
          Drain.run(attachSink(spark.readStream.schema(dropSchema)
            .option("maxFilesPerTrigger", filesPerTrigger.toString)
            .json(drop)), ck)
        })
    } finally graft.sources.Scratch.delete(spark, drop)
  }

  /** Stage `staged` as EXACTLY one JSONL file per wave, named and
    * mtime-pinned in wave order — the arrival-schedule scaffold the
    * watermark-lifecycle queries (q243/q244/q246/q250/q253) share.
    * Unlike [[stageAndDrainOrdered]]'s repartitionByRange (exact
    * enough for q238's key RANGES), wave→file assignment here must be
    * exact — a sampling-based boundary folding two waves into one
    * file would silently change which rows each batch's watermark
    * governs — so each wave is a filtered single-file write renamed
    * into place. `staged` must carry an int `wave` column in
    * [0, waves); the listed `cols` are what lands in the drop. */
  def stageWaveFiles(spark: SparkSession, staged: DataFrame,
      cols: Seq[String], waves: Int, drop: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(drop)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until waves).foreach { k =>
      val tmp = s"$drop/_w$k"
      staged.filter(col("wave") === k)
        .select(cols.map(col): _*)
        .coalesce(1).write.mode("overwrite").json(tmp)
      val part = fs.listStatus(new Path(tmp))
        .map(_.getPath).filter(_.getName.startsWith("part-")).head
      val target = new Path(s"$drop/wave$k.json")
      fs.rename(part, target)
      fs.delete(new Path(tmp), true)
      fs.setTimes(target, 1700000000000L + k * 1000L, -1L)
    }
  }

  /** The full-events JSONL drop at ms precision (4 part files) that
    * q254 (streaming funnel) and q258 (stream-static enrichment)
    * drain — staged once per JVM via [[StagedDrops]]. */
  def stageEventsMs(spark: SparkSession, dir: String): String =
    StagedDrops.shared(spark, "events_ms", dir) { d =>
      graft.sources.Tables.events(spark, dir)
        .select(col("event_id"), unix_millis(col("ts")).as("t"),
          col("user_id"), col("event_type"), col("value"))
        .selectExpr("event_id", "timestamp_millis(t) AS ts", "user_id",
          "event_type", "value")
        // repartition, not coalesce: q258 needs 4 actual part files
        // for its 2-files-per-trigger multi-batch drain, and coalesce
        // cannot widen a single-partition upstream
        .repartition(4).write.mode("overwrite").json(d)
    }

  /** The (event_id, user_id, second-floored ts) median-split two-wave
    * drop q244 (session_window) and q246 (milestones) both drain —
    * staged once per JVM via [[StagedDrops]]. */
  def stageSecondWaves(spark: SparkSession, dir: String): String =
    StagedDrops.shared(spark, "sec_waves2", dir) { d =>
      val staged = graft.sources.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          timestamp_seconds(unix_timestamp(col("ts"))).as("ts"))
        .withColumn("wave",
          (ntile(2).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("ts"), col("event_id"))) - 1).cast("int"))
        .localCheckpoint() // one schedule build, two filtered writes
      stageWaveFiles(spark, staged,
        Seq("event_id", "user_id", "ts"), 2, d)
    }

  /** The TYPED (event_id, user_id, event_type, second-floored ts)
    * median-split two-wave drop q250 (idle close) and q271 (run
    * detection) both drain — staged once per JVM via [[StagedDrops]].
    * The split is on the global (ts, event_id) total order, so every
    * user's within-stream order is preserved across the wave
    * boundary — the property the cross-batch state-carry claims of
    * both queries stand on. */
  def stageTypedSecondWaves(spark: SparkSession, dir: String): String =
    StagedDrops.shared(spark, "sec_waves2_typed", dir) { d =>
      val staged = graft.sources.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(unix_timestamp(col("ts"))).as("ts"))
        .withColumn("wave",
          (ntile(2).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("ts"), col("event_id"))) - 1).cast("int"))
        .localCheckpoint()
      stageWaveFiles(spark, staged,
        Seq("event_id", "user_id", "event_type", "ts"), 2, d)
    }

  /** Run `body` with the RocksDB state store provider set, restoring
    * the prior session setting afterwards — the loan pattern for the
    * transformWithState queries/specs (the API refuses the default
    * HDFS-backed store), so a missed restore can't leak the provider
    * into unrelated queries sharing the session. */
  def withRocksDbProvider[T](spark: SparkSession)(body: => T): T = {
    // Changelog checkpointing is loaned WITH the provider: without it
    // every commit zips and uploads a full RocksDB snapshot per store
    // per micro-batch (measured on q281: 200+ s of summed commit time
    // in one drain, the dominant cost of the RocksDB family); with it
    // a commit appends the batch's puts/deletes to a changelog and
    // snapshots move to background maintenance — the documented
    // production posture for RocksDB state stores, and the setting a
    // 100 TB deployment runs with. Same-session A/B (BenchOne conf
    // variants): q281 8.5 s → 7.0 s on top of the checkpoint-manager
    // fix.
    // Restored with the provider so neither leaks into batch queries.
    val keys = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"),
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prior = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** File-source stream over a drop directory of JSONL files. */
  def readEventStream(spark: SparkSession, dropDir: String): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", "16")
      .json(dropDir)

  /** Watermarked tumbling-window aggregation: events per type per
    * minute, late data beyond 10 minutes dropped from state. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Process everything currently in the drop dir into a parquet sink,
    * then stop (AvailableNow = the reference's "new data?" branch with
    * exactly-once bookkeeping in the checkpoint). Returns the query
    * after awaiting termination. */
  def ingestAvailableNow(spark: SparkSession, dropDir: String,
                         outDir: String, checkpointDir: String): StreamingQuery = {
    Drain.run(readEventStream(spark, dropDir)
      .writeStream
      .format("parquet")
      .option("path", outDir), checkpointDir)
  }

  /** q149: the exactly-once PARQUET FILE SINK ingest path driven to a
    * hash-checked answer — the events table is staged as a JSONL drop
    * (epoch-ms times, exact-integer round-trip), drained through a
    * real `writeStream.format("parquet")` with AvailableNow (multiple
    * micro-batches via `maxFilesPerTrigger`; the sink's
    * `_spark_metadata` commit log is what makes replayed batches
    * invisible to readers), and the LANDED table — read back in batch
    * mode through that commit log — is sessionized. The result must
    * equal q46's gap-sessionization oracle over the raw events, so a
    * hash match certifies the whole ingest path: staging, streaming
    * file sink, commit-log read-back, and the session arithmetic —
    * complementing q145, which covers the foreachBatch sink family.
    *
    * Temp dirs are per-call (fresh checkpoint → full drop processed
    * every run); the drop and checkpoint are deleted once the stream
    * has drained, the sunk table outlives the call for the returned
    * lazy frame. Like q145, the multi-batch claim is `require`d, not
    * assumed: [[IngestDropFiles]]/[[IngestFilesPerTrigger]] make the
    * expected batch count explicit and the drain's observed count
    * must match, so a fixture too small to fill every round-robin
    * drop partition fails loudly instead of silently certifying a
    * single-batch run. */
  val IngestDropFiles = 6
  val IngestFilesPerTrigger = 2

  def ingestSessionQuery(spark: SparkSession, dir: String): DataFrame = {
    // outliving scratch: the returned frame reads `sunk` lazily, so
    // the dir is registered on the Scratch ledger and reclaimed by the
    // next sweep instead of accumulating one parquet copy of events
    // per verify/bench rep
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q149_sunk")
    val staged = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("t"))
    val dropSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_id", LongType),
      StructField("t", LongType)))
    // sunk intentionally outlives the call: the returned frame reads
    // it lazily through the sink's commit log
    stageAndDrain(spark, staged, dropSchema,
      IngestDropFiles, IngestFilesPerTrigger, "q149")(
      _.writeStream.format("parquet").option("path", sunk))
    ingestSessionReadBack(spark, sunk)
  }

  /** Rows the q149 parquet file sink lands (the staged drop schema —
    * the ingest writes events through unchanged). */
  val ingestSinkSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("t", LongType)))

  /** q149's post-drain read-back — gap-sessionize the LANDED table
    * through the sink's commit log. */
  def ingestSessionReadBack(spark: SparkSession, sunk: String): DataFrame =
    graft.operators.Sessionize.sessionsFromMs(spark.read.schema(ingestSinkSchema).parquet(sunk))

  /** Windowed aggregate to an in-memory sink, AvailableNow — used by
    * tests and as the pattern for a live dashboard feed. */
  def aggregateAvailableNow(spark: SparkSession, dropDir: String,
                            queryName: String, checkpointDir: String): StreamingQuery = {
    Drain.run(windowedCounts(readEventStream(spark, dropDir))
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete"), checkpointDir)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming CONTEXT-WINDOW PACKING — the stateful-ingest twin of the
  * batch packer ([[graft.operators.Packing.contextWindows]]): as
  * document batches arrive, each source shard's running token offset
  * is CARRIED IN KEYED STATE, so window ids keep advancing seamlessly
  * across micro-batches instead of restarting at every batch — the
  * difference between a packer you can run on a live ingest queue and
  * one that only works on a frozen corpus.
  *
  * State is ONE long per source (the cumulative token count), the
  * minimal possible state-store footprint: memory is bounded by the
  * number of shards, never by corpus size, and there is nothing to
  * evict. Windows are assigned in ARRIVAL order within each source —
  * the production contract of an ordered ingest log; the q238 drain
  * stages documents in doc_id order, which is what makes the batch
  * q237 arithmetic the exact oracle for the drained stream.
  */
object PackStream {

  case class PackIn(doc_id: Long, source: String, n_toks: Long)
  case class PackOut(doc_id: Long, source: String, n_toks: Long,
      first_window: Long, window_offset: Long, n_windows: Long,
      is_split: Int)

  /** Fold one source's micro-batch through the running offset. The
    * iterator is buffered and sorted by doc_id: batch boundaries are
    * an infrastructure artifact, and within a batch the ingest-log
    * order is the id order the staging wrote. The buffer is bounded
    * by the micro-batch slice of ONE source, not the corpus. */
  private def packGroup(c: Long)(source: String, rows: Iterator[PackIn],
      state: GroupState[Long]): Iterator[PackOut] = {
    var cum = state.getOption.getOrElse(0L)
    val out = rows.toSeq.sortBy(_.doc_id).map { r =>
      val first = cum / c
      val last = (cum + math.max(r.n_toks, 1L) - 1) / c
      val o = PackOut(r.doc_id, r.source, r.n_toks,
        first, cum % c, last - first + 1, if (first != last) 1 else 0)
      cum += r.n_toks
      o
    }
    state.update(cum)
    out.iterator
  }

  /** Stateful packing over a document stream: group by source,
    * flatMapGroupsWithState carrying the cumulative token count. */
  def packedDocs(docs: DataFrame, contextLen: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_toks"))
      .as[PackIn]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(packGroup(contextLen))
      .toDF()
  }

  /** Drain whatever is in the drop dir through the packer, then stop.
    * The checkpoint carries BOTH the file-source progress and the
    * per-source offset state, so a later invocation (a restarted
    * job) continues the window numbering exactly where this one
    * stopped — the recovery property PackStreamSpec drives with a
    * two-phase drain. */
  def packAvailableNow(spark: SparkSession, dropDir: String,
      outDir: String, checkpointDir: String,
      contextLen: Long = graft.operators.Packing.ContextLen): Unit = {
    Drain.run(packedDocs(DocStream.readDocStream(spark, dropDir), contextLen)
      .writeStream
      .format("parquet")
      .option("path", outDir), checkpointDir)
  }

  val PackDropFiles = 6
  val PackFilesPerTrigger = 2

  /** q238: the streaming packer as an ORACLE-CHECKED query — the
    * corpus is staged into RANGE-partitioned drop files (file k holds
    * the k-th doc_id range, so the AvailableNow drain replays the
    * ingest log in id order), drained through [[packedDocs]] across 3
    * micro-batches, and the sunk assignments read back. If the keyed
    * state carries offsets correctly across batches, every document's
    * (first_window, offset, span, split) equals the batch q237
    * arithmetic — [[graft.operators.Packing.contextWindowsOracleSql]]
    * IS the oracle, the q218/q229 discipline: a state reset, a lost
    * batch, or a cross-batch reorder lands as a shifted offset and
    * breaks the hash. */
  def streamPackingQuery(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.operators.Packing.ContextLen
    val sunk = graft.sources.Scratch.dirOutliving(spark, "q238_sunk")
    val staged = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id")).as("ts"),
        col("text"), col("source"))
      .repartitionByRange(PackDropFiles, col("doc_id"))
    EventStream.stageAndDrainOrdered(spark, staged,
      DocStream.docSchema, PackDropFiles, PackFilesPerTrigger, "q238")(
      df => packedDocs(df, c)
        .writeStream.format("parquet").option("path", sunk))
    readBack(spark, sunk)
  }

  /** Rows the q238 drain lands (the [[PackOut]] encoder layout). */
  val sinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("n_toks", LongType),
      StructField("first_window", LongType),
      StructField("window_offset", LongType),
      StructField("n_windows", LongType),
      StructField("is_split", IntegerType)))
  }

  /** q238's post-drain read-back — the sunk window assignments. */
  def readBack(spark: SparkSession, sunk: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sunk)
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("first_window"), col("window_offset"), col("n_windows"),
        col("is_split"))
      .orderBy("doc_id")
}

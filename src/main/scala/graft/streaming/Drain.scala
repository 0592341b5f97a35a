package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryProgress, Trigger}

/** The one AvailableNow drain: the "is there new data in the bucket?"
  * branch ([[EventStream]]'s object doc) as a file-source stream that
  * processes whatever has arrived, exactly once, then stops.
  *
  * Two forms:
  *   - [[run]]: the caller owns the checkpoint and keeps it, so a
  *     rerun on it resumes where this drain stopped (the public
  *     `*AvailableNow` entry points, the restart and exactly-once
  *     specs' upsert/CDC drains);
  *   - [[scratch]]: a fresh `<label>_ck` checkpoint under the
  *     [[StatePartitions]] loan, deleted afterwards even when the drain
  *     throws, with the staged schedule's micro-batch count required.
  *
  * What a drain did is the Spark progress of each micro-batch
  * (`durationMs`, `numInputRows`, `stateOperators`); the folds below
  * read it for the q-queries' live state assertions. */
object Drain {

  /** Start `writer` on checkpoint `ck` with `Trigger.AvailableNow`,
    * wait for it to finish, and return the terminated query — its
    * `recentProgress` holds one progress per micro-batch. */
  def run(writer: DataStreamWriter[_], ck: String): StreamingQuery = {
    val q = writer.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Run `body` on a fresh scratch checkpoint `<label>_ck` under the
    * [[StatePartitions]] loan (valid only because the checkpoint is
    * new), deleting the checkpoint afterwards even on failure. */
  def scratchCheckpoint[T](spark: SparkSession, label: String)(
      body: String => T): T = {
    val ck = graft.sources.Scratch.dir(spark, s"${label}_ck")
    try StatePartitions.scoped(spark)(body(ck))
    finally graft.sources.Scratch.delete(spark, ck)
  }

  /** A drain of `files` staged files read `perTrigger` at a time, on a
    * scratch checkpoint ([[scratchCheckpoint]]): `drain` starts it on
    * the checkpoint it is handed (usually through [[run]]). Requires
    * ceil(files / perTrigger) micro-batches that carried rows — a
    * fixture too small to fill the schedule fails here by name rather
    * than certifying a shorter run — and returns every micro-batch's
    * progress. */
  def scratch(spark: SparkSession, label: String, files: Int,
      perTrigger: Int)(
      drain: String => StreamingQuery): Array[StreamingQueryProgress] = {
    val progress = scratchCheckpoint(spark, label)(drain(_).recentProgress)
    val batches = dataBatches(progress)
    val expected = (files + perTrigger - 1) / perTrigger
    require(batches == expected,
      if (perTrigger == 1)
        s"$label staged $files wave files but streamed $batches " +
          "micro-batches"
      else s"$label staged $files drop files but streamed $batches " +
        s"micro-batches (expected $expected)")
    progress
  }

  /** Micro-batches that carried input rows (AvailableNow may end with
    * a no-data batch that only advances the watermark). */
  def dataBatches(p: Array[StreamingQueryProgress]): Long =
    p.count(_.numInputRows > 0).toLong

  /** Largest state-store row count of any micro-batch, summed over the
    * query's stateful operators. */
  def peakStateRows(p: Array[StreamingQueryProgress]): Long =
    p.map(_.stateOperators.map(_.numRowsTotal).sum).max

  /** Rows the watermark dropped as late, over the whole drain. */
  def droppedByWatermark(p: Array[StreamingQueryProgress]): Long =
    p.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

  /** State rows removed during micro-batches that carried input —
    * eviction or closure while the feed was still flowing, not only at
    * the final no-data batch. */
  def removedWhileInputFlowed(p: Array[StreamingQueryProgress]): Long =
    p.filter(_.numInputRows > 0)
      .map(_.stateOperators.map(_.numRowsRemoved).sum).sum
}

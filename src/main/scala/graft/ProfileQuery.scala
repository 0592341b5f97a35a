package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Where-does-the-time-go instrument for one or more named queries
  * (guide §1/§7): runs each query under the Bench protocol (same
  * session config, untimed warm-up, pinned-block drop) with two
  * listeners attached —
  *
  *   - a [[SparkListener]] aggregating per-stage executor run time,
  *     task counts and shuffle bytes, plus per-job wall time, so the
  *     "many tiny jobs" overhead profile is distinguishable from "one
  *     heavy stage";
  *   - a [[StreamingQueryListener]] printing each micro-batch's
  *     durationMs breakdown (triggerExecution / addBatch / walCommit /
  *     stateCommit …), which is where streaming drain time hides.
  *
  * Diagnostic tool only — never part of a query's semantics. Args:
  * `sfDir name1,name2,...`. */
object ProfileQuery {

  private case class StageAgg(var name: String, var tasks: Long,
    var execRunMs: Long, var shufReadB: Long, var shufWriteB: Long,
    var count: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = BenchSession.build()

    val stageAgg = mutable.LinkedHashMap[String, StageAgg]()
    val jobs = mutable.ArrayBuffer[(Int, Long)]() // (jobId, wallMs)
    val jobStart = mutable.HashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart(js.jobId) = js.time
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobStart.remove(je.jobId).foreach(t0 =>
          jobs += ((je.jobId, je.time - t0)))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        // attribute to the deepest graft frame in the stage's call
        // site so future-wrapped stages don't all collapse into one
        // "withThreadLocalCaptured" bucket
        val graftFrame = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ProfileQuery"))
          .map(_.trim.take(100)).getOrElse("")
        val key = si.name.takeWhile(_ != '\n').take(60) + " @ " + graftFrame
        val a = stageAgg.getOrElseUpdate(key, StageAgg(key, 0, 0, 0, 0, 0))
        a.tasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          a.execRunMs += m.executorRunTime
          a.shufReadB += m.shuffleReadMetrics.totalBytesRead
          a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        }
        a.count += 1
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val batchLines = mutable.ArrayBuffer[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dm = p.durationMs
        val keys = dm.keySet.toArray.map(_.toString).sorted
        val parts = keys.map(k => s"$k=${dm.get(k)}").mkString(" ")
        val st = p.stateOperators.map(s =>
          s"rows=${s.numRowsTotal} commitMs=${s.commitTimeMs}").mkString("; ")
        batchLines += f"  batch=${p.batchId}%3d in=${p.numInputRows}%6d $parts [$st]"
      }
    })

    BenchSession.warmUp(spark, sfDir)
    for (n <- names) {
      stageAgg.clear(); jobs.clear(); batchLines.clear()
      val wall = BenchSession.timeFn(spark, sfDir, n, SparkEntry.queries(n))
      // listener bus is async; give it a moment to drain
      Thread.sleep(400)
      println(s"\n=== $n wall=${wall.fold("FAILED")(w => f"$w%.3f s")} " +
        f"jobs=${jobs.size} " +
        f"jobWallSum=${jobs.map(_._2).sum / 1e3}%.3f s ===")
      if (batchLines.nonEmpty) {
        println(s"-- streaming batches (${batchLines.size}):")
        batchLines.foreach(println)
      }
      println("-- top stages by executor run time:")
      stageAgg.values.toSeq.sortBy(-_.execRunMs).take(25).foreach { a =>
        println(f"  runMs=${a.execRunMs}%7d tasks=${a.tasks}%5d " +
          f"n=${a.count}%3d shR=${a.shufReadB}%9d shW=${a.shufWriteB}%9d " +
          s"${a.name}")
      }
      println("-- slowest jobs (wall ms): " + jobs.sortBy(-_._2).take(20)
        .map { case (id, ms) => s"$id:$ms" }.mkString(", "))
    }
    graft.streaming.StagedDrops.cleanup(spark)
    graft.sources.Scratch.sweep(spark)
    spark.stop()
  }
}

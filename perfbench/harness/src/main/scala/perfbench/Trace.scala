package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call into a layer: wall interval on the monotonic
  * clock, plus the epoch-ms start so listener events (which carry
  * epoch-ms times) can be placed inside it. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long, startMs: Long)

/** Spans recorded from the benchmark's own calls into each layer. Kept
  * in memory and written out when the run ends; `enabled` is false on
  * untraced passes so they pay one branch per call and nothing else. */
object Spans {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      val ms = System.currentTimeMillis()
      try body
      finally {
        done.add(Span(id, parent, op, name, t0, System.nanoTime(), ms))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Spark's public listeners, registered on the session for traced
  * passes only: scheduler totals, planning phases per executed query,
  * and per-micro-batch streaming progress. */
final class Listeners(spark: SparkSession) {
  val counters = scala.collection.concurrent.TrieMap.empty[String, LongAdder]
  def add(k: String, v: Long): Unit =
    counters.getOrElseUpdate(k, new LongAdder).add(v)

  /** (epoch-ms start, job group) of every job. */
  val jobs = new ConcurrentLinkedQueue[(Long, String)]()
  /** Per streaming trigger: (epoch-ms trigger start, durationMs
    * components plus input rows and state-store figures). */
  val batches = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  /** (epoch-ms planning end, planning ms) per executed query. */
  val plans = new ConcurrentLinkedQueue[(Long, Long)]()

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("spark.jobs", 1)
      jobs.add((e.time,
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        add("spark.task_run_ms", m.executorRunTime)
        add("spark.task_cpu_ns", m.executorCpuTime)
        add("spark.gc_ms", m.jvmGCTime)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("sources.input_bytes", m.inputMetrics.bytesRead)
        add("sources.input_rows", m.inputMetrics.recordsRead)
        if (i != null && i.finishTime > 0)
          add("spark.scheduler_delay_ms", math.max(0L,
            (i.finishTime - i.launchTime) - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              i.gettingResultTime))
      }
    }
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.add((ph.map(_.endTimeMs).max, ph.map(_.durationMs).sum))
    }
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dm = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators
      batches.add((java.time.Instant.parse(p.timestamp).toEpochMilli, dm ++ Map(
        "inputRows" -> p.numInputRows,
        "stateCommitMs" -> st.map(_.commitTimeMs).sum,
        "stateRows" -> st.map(_.numRowsTotal).sum,
        "stateMemBytes" -> st.map(_.memoryUsedBytes).sum)))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streaming)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(streaming)
  }

  /** The listener bus is asynchronous: wait until it has delivered every
    * event posted so far before reading the counters. */
  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)
}

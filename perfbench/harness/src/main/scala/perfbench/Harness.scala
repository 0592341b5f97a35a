package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One operation of a workload: a query, a drain, a pipeline stage or
  * a request. `run(opId)` is timed; `verify()` runs on the same thread
  * once the clock has stopped. Either returning false is a wrong
  * answer; an exception is a failure too. */
final case class Op(name: String, cls: String, run: Long => Boolean,
                    verify: () => Boolean = () => true)

/** Per-op record written to the result file. */
final case class OpRec(id: Long, pass: Int, traced: Boolean, name: String,
                       cls: String, startNs: Long, endNs: Long, ok: Boolean,
                       err: String)

trait Workload {
  /** Concurrent closed-loop clients driving one pass. */
  def clients: Int = 1
  /** Untimed fixtures built once per run. */
  def setup(): Unit = ()
  /** The untimed warm pass; also writes what the correctness check
    * reads. Returns failed op names. */
  def warm(): Seq[String]
  /** The ops of one timed pass, in the order the seed fixed. */
  def ops: Seq[Op]
  /** Called before each timed pass's clock starts. */
  def beforePass(): Unit = ()
  /** Workload-specific figures for the result file. */
  def extra(): Map[String, Any] = Map.empty
  def close(): Unit = ()
}

/** The benchmark's JVM side: builds the tuned session, sets up one
  * workload, runs the warm pass and the timed passes, and writes every
  * raw figure (op records, pass walls, listener counters, spans) to a
  * JSON file that perfbench/run.py reduces to metrics.
  *
  * Args: --workload W --inputs DIR --work DIR --seed N --seconds S
  *       --trace 0|1 --out FILE
  */
object Harness {
  private val records = new ConcurrentLinkedQueue[OpRec]()
  private val opIds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Writes the result file: Scala maps, sequences and tuples as JSON
    * objects and arrays, NaN as a bare token Python's json reads. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def main(args: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    // cumulative listener counters after each traced pass
    var passCounters = Seq.empty[Map[String, Long]]
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val t0 = System.nanoTime()
    val spark = graft.BenchSession.build()
    val sessionS = secs(t0)
    val codegen0 = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime
    val w = Workloads(a("workload"), spark, a("inputs"), a("work"), a("seed").toLong)

    // A traced run also traces the fixtures (serve builds its table with
    // streaming drains there); their events are reported apart.
    val setupListeners = new Listeners(spark)
    if (traced) { setupListeners.register(); Spans.enabled = true }
    val t1 = System.nanoTime()
    w.setup()
    val fixturesS = secs(t1)
    if (traced) { Spans.enabled = false; setupListeners.drain(); setupListeners.unregister() }
    val t2 = System.nanoTime()
    val warmFailed = w.warm()
    val warmS = secs(t2)
    val codegenSetupMs = (org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime - codegen0) / 1e6

    // A traced run times twice as long and traces passes 2, 3, 6, 7, ...
    // (U T T U U T T U): traced and untraced passes then sit at the same
    // points of the JVM's warm-up, which goes on for dozens of passes, so
    // their difference is the tracing overhead and not the warm-up.
    val listeners = new Listeners(spark)
    val timed = passes(w, spark, if (traced) 2 * seconds else seconds,
      pass => traced && pass % 4 >= 2, listeners,
      () => passCounters :+= listeners.counters.map { case (k, v) => k -> v.sum }.toMap)
    val extra = w.extra()
    w.close()

    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val out = Map(
      "session_s" -> sessionS, "fixtures_s" -> fixturesS, "warm_s" -> warmS,
      "warm_failed" -> warmFailed,
      "codegen_setup_ms" -> codegenSetupMs,
      "clients" -> w.clients,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "passes" -> timed.map { case (tr, wall, cpu, jit) =>
        Map("traced" -> tr, "wall_s" -> wall, "cpu_s" -> cpu, "jit_cpu_s" -> jit) },
      "ops" -> records.asScala.toSeq.sortBy(_.id).map(r => Map(
        "id" -> r.id, "pass" -> r.pass, "traced" -> r.traced,
        "name" -> r.name, "cls" -> r.cls,
        "ms" -> (r.endNs - r.startNs) / 1e6, "ok" -> r.ok, "err" -> r.err)),
      "main_start_ms" -> mainStartMs,
      "pass_counters" -> passCounters,
      "jobs" -> listeners.jobs.asScala.toSeq,
      "plans" -> listeners.plans.asScala.toSeq,
      "batches" -> listeners.batches.asScala.toSeq.map { case (t, m) =>
        Map("t" -> t) ++ m },
      "setup_batches" -> setupListeners.batches.asScala.toSeq.map { case (t, m) =>
        Map("t" -> t) ++ m },
      "spans" -> Spans.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "ms" -> (s.endNs - s.startNs) / 1e6)),
      "jvm_gc_ms" -> gcMs,
      "heap_peak_mb" -> heapPeak / 1048576.0,
      "rss_peak_mb" -> rssPeakMb(),
      "extra" -> extra)
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(out))
    spark.stop()
  }

  /** Timed passes until `seconds` have elapsed: at least two, and at
    * least four (one U T T U round) when any is traced. (With one pass,
    * a slow host makes a run's only pass its least warmed-up one, and
    * such runs read ~25% slower than two-pass runs.) A traced pass runs
    * with the listeners registered and spans on; `afterTraced` runs once
    * its events are in. Returns (traced, wall s, CPU s, the part of that
    * CPU the JIT compiler threads used) per pass. */
  private def passes(w: Workload, spark: SparkSession, seconds: Double,
                     tracedPass: Int => Boolean, listeners: Listeners,
                     afterTraced: () => Unit): Seq[(Boolean, Double, Double, Double)] = {
    val out = Seq.newBuilder[(Boolean, Double, Double, Double)]
    val minPasses = if (tracedPass(2)) 4 else 2
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || secs(start) < seconds) {
      pass += 1
      val traced = tracedPass(pass)
      if (traced) { listeners.register(); Spans.enabled = true }
      w.beforePass()
      val t = System.nanoTime()
      val cpu = processCpuNs()
      val jit = compilerCpuNs()
      runPass(w, spark, pass, traced)
      val jitUsed = compilerCpuNs().map { case (tid, ns) => ns - jit.getOrElse(tid, 0L) }.sum
      out += ((traced, secs(t), (processCpuNs() - cpu) / 1e9, jitUsed / 1e9))
      if (traced) {
        Spans.enabled = false
        listeners.drain()
        listeners.unregister()
        afterTraced()
      }
    }
    out.result()
  }

  private def runPass(w: Workload, spark: SparkSession, pass: Int,
                      tracedPhase: Boolean): Unit =
    records.addAll(runOps(w.ops, w.clients, spark, pass, tracedPhase).asJava)

  /** `clients` threads take ops off a shared queue, each sending the
    * next only after its previous one completed. */
  def runOps(ops: Seq[Op], clients: Int, spark: SparkSession, pass: Int,
             tracedPhase: Boolean): Seq[OpRec] = {
    val queue = new ConcurrentLinkedQueue[Op](ops.asJava)
    val done = new ConcurrentLinkedQueue[OpRec]()
    def client(): Unit = {
      var op = queue.poll()
      while (op != null) {
        if (clients == 1) graft.BenchSession.dropPinnedBlocks(spark)
        done.add(timed(op, pass, tracedPhase))
        op = queue.poll()
      }
    }
    if (clients == 1) client()
    else {
      val threads = (1 to clients).map(_ => new Thread(() => client()))
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    done.asScala.toSeq
  }

  /** The warm pass of a workload whose ops need no extra output:
    * every op once, unrecorded. Returns the failures. */
  def warmOps(ops: Seq[Op], clients: Int, spark: SparkSession): Seq[String] =
    runOps(ops, clients, spark, 0, tracedPhase = false).filterNot(_.ok).map { r =>
      System.err.println(s"[perfbench] warm ${r.name} failed: ${r.err}")
      r.name
    }

  /** Run one op under a span, recording its latency and outcome. */
  def timed(op: Op, pass: Int, tracedPhase: Boolean): OpRec = {
    val id = opIds.incrementAndGet()
    val t = System.nanoTime()
    def failure(e: Throwable) =
      (false, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
    val (ran, err) =
      try (Spans(s"op.${op.cls}", id)(op.run(id)), "failed")
      catch { case e: Throwable => failure(e) }
    val end = System.nanoTime()
    val (ok, why) =
      if (!ran) (false, err)
      else try (op.verify(), "wrong answer") catch { case e: Throwable => failure(e) }
    System.err.println(f"[perfbench] pass $pass ${op.name} ${(end - t) / 1e6}%.1f ms ok=$ok")
    OpRec(id, pass, tracedPhase, op.name, op.cls, t, end, ok, if (ok) "" else why)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time the JVM has used: all threads, user + system. */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time (user + system) each live JIT compiler thread has used,
    * by thread id, from /proc/self/task (the JVM hides its compiler
    * threads from ThreadMXBean). A diagnostic: compilation keeps running
    * for dozens of passes after the warm pass. A compiler thread that
    * retires mid-pass drops out of the second reading, so its share of
    * that pass goes uncounted. Empty off Linux. */
  private def compilerCpuNs(): Map[String, Long] =
    try {
      val tasks = Files.list(Paths.get("/proc/self/task"))
      try tasks.iterator.asScala.flatMap { t =>
        try {
          val stat = Files.readString(t.resolve("stat"))
          val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
          if (!comm.matches("C[12] CompilerThre.*")) None
          else {
            // fields after the comm: state is field 3; utime, stime are 14, 15
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
            Some(t.getFileName.toString -> (f(11).toLong + f(12).toLong) * NsPerTick)
          }
        } catch { case _: java.io.IOException => None } // thread ended
      }.toMap
      finally tasks.close()
    } catch { case _: java.io.IOException => Map.empty }

  /** Linux reports thread CPU in clock ticks of 1/100 s (USER_HZ). */
  private val NsPerTick = 10000000L

  private def rssPeakMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
}

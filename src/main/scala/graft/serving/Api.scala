package graft.serving

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.datasources.parquet.DriverRowCodecs
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

import graft.operators.{Maintenance, SecJsonDocs, SecServing}

/** The reference's serving shell (FastAPI endpoints,
  * backend/main.py:43-252) rebuilt on the JDK's built-in HTTP server —
  * zero added dependencies. Spark is the warehouse; the registered
  * quarter views ([[SecServing.registerQuarterViews]] /
  * [[SecServing.persistQuarterTables]]) are the schema. Same routes and
  * response shapes:
  *
  *   - `GET /check-availability?year=&quarter=`          → `{"available": bool}`
  *   - `GET /get-table-info?data_source=&year=&quarter=` → `[{name, columns:[{name,type}], sample_data:[…]}]`
  *   - `POST /execute-custom-query` body `{"query": …}`  → `{"data":[…]}`
  *   - `GET /get-financial-data?year=&quarter=&data_type=&source=` → `{"data":[…], "execution_time": s}`
  *   - `GET /query-data?query=`                          → `{"data":[…]}`
  *   - `GET /table-snapshot?root=[&version=]` (beyond-reference: the
  *     upsert table's current/as-of read, [[tableSnapshot]])
  *   - `GET /table-lookup?root=&key=&value=` (beyond-reference: keyed
  *     point read through the skipping index, [[tableLookup]])
  *
  * Float NaN/±Inf sanitize to JSON null exactly like the reference's
  * `sanitize_float_values` (main.py:34-40). Deliberate divergences,
  * not replicated bugs (SURVEY §7.4): the reference's inconsistent
  * source-name casing dispatches consistently here, its availability
  * probe against a never-created table queries the quarter's `sub`
  * view instead, and every data response collects at most `maxRows`
  * rows to the serving process — in front of a cluster-scale table you
  * page, you don't dump.
  *
  * Concurrent by construction: requests dispatch on a fixed thread
  * pool (`threads` in [[start]]; the JDK server's default executor
  * would serialize every exchange on the dispatcher thread), and
  * SparkSession is thread-safe — concurrent actions become concurrent
  * Spark jobs sharing the session's pools. Temp-view REGISTRATION is
  * session-global and not serialized against in-flight readers, so
  * the contract is the warehouse one: register views before serving
  * (ApiSpec's concurrent case proves N mixed-route in-flight requests
  * don't interfere). `start(0)` binds an ephemeral port and returns
  * it — how ApiSpec drives a live round-trip.
  *
  * Serving-edge guardrails on the verbatim-SQL surface (the reference
  * runs user SQL with none, backend/main.py:120): every request's
  * Spark jobs run under a per-request JOB-GROUP DEADLINE (`sqlTimeoutMs`
  * — overrun cancels the group's jobs with task interruption and maps
  * to 504), and the two free-form SQL routes EXPLAIN-check the plan
  * first, rejecting cartesian products with a 400 before any task
  * runs. The [[maxRows]] collect cap completes the triad: bounded
  * rows out, bounded time on-cluster, no quadratic plans in.
  */
class Api(spark: SparkSession, maxRows: Int = 10000,
          sqlTimeoutMs: Long = 30000) {

  private var server: Option[HttpServer] = None
  private var pool: Option[java.util.concurrent.ExecutorService] = None
  private val mapper = new ObjectMapper()

  /** Watchdog for the per-request job-group timeout — one daemon
    * thread schedules cancellations; the cancel itself is cheap
    * (cancelJobGroup is async). */
  private val watchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "api-sql-watchdog"); t.setDaemon(true); t
    }
  private val reqCounter = new java.util.concurrent.atomic.AtomicLong()

  private final class RequestTimeout(cause: Throwable)
    extends RuntimeException(cause)
  private final class CartesianRejected(val shape: String)
    extends RuntimeException(shape)

  /** Run `body`'s Spark actions under a per-request job group with a
    * hard deadline: if the watchdog fires first, every job the request
    * submitted is cancelled (interrupt-on-cancel, so running tasks
    * die too) and the request maps to 504 instead of occupying an
    * executor slot forever. Job groups are thread-local, so concurrent
    * requests cancel independently. This is the serving edge's second
    * guardrail next to [[maxRows]]: the row cap bounds what leaves the
    * cluster, the deadline bounds what runs on it. */
  private def withJobTimeout[T](label: String)(body: => T): T = {
    val group = s"graft-api-$label-${reqCounter.incrementAndGet()}"
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.setJobGroup(group, s"serving request $label",
      interruptOnCancel = true)
    val cancel = watchdog.schedule(new Runnable {
      def run(): Unit = {
        fired.set(true)
        spark.sparkContext.cancelJobGroup(group)
      }
    }, sqlTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    try body
    catch {
      // any failure after the watchdog fired IS the cancellation
      // surfacing (Spark wraps it in SparkException flavors)
      case e: Throwable if fired.get() => throw new RequestTimeout(e)
    } finally {
      cancel.cancel(false)
      spark.sparkContext.clearJobGroup()
    }
  }

  /** EXPLAIN-based guard for the FREE-FORM SQL routes: inspect the
    * physical plan before any task runs and reject unconditioned cross
    * products — `CartesianProductExec` in any form (even a conditioned
    * one executes |L|×|R| comparisons) and a condition-less
    * `BroadcastNestedLoopJoinExec` (a CROSS JOIN that merely got a
    * broadcastable side; the CONDITIONED BNLJ stays allowed — it is
    * how legitimate small-dim non-equi joins plan, bounded by the
    * broadcast side). The named routes never build these shapes; only
    * verbatim user SQL can. The walk descends into AQE's executedPlan
    * AND into subquery expression plans (`SparkPlan.collect` stops at
    * expression boundaries, so a cartesian hiding inside a scalar/IN
    * subquery — `WHERE x > (SELECT max(v) FROM a, b)` — would
    * otherwise bypass the guard and execute). [[rows]] runs it on the
    * physical plan it then executes, so the check plans nothing. */
  private def rejectCartesian(plan: SparkPlan): Unit = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    def offenders(p: SparkPlan): Seq[String] = {
      val here = p.collect {
        case _: CartesianProductExec => Seq("CartesianProduct")
        case b: BroadcastNestedLoopJoinExec if b.condition.isEmpty =>
          Seq("BroadcastNestedLoopJoin(no condition)")
        case a: AdaptiveSparkPlanExec => offenders(a.executedPlan)
      }.flatten
      // every node's immediate subquery plans, each walked in full
      // (nested subqueries recurse through the same path)
      val subs = p.collect { case n => n.subqueries }.flatten
        .flatMap(offenders)
      here ++ subs
    }
    val found = offenders(plan)
    if (found.nonEmpty) throw new CartesianRejected(found.mkString(", "))
  }

  def start(port: Int = 0, threads: Int = 8): Int = {
    // The JDK server writes a response's headers and its body as two
    // TCP segments. With Nagle's algorithm on, the body then waits for
    // the client's delayed ACK of the headers: ~40 ms added to every
    // response on Linux, more than a driver-served lookup takes. The
    // server reads this property once, when its implementation loads;
    // an explicit setting is left as it is.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    s.createContext("/check-availability", ex => handle(ex)(checkAvailability))
    s.createContext("/get-table-info", ex => handle(ex)(getTableInfo))
    s.createContext("/execute-custom-query", ex => handle(ex)(executeCustomQuery))
    s.createContext("/get-financial-data", ex => handle(ex)(getFinancialData))
    s.createContext("/query-data", ex => handle(ex)(queryData))
    s.createContext("/table-snapshot", ex => handle(ex)(tableSnapshot))
    s.createContext("/table-lookup", ex => handle(ex)(tableLookup))
    val p = java.util.concurrent.Executors.newFixedThreadPool(threads)
    s.setExecutor(p)
    pool = Some(p)
    s.start()
    server = Some(s)
    s.getAddress.getPort
  }

  def stop(): Unit = {
    server.foreach(_.stop(0)); server = None
    pool.foreach(_.shutdown()); pool = None
    watchdog.shutdown()
  }

  // ---- endpoints ----

  private def checkAvailability(ex: HttpExchange): (Int, String) = {
    val p = params(ex)
    val view = s"sec_sub_${stage(p)}"
    // the two lineage conventions in play: SecIngest.ingestQuarter
    // stamps "{year}Q{n}", the scrape->ZipIngest path stamps
    // "{year}_Q{n}" (from the raw/{year}_{quarter}.zip dest key) — a
    // loaded quarter must report available under either
    val keys = Seq(stage(p),
      s"${p.getOrElse("year", "")}_Q${p.getOrElse("quarter", "").stripPrefix("Q")}")
    val available = spark.catalog.tableExists(view) &&
      spark.table(view).filter(col("source_file").isin(keys: _*))
        .limit(1).count() > 0
    (200, s"""{"available":$available}""")
  }

  private def getTableInfo(ex: HttpExchange): (Int, String) = {
    val p = params(ex)
    val st = stage(p)
    // case-insensitive dispatch: the reference requires "Fact Tables"
    // on one route and "FACT TABLES" on another (SURVEY §7.4's casing
    // drift) — here every casing works on every route
    val tables = p.getOrElse("data_source", "RAW").toUpperCase match {
      case "RAW"         => Seq("sec_num_", "sec_pre_", "sec_sub_", "sec_tag_").map(_ + st)
      case "JSON"        => Seq(s"sec_data_$st")
      case "FACT TABLES" => Seq(s"balance_sheet_$st", s"income_statement_$st", s"cash_flow_$st")
      case other         => return (400, detail(s"Invalid data source: $other"))
    }
    val infos = tables.map { t =>
      if (!spark.catalog.tableExists(t))
        return (400, detail(s"Unknown table: $t"))
      val (cols, sample) = SecServing.tableInfo(spark.table(t))
      val colsJson = cols.map { case (n, ty) =>
        s"""{"name":${jstr(n)},"type":${jstr(ty)}}"""
      }.mkString("[", ",", "]")
      s"""{"name":${jstr(t)},"columns":$colsJson,"sample_data":${rows(sample)}}"""
    }
    (200, infos.mkString("[", ",", "]"))
  }

  private def executeCustomQuery(ex: HttpExchange): (Int, String) = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val tree =
      try mapper.readTree(body)
      catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          return (400, detail(s"request body is not JSON: ${e.getOriginalMessage}"))
      }
    val query = Option(tree.get("query")).map(_.asText)
      .getOrElse(return (400, detail("body must carry a 'query' field")))
    (200, s"""{"data":${rows(SecServing.executeSql(spark, query),
      rejectCartesian)}}""")
  }

  private def getFinancialData(ex: HttpExchange): (Int, String) = {
    val p = params(ex)
    val st = stage(p)
    val dataType = p.getOrElse("data_type", "")
    val bucket = Map("Income Statement" -> "ic", "Balance Sheet" -> "bs",
      "Cash Flow" -> "cf").get(dataType)
      .getOrElse(return (400, detail(s"Invalid data type: $dataType")))
    val t0 = System.nanoTime()
    val df = p.getOrElse("source", "RAW").toUpperCase match {
      case "RAW" =>
        // real SEC data writes the income statement as both IC and IS
        // (the reference's data:is/data:ic drift) — match the family
        val stmts = if (bucket == "ic") Seq("IC", "IS")
          else Seq(bucket.toUpperCase)
        SecServing.statementQuery(
          spark.table(s"sec_sub_$st"), spark.table(s"sec_pre_$st"),
          spark.table(s"sec_num_$st"), stmts)
      case "FACT TABLES" =>
        val t = Map("bs" -> "balance_sheet", "ic" -> "income_statement",
          "cf" -> "cash_flow")(bucket) + s"_$st"
        spark.table(t)
      case "JSON" =>
        SecJsonDocs.statementView(spark.table(s"sec_data_$st"), bucket)
      case other => return (400, detail(s"Invalid source: $other"))
    }
    val data = rows(df)
    val secs = (System.nanoTime() - t0) / 1e9
    (200, s"""{"data":$data,"execution_time":$secs}""")
  }

  /** Sixth route (beyond the reference's five): serve the streaming
    * upsert table ([[graft.streaming.UpsertStream]]) — the maintenance
    * story's read edge. `GET /table-snapshot?root=<table root>
    * [&version=<n|vn>]` answers from the CURRENT committed snapshot,
    * or AS-OF version n when asked; a version the retention window
    * has vacuumed (or a torn, uncommitted directory) is a 404, so
    * time-travel depth surfaces as the stated policy, never as a read
    * of half-deleted files. Response carries both ids —
    * `{"version":n,"current":m,"data":[…]}` — so a client can tell an
    * as-of read from a current one; data rides [[rows]] (maxRows cap,
    * job deadline, NaN sanitize) like every other data route. */
  /** TEST SEAM for the snapshot-read race: invoked after a read
    * attempt resolves its snapshot directory and before the scan
    * runs — the exact TOCTOU window a live drain's retention vacuum
    * can land in. Production value is a no-op; ApiSpec swaps in a
    * hook that vacuums (and, for the current-read case, advances)
    * the table mid-read so both recheck branches and the retry path
    * execute deterministically instead of depending on a thread
    * race. */
  private[graft] var snapshotReadRaceHook: () => Unit = () => ()

  /** ONE committed read attempt against snapshot v{ver} of `root` —
    * the vacuum-race discipline every snapshot-serving route shares.
    * The caller's version resolution is point-in-time, so `body`'s
    * collect can land on a snapshot a live drain's retention vacuum
    * is deleting under it. The attempt COUNTS (Some) only if the
    * version is still committed afterwards — and the recheck is sound
    * because vacuum UN-COMMITS first (UpsertStream.vacuumPrefixed
    * deletes the marker before the recursive delete, making the
    * marker the linearization point for vacuum as it is for commit):
    * whether the scan threw on vanished part files or silently listed
    * a subset, a vacuumed version can never recheck as committed, so
    * a truncated 200 and a raced 500 are both impossible. A NonFatal
    * failure with the version STILL committed is a genuine error and
    * rethrows (→ 500/504 via handle). */
  private def readCommitted(root: String, ver: Long)(
      body: => (Int, String)): Option[(Int, String)] =
    try {
      snapshotReadRaceHook()
      val r = body
      if (graft.streaming.UpsertStream
          .snapshotDir(spark, root, ver).isEmpty) None
      else Some(r)
    } catch {
      case scala.util.control.NonFatal(_)
          if graft.streaming.UpsertStream
            .snapshotDir(spark, root, ver).isEmpty => None
    }

  /** Serve a read of `root`'s CURRENT committed snapshot under the
    * re-resolve-and-retry contract: the resolved snapshot can only be
    * vacuumed mid-read because a live drain committed NEWER versions,
    * so the route re-resolves and retries instead of 404ing — a
    * current read must not 404 while the table has a committed
    * snapshot. Retries are bounded; a writer fast enough to outrun
    * all three attempts maps to 503 (retryable), never a wrong answer
    * or a misleading "left the window". `read(curId, snapDir)` builds
    * the success response. */
  private def serveCurrentRead(root: String)(
      read: (Long, String) => (Int, String)): (Int, String) = {
    var tries = 0
    while (tries < 3) {
      tries += 1
      val (curId, cur) = graft.streaming.UpsertStream
        .currentSnapshotVersion(spark, root)
        .getOrElse(return (404, detail(
          s"no committed snapshot under $root")))
      readCommitted(root, curId)(read(curId, cur)) match {
        case Some(r) => return r
        case None => () // vacuumed mid-read; re-resolve and retry
      }
    }
    (503, detail("current snapshot kept leaving the retention " +
      "window during the read — retry"))
  }

  private def tableSnapshot(ex: HttpExchange): (Int, String) = {
    val p = params(ex)
    val root = p.getOrElse("root",
      return (400, detail("root parameter required")))
    val asOf = p.get("version").map { v =>
      v.stripPrefix("v").toLongOption.getOrElse(
        return (400, detail(s"invalid version: $v")))
    }
    asOf match {
      case Some(n) =>
        // explicit as-of: depth IS the retention policy, so a version
        // outside (or leaving) the window is a 404 — stated policy,
        // never a read of half-deleted files
        val curId = graft.streaming.UpsertStream
          .currentSnapshotVersion(spark, root).map(_._1)
          .getOrElse(return (404, detail(
            s"no committed snapshot under $root")))
        graft.streaming.UpsertStream.snapshotDir(spark, root, n) match {
          case None => (404, detail(
            s"version $n is outside the retention window " +
              s"(current: $curId)"))
          case Some(d) =>
            readCommitted(root, n) {
              (200, s"""{"version":$n,"current":$curId,"data":${
                rows(readSnapshot(d))}}""")
            }.getOrElse((404, detail(
              s"version $n left the retention window during the read")))
        }
      case None =>
        serveCurrentRead(root) { (curId, snap) =>
          (200, s"""{"version":$curId,"current":$curId,"data":${
            rows(readSnapshot(snap))}}""")
        }
    }
  }

  /** A committed snapshot directory, read under its footer-read
    * schema ([[Maintenance.dataSchema]]) instead of an inference job. */
  private def readSnapshot(dir: String): DataFrame =
    spark.read.schema(Maintenance.dataSchema(spark, dir)).parquet(dir)

  /** Seventh route: KEYED POINT LOOKUP on the upsert table — the
    * serving primitive the [[Maintenance.writeSkipIndex]] sidecar
    * exists for. `GET /table-lookup?root=<table root>&key=
    * <column>&value=<long>` answers from the current committed
    * snapshot; when the snapshot carries a `_skipindex` covering the
    * key, the read opens ONLY the files whose [min, max] admits the
    * probe — a keyed read at 100 TB is O(matching files), never a
    * table scan — and falls back to the plain filtered scan otherwise
    * (the index is an accelerator, not a correctness dependency).
    *
    * Cost: the metadata work per lookup is one `listStatus` of the
    * snapshot, one data-file footer open (the schema) and at most one
    * `_skipindex` read (one open per part file), all on the driver
    * under the session's Hadoop conf. An indexed lookup is then served
    * ON THE DRIVER with no Spark job and no code generation
    * ([[Maintenance.pointLookup]]): the candidates' admitted row
    * groups are decoded by Spark's Parquet row converter and rendered
    * by [[rowsOf]]. Otherwise ONE Spark scan serves, of exactly the
    * files the driver names: the candidates when their admitted row
    * groups exceed [[Maintenance.PointLookupMaxBytes]] — a read that
    * size belongs on cancellable jobs under the request deadline —
    * and every data file when no index covers the key or the driver
    * read fails (an unreadable sidecar, a file vacuumed mid-read). Its only
    * Spark work is the [[rows]] collect, rendered by the same writer.
    * The response reports `files_opened`/`files_total` so a client
    * can see the pruning.
    * Vacuum races resolve exactly like the current-read path of
    * [[tableSnapshot]]: post-read marker recheck, bounded re-resolve
    * retries, 503 if a writer outruns them. */
  private def tableLookup(ex: HttpExchange): (Int, String) = {
    val p = params(ex)
    val root = p.getOrElse("root",
      return (400, detail("root parameter required")))
    val key = p.getOrElse("key",
      return (400, detail("key parameter required")))
    val value = p.get("value").flatMap(_.toLongOption).getOrElse(
      return (400, detail("value parameter required (integer)")))
    serveCurrentRead(root) { (curId, cur) =>
      val curPath = new org.apache.hadoop.fs.Path(cur)
      // files_total is the ON-DISK data-file count on every path —
      // the index's own coverage (which excludes zero-row files)
      // must not make an unchanged table report different totals
      // depending on which path served it
      val files = curPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(curPath).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSeq
      val total = files.length.toLong
      val schema = Maintenance.dataSchema(spark, cur, files)
      def answer(opened: Long, data: String) = (200,
        s"""{"version":$curId,"files_opened":$opened,""" +
          s""""files_total":$total,"data":$data}""")
      if (!schema.fieldNames.contains(key))
        (400, detail(s"unknown key column: $key"))
      else {
        // the index is an ACCELERATOR, never a correctness dependency:
        // a driver read that fails (an unreadable sidecar, a file
        // vacuumed mid-read) scans every data file, and a vacuumed
        // snapshot then trips serveCurrentRead's recheck, which is the
        // retry path's job
        val served =
          try Maintenance.pointLookup(spark, cur, files, key, value,
            schema, Maintenance.PointLookupMaxBytes)
          catch { case scala.util.control.NonFatal(_) => Left(files) }
        served match {
          case Right(hit) => answer(hit.opened, rowsOf(schema, hit.rows))
          case Left(scan) => answer(scan.length, rows(spark.read
            .schema(schema).parquet(scan: _*).filter(col(key) === value)))
        }
      }
    }
  }

  private def queryData(ex: HttpExchange): (Int, String) = {
    val query = params(ex).getOrElse("query",
      return (400, detail("query parameter required")))
    (200, s"""{"data":${rows(SecServing.executeSql(spark, query),
      rejectCartesian)}}""")
  }

  // ---- plumbing ----

  /** Serve one exchange: the whole route body runs under the
    * request's job group and deadline ([[withJobTimeout]]), so every
    * Spark job a request starts — metadata reads included — carries a
    * `graft-api-<route>-<n>` group and is cancelled with it. */
  private def handle(ex: HttpExchange)(f: HttpExchange => (Int, String)): Unit = {
    val route = ex.getHttpContext.getPath.stripPrefix("/")
    val (code, body) =
      try withJobTimeout(route)(f(ex))
      catch {
        case _: RequestTimeout => (504, detail(
          s"query exceeded ${sqlTimeoutMs} ms and was cancelled"))
        case e: CartesianRejected => (400, detail(
          s"query rejected: plan contains a cartesian product " +
            s"(${e.shape}) — add a join condition"))
        case e: Throwable => (500, detail(
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"))
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  /** `{year}Q{n}` stage key; accepts quarter as `Q4` or `4`. */
  private def stage(p: Map[String, String]): String =
    s"${p.getOrElse("year", "")}Q${p.getOrElse("quarter", "").stripPrefix("Q")}"

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** Rows as a JSON array, the one renderer of every data route:
    * `df` capped at [[maxRows]] as the plan's ROOT limit (a scan
    * collects incrementally — one job when its first partition holds
    * the answer — and a sorted result as one top-k job), collected as
    * Spark's internal rows under a SQL execution exactly as `collect()`
    * runs it, so the request's job group, the execution id and every
    * `QueryExecutionListener` see the read, then written by
    * [[rowsOf]]. The capped frame is the only plan the request builds:
    * `check` sees its physical plan before any job runs
    * ([[rejectCartesian]]). */
  private[graft] def rows(df: DataFrame,
      check: SparkPlan => Unit = _ => ()): String = {
    val capped = df.limit(maxRows)
    val qe = capped.queryExecution
    check(qe.executedPlan)
    rowsOf(capped.schema, SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect()))
  }

  /** Rows of `schema` as a JSON array, at most [[maxRows]] of them,
    * each written by Spark's own JSON writer ([[DriverRowCodecs.jsonWriter]],
    * the one `to_json` uses: correct escaping and nested types for
    * free). Names are kept by position, so duplicate output names
    * (e.g. a self-join's two `value`s) serve instead of 500ing on an
    * ambiguous reference. NaN/±Inf → null (the reference's
    * sanitize_float_values) in TOP-LEVEL float columns, exactly the
    * reference's scope — Snowflake cursor rows are flat, so its
    * sanitize never saw a nested value either; a double inside a
    * struct (reachable only via free-form SQL over the doc tables)
    * serializes as the string "NaN". A row with such a value is
    * copied before it is nulled: a plan's collect can hand back the
    * plan's own rows (`LocalTableScanExec`). */
  private[graft] def rowsOf(schema: StructType,
      data: Iterable[InternalRow]): String = {
    val write = DriverRowCodecs.jsonWriter(spark, schema)
    def finite(r: InternalRow, i: Int): Boolean = r.isNullAt(i) || {
      val v = if (schema(i).dataType == DoubleType) r.getDouble(i)
        else r.getFloat(i).toDouble
      !v.isNaN && !v.isInfinite
    }
    val floats = schema.fields.indices.filter(i =>
      schema(i).dataType == DoubleType || schema(i).dataType == FloatType)
    data.take(maxRows).map { r =>
      val bad = floats.filterNot(finite(r, _))
      if (bad.isEmpty) write(r)
      else {
        val own = r.copy()
        bad.foreach(own.setNullAt)
        write(own)
      }
    }.mkString("[", ",", "]")
  }

  private def jstr(s: String): String = mapper.writeValueAsString(s)

  private def detail(msg: String): String = s"""{"detail":${jstr(msg)}}"""
}

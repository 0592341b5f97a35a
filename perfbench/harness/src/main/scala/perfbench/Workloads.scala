package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Maintenance, SecFactTables, SecJsonDocs, SecServing}
import graft.quality.DataQuality
import graft.serving.Api
import graft.sources.{SecIngest, ZipIngest}
import graft.streaming.UpsertStream

object Workloads {
  /** Registered queries by number: most of the reference surface, two
    * other operator families, and one heavy iterative query (q45). */
  val BatchQueries: Seq[Int] =
    Seq(1, 3, 5, 8, 11, 14, 15, 21, 159, 166, 169, 172, 213) ++ Seq(50, 140) ++ Seq(45)

  /** Streaming drains: the upsert chain's head and the ingest dedup. */
  val StreamQueries: Seq[Int] = Seq(253, 218)

  def registered(nums: Seq[Int]): Seq[String] = {
    val keys = SparkEntry.queries.keys.toSeq
    nums.map(n => keys.find(_.startsWith(f"q$n%02d_")).getOrElse(
      sys.error(s"no registered query q$n")))
  }

  def apply(name: String, spark: SparkSession, inputs: String, work: String,
            seed: Long): Workload = name match {
    case "batch_sweep" =>
      new QuerySweep(spark, s"$inputs/tables", work, seed, registered(BatchQueries), "query")
    case "stream_cdc" =>
      new QuerySweep(spark, s"$inputs/tables", work, seed, registered(StreamQueries), "drain")
    case "sec_pipeline" => new SecPipeline(spark, inputs, work)
    case "serve" => new Serve(spark, inputs, work)
    case other => sys.error(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirStats(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }
}

/** batch_sweep and stream_cdc: registered queries in a seeded order,
  * each op the builder call plus full materialization (noop sink). The
  * warm pass writes each result as parquet for the DuckDB oracle. */
final class QuerySweep(spark: SparkSession, tables: String, work: String,
                       seed: Long, names: Seq[String], cls: String) extends Workload {
  private val order = new scala.util.Random(seed).shuffle(names)
  private val scratch = System.getProperty("java.io.tmpdir")
  private var written = Seq.empty[(Long, Long)]

  def warm(): Seq[String] = {
    val out = s"$work/check"
    val failed = order.filter { n =>
      graft.BenchSession.dropPinnedBlocks(spark)
      val t = System.nanoTime()
      try {
        SparkEntry.queries(n)(spark, tables).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$n")
        System.err.println(f"[perfbench] warm $n ${Harness.secs(t) * 1000}%.1f ms")
        false
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm $n failed: $e"); true
      }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Harness.json.writeValueAsString(oracle))
    failed
  }

  def ops: Seq[Op] = order.map { n =>
    Op(n, cls, id => {
      val before = if (Spans.enabled) Some(Workloads.dirStats(scratch)) else None
      val df = Spans("operators.build", id)(SparkEntry.queries(n)(spark, tables))
      Spans("spark.materialize", id)(Workloads.noop(df))
      before.foreach { case (bytes, files) =>
        val (b, f) = Workloads.dirStats(scratch)
        written :+= ((b - bytes, f - files))
      }
      true
    })
  }

  override def extra(): Map[String, Any] = Map(
    "order" -> order,
    "scratch_bytes_written" -> written.map(_._1),
    "scratch_files_written" -> written.map(_._2),
    "input_bytes" -> Workloads.dirStats(tables)._1)

  override def close(): Unit = {
    graft.streaming.StagedDrops.cleanup(spark)
    graft.sources.Scratch.sweep(spark)
  }
}

/** sec_pipeline: the SEC quarter ZIPs through ingest, the partitioned
  * raw sink, the three fact tables, the JSON documents and their
  * statement views, and the data-quality suite. One op per stage. */
final class SecPipeline(spark: SparkSession, inputs: String, work: String) extends Workload {
  private val zips = s"$inputs/sec/*.zip"
  private val ticker = SecIngest.readTicker(spark, s"$inputs/sec/ticker.txt")
  private var pass = 0
  private var lastDir = ""

  private def stages(dir: String): Seq[Op] = {
    lazy val raw = Seq("sub", "num", "pre", "tag")
      .map(t => t -> SecIngest.readPartitioned(spark, s"$dir/raw/$t")).toMap
    // Each stage: a layer span, with the builder call inside it under
    // `operators.build` so jobs launched before the final action show.
    def stage(name: String, layer: String)(build: => DataFrame)(act: DataFrame => Unit) =
      Op(name, "stage", id => Spans(layer, id) {
        act(Spans("operators.build", id)(build))
        true
      })
    def facts(stmt: String) = stage(s"facts_$stmt", "operators.sec_facts")(
      SecFactTables.build(raw("num"), raw("sub"), raw("pre"), stmt.toUpperCase))(
      _.write.mode("overwrite").parquet(s"$dir/facts/$stmt"))
    lazy val docsSchema = SecJsonDocs.buildDocs(raw("num"), raw("sub"), raw("pre"),
      raw("tag"), ticker).schema
    def view(bucket: String) = stage(s"view_$bucket", "operators.sec_docs")(
      SecJsonDocs.statementView(spark.read.schema(docsSchema).json(s"$dir/docs"), bucket))(
      Workloads.noop)
    Seq(
      Op("ingest", "stage", id => Spans("sources.ingest", id) {
        val q = Spans("operators.build", id)(ZipIngest.ingestQuarterZips(spark, zips))
        Seq("sub", "num", "pre", "tag").foreach(t =>
          SecIngest.writePartitioned(q(t), s"$dir/raw/$t"))
        true
      }),
      facts("bs"), facts("is"), facts("cf"),
      stage("docs", "operators.sec_docs")(SecJsonDocs.buildDocs(
        raw("num"), raw("sub"), raw("pre"), raw("tag"), ticker))(
        SecIngest.writeDocs(_, s"$dir/docs")),
      view("bs"), view("cf"), view("ic"),
      Op("quality", "stage", id => Spans("quality.check", id) {
        val checks = Spans("operators.build", id)(
          DataQuality.secSuite(raw("sub"), raw("num"), raw("pre"), raw("tag")))
        DataQuality.report(checks).size == checks.size
      }))
  }

  def warm(): Seq[String] = Harness.warmOps(stages(s"$work/check"), 1, spark)

  override def beforePass(): Unit = {
    if (lastDir.nonEmpty) Workloads.deleteTree(lastDir)
    pass += 1
    lastDir = s"$work/pass-$pass"
  }

  def ops: Seq[Op] = stages(lastDir)

  override def extra(): Map[String, Any] = {
    val (bytes, files) = Workloads.dirStats(lastDir)
    Map("stored_bytes" -> bytes, "stored_files" -> files)
  }
}

/** serve: an in-process Api on an ephemeral port, driven by closed-loop
  * HTTP clients over a seeded request mix. Fixtures: one quarter
  * persisted with its documents and fact tables, and an upsert table
  * built from the feed and indexed with the skipping index. Every
  * response is checked: lookups against the filtered scan, statement
  * reads against SecServing.statementQuery / the tables themselves. */
final class Serve(spark: SparkSession, inputs: String, work: String) extends Workload {
  override val clients: Int = 4
  /** Traced passes only: HTTP statuses by class, and the files point
    * lookups opened out of the snapshot's files. */
  private val counts = scala.collection.concurrent.TrieMap.empty[String, LongAdder]
  private def count(k: String, n: Long): Unit =
    if (Spans.enabled) counts.getOrElseUpdate(k, new LongAdder).add(n)
  private val mapper = new ObjectMapper()
  private val requests: Seq[JsonNode] =
    mapper.readTree(Files.readString(Paths.get(s"$inputs/serve/requests.json")))
      .elements.asScala.toSeq
  private val quarter = requests.collectFirst {
    case r if r.has("year") => s"${r.get("year").asText}Q${r.get("quarter").asText}"
  }.get
  private val root = s"$work/upsert"
  private var api: Api = _
  private var base = ""
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private var expected = Map.empty[String, Seq[String]]
  private var lookupRows = Map.empty[Long, String]
  private var snapshotRows = 0

  /** Fixture ops carry id 0; a traced run records their spans too. */
  override def setup(): Unit = {
    Spans("fixture.quarter", 0)(persistQuarter())
    Spans("fixture.upsert", 0)(buildUpsertTable())
    Spans("fixture.expected", 0)(expectedAnswers())
    api = new Api(spark)
    base = s"http://127.0.0.1:${api.start(0, threads = 8)}"
  }

  /** The quarter's raw tables persisted first, then its documents and
    * fact tables built from the persisted copies. */
  private def persistQuarter(): Unit = {
    val q = ZipIngest.ingestQuarterZips(spark, s"$inputs/serve/sec/*.zip")
    SecServing.persistQuarterTables(spark, quarter, q)
    spark.catalog.setCurrentDatabase("sec")
    val Seq(sub, num, pre, tag) =
      Seq("sub", "num", "pre", "tag").map(t => spark.table(s"sec_${t}_$quarter"))
    val ticker = SecIngest.readTicker(spark, s"$inputs/serve/sec/ticker.txt")
    SecServing.persistQuarterTables(spark, quarter,
      Map("data" -> SecJsonDocs.buildDocs(num, sub, pre, tag, ticker)))
    Seq("balance_sheet" -> "BS", "income_statement" -> "IS", "cash_flow" -> "CF")
      .foreach { case (t, s) =>
        SecFactTables.build(num, sub, pre, s).write.mode("overwrite")
          .saveAsTable(s"sec.${t}_$quarter")
      }
  }

  /** The upsert table: one availableNow drain per feed wave, then the
    * skipping index over the current snapshot. */
  private def buildUpsertTable(): Unit = {
    val drop = s"$work/upsert_drop"
    Files.createDirectories(Paths.get(drop))
    Files.list(Paths.get(s"$inputs/serve/upsert")).iterator.asScala.toSeq
      .sortBy(_.getFileName.toString).foreach { f =>
        Files.copy(f, Paths.get(drop).resolve(f.getFileName))
        Spans("streaming.drain", 0)(UpsertStream.upsertAvailableNow(
          spark, drop, root, s"$work/upsert_ck", "doc_id", "ts"))
      }
    val cur = UpsertStream.currentSnapshotVersion(spark, root).get._2
    Spans("storage.write_skip_index", 0)(Maintenance.writeSkipIndex(spark, cur, Seq("doc_id")))
  }

  /** Expected answers, from the tables the routes read. */
  private def expectedAnswers(): Unit = {
    val cur = UpsertStream.currentSnapshotVersion(spark, root).get._2
    val snap = spark.read.parquet(cur)
    lookupRows = snap.toJSON.collect().map { j =>
      mapper.readTree(j).get("doc_id").asLong -> norm(j)
    }.toMap
    snapshotRows = lookupRows.size
    def rowsOf(df: DataFrame) = df.limit(10000).toJSON.collect().map(norm).sorted.toSeq
    val stmts = Map("Balance Sheet" -> Seq("BS"), "Income Statement" -> Seq("IC", "IS"),
      "Cash Flow" -> Seq("CF"))
    val buckets = Map("Balance Sheet" -> "bs", "Income Statement" -> "ic", "Cash Flow" -> "cf")
    val facts = Map("Balance Sheet" -> "balance_sheet", "Income Statement" -> "income_statement",
      "Cash Flow" -> "cash_flow")
    expected = stmts.keys.flatMap { dt =>
      Seq(
        s"RAW|$dt" -> rowsOf(SecServing.statementQuery(spark.table(s"sec_sub_$quarter"),
          spark.table(s"sec_pre_$quarter"), spark.table(s"sec_num_$quarter"), stmts(dt))),
        s"FACT TABLES|$dt" -> rowsOf(spark.table(s"${facts(dt)}_$quarter")),
        s"JSON|$dt" -> rowsOf(SecJsonDocs.statementView(spark.table(s"sec_data_$quarter"),
          buckets(dt))))
    }.toMap ++ requests.filter(_.get("route").asText == "execute-custom-query")
      .map(_.get("query").asText).distinct
      .map(sql => s"SQL|$sql" -> rowsOf(SecServing.executeSql(spark, sql))).toMap
  }

  /** One JSON row normalized for comparison (Spark's writer vs Jackson). */
  private def norm(row: String): String = mapper.writeValueAsString(mapper.readTree(row))

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  private def send(r: JsonNode): (Int, String) = {
    def p(k: String) = enc(r.get(k).asText)
    val route = r.get("route").asText
    val req = route match {
      case "table-lookup" => HttpRequest.newBuilder(URI.create(
        s"$base/table-lookup?root=${enc(root)}&key=doc_id&value=${r.get("key").asLong}")).GET()
      case "get-financial-data" => HttpRequest.newBuilder(URI.create(
        s"$base/get-financial-data?year=${p("year")}&quarter=${p("quarter")}" +
          s"&data_type=${p("data_type")}&source=${p("source")}")).GET()
      case "execute-custom-query" =>
        HttpRequest.newBuilder(URI.create(s"$base/execute-custom-query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            mapper.createObjectNode().put("query", r.get("query").asText).toString))
      case "table-snapshot" => HttpRequest.newBuilder(URI.create(
        s"$base/table-snapshot?root=${enc(root)}")).GET()
      case "check-availability" => HttpRequest.newBuilder(URI.create(
        s"$base/check-availability?year=${p("year")}&quarter=${p("quarter")}")).GET()
      case "get-table-info" => HttpRequest.newBuilder(URI.create(
        s"$base/get-table-info?data_source=${p("data_source")}&year=${p("year")}" +
          s"&quarter=${p("quarter")}")).GET()
    }
    val resp = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }

  private def dataRows(body: JsonNode): Seq[String] =
    body.get("data").elements.asScala.map(n => mapper.writeValueAsString(n)).toSeq

  /** The last response on this client thread, checked after its clock stopped. */
  private val lastBody = new ThreadLocal[String]()

  /** Check one response against the expected answer. */
  private def check(r: JsonNode): Boolean = {
    val body = mapper.readTree(lastBody.get)
    r.get("route").asText match {
      case "table-lookup" =>
        val key = r.get("key").asLong
        count("lookup_files_opened", body.get("files_opened").asLong)
        count("lookup_files_total", body.get("files_total").asLong)
        dataRows(body) == lookupRows.get(key).toSeq
      case "get-financial-data" =>
        dataRows(body).sorted == expected(s"${r.get("source").asText}|${r.get("data_type").asText}")
      case "execute-custom-query" =>
        dataRows(body).sorted == expected(s"SQL|${r.get("query").asText}")
      case "table-snapshot" =>
        body.get("version").asLong == body.get("current").asLong &&
          body.get("data").size == snapshotRows
      case "check-availability" => body.get("available").asBoolean
      case "get-table-info" => body.size > 0
    }
  }

  def ops: Seq[Op] = requests.map { r =>
    val route = r.get("route").asText
    Op(route, r.get("class").asText, id => {
      val (status, body) = Spans(s"serving.$route", id)(send(r))
      count(if (status == 504) "status_504" else s"status_${status / 100}xx", 1)
      lastBody.set(body)
      status == 200
    }, () => check(r))
  }

  def warm(): Seq[String] = Harness.warmOps(ops, clients, spark)

  override def extra(): Map[String, Any] = {
    val snaps = Files.list(Paths.get(root)).iterator.asScala
      .count(p => UpsertStream.snapshotDir(spark, root,
        p.getFileName.toString.stripPrefix("v").toLongOption.getOrElse(-1L)).isDefined)
    val cur = UpsertStream.currentSnapshotVersion(spark, root).get._2.stripPrefix("file:")
    val live = Files.list(Paths.get(cur)).iterator.asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val (bytes, files) = Workloads.dirStats(root)
    counts.map { case (k, v) => k -> v.sum }.toMap ++ Map(
      "snapshots_live" -> snaps, "snapshot_dir" -> cur,
      "files_live" -> live, "table_bytes" -> bytes, "table_files" -> files)
  }

  override def close(): Unit = if (api != null) api.stop()
}

package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.serving.Api
import graft.sources.{SecIngest, SecSchemas}
import graft.operators.{SecJsonDocs, SecServing}
import org.apache.spark.sql.DataFrame

/** Live round-trip of the serving shell: real HTTP server on an
  * ephemeral port, real JDK HttpClient, responses parsed with Jackson.
  * Covers all five reference endpoints (backend/main.py:43-252) plus
  * the NaN-sanitize contract and the error shapes.
  */
class ApiSpec extends SparkSpec {

  private def writeFixture(dir: String, name: String, lines: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  private lazy val dir = tmpDir("api_fixture")
  private lazy val sub = SecIngest.ingestQuarter(spark,
    writeFixture(dir, "sub.txt", Seq(
      SecSchemas.sub.fieldNames.mkString("\t"),
      "f1\t100\tAcme Corp\t3711\tUS\tCA\tPaloAlto\t94301\t\t\t\tUS\tCA\tPaloAlto\t94301\t\t\tUS\tCA\t123456789\t\t\t1-LAF\t1\t1231\t10-K\t20230930\t2023\tQ3\t20231101\t2023-11-01 12:00:00.0\t0\t1\tinst1\t1\t")),
    SecSchemas.sub, "2023Q4")
  private lazy val num = SecIngest.ingestQuarter(spark,
    writeFixture(dir, "num.txt", Seq(
      SecSchemas.num.fieldNames.mkString("\t"),
      "f1\tRevenue\tus-gaap/2023\t20230930\t1\tUSD\t\t\t1000.5\t",
      "f1\tAssets\tus-gaap/2023\t20230930\t0\tUSD\t\t\t5000\t")),
    SecSchemas.num, "2023Q4")
  private lazy val pre = SecIngest.ingestQuarter(spark,
    writeFixture(dir, "pre.txt", Seq(
      SecSchemas.pre.fieldNames.mkString("\t"),
      "f1\t1\t1\tIS\t0\tH\tRevenue\tus-gaap/2023\tTotal revenue\t0",
      "f1\t1\t2\tBS\t0\tH\tAssets\tus-gaap/2023\tTotal assets\t0")),
    SecSchemas.pre, "2023Q4")
  private lazy val tag = SecIngest.ingestQuarter(spark,
    writeFixture(dir, "tag.txt", Seq(
      SecSchemas.tag.fieldNames.mkString("\t"),
      "Revenue\tus-gaap/2023\t0\t0\tmonetary\tD\tC\tRevenue\tRevenue doc",
      "Assets\tus-gaap/2023\t0\t0\tmonetary\tI\tD\tAssets\tAssets doc")),
    SecSchemas.tag, "2023Q4")

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private var api: Option[Api] = None
  private lazy val port: Int = {
    SecServing.registerQuarterViews(spark, "2023Q4",
      Map("sub" -> sub, "num" -> num, "pre" -> pre, "tag" -> tag))
    val ticker = SecIngest.readTicker(spark,
      writeFixture(dir, "ticker.txt", Seq("acme\t100")))
    SecJsonDocs.buildDocs(num, sub, pre, tag, ticker)
      .createOrReplaceTempView("sec_data_2023Q4")
    val a = new Api(spark)
    api = Some(a)
    a.start(0)
  }

  private def get(path: String): (Int, JsonNode) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }

  private def post(path: String, body: String): (Int, JsonNode) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }

  /** The raw `data` array of a response body whose route writes it
    * last, byte for byte. */
  private def rawData(path: String): String = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, s"$path: ${r.statusCode()} ${r.body()}")
    r.body().substring(r.body().indexOf("\"data\":") + 7).stripSuffix("}")
  }

  private def sqlPath(sql: String): String =
    "/query-data?query=" + java.net.URLEncoder.encode(sql, "UTF-8")

  /** The reference renderer the parity cases compare against: the
    * `to_json` projection every Spark-read route rendered through
    * before all routes shared `Api.rowsOf`. Columns are renamed by
    * position so duplicate names survive, top-level NaN/±Inf become
    * null, and at most 10000 rows (the Api default) are collected. */
  private def toJsonRows(df: DataFrame): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val names = df.columns
    val tmp = df.toDF(names.indices.map(i => s"__c$i"): _*)
    val json = to_json(struct(names.indices.map { i =>
      val c = col(s"__c$i")
      val cleaned = df.schema.fields(i).dataType match {
        case DoubleType | FloatType =>
          when(isnan(c) || abs(c) === Double.PositiveInfinity, lit(null))
            .otherwise(c)
        case _ => c
      }
      cleaned.as(names(i))
    }: _*))
    tmp.select(json).limit(10000).collect().map(_.getString(0))
      .mkString("[", ",", "]")
  }

  test("check-availability: present quarter true, absent quarter false") {
    val (c1, b1) = get("/check-availability?year=2023&quarter=Q4")
    assert(c1 == 200 && b1.get("available").asBoolean)
    val (c2, b2) = get("/check-availability?year=2021&quarter=Q1")
    assert(c2 == 200 && !b2.get("available").asBoolean)
  }

  test("get-table-info: RAW lists the four quarter tables with schema + sample") {
    val (code, body) = get("/get-table-info?data_source=RAW&year=2023&quarter=Q4")
    assert(code == 200 && body.size == 4)
    val names = (0 until body.size).map(body.get(_).get("name").asText).toSet
    assert(names == Set("sec_num_2023Q4", "sec_pre_2023Q4",
      "sec_sub_2023Q4", "sec_tag_2023Q4"))
    val numInfo = (0 until body.size).map(body.get)
      .find(_.get("name").asText == "sec_num_2023Q4").get
    val cols = (0 until numInfo.get("columns").size)
      .map(numInfo.get("columns").get(_).get("name").asText)
    assert(cols.contains("adsh") && cols.contains("value"))
    assert(numInfo.get("sample_data").size == 2)
    val (bad, badBody) = get("/get-table-info?data_source=Nope&year=2023&quarter=Q4")
    assert(bad == 400 && badBody.get("detail").asText.contains("Invalid data source"))
  }

  test("execute-custom-query: POST body SQL over the registered views") {
    val (code, body) = post("/execute-custom-query",
      """{"query":"SELECT adsh, count(*) AS n FROM sec_num_2023Q4 GROUP BY 1"}""")
    assert(code == 200)
    assert(body.get("data").get(0).get("adsh").asText == "f1")
    assert(body.get("data").get(0).get("n").asLong == 2L)
    val (bad, _) = post("/execute-custom-query", """{"nope":1}""")
    assert(bad == 400)
    val (err, errBody) = post("/execute-custom-query",
      """{"query":"SELECT * FROM not_a_table"}""")
    assert(err == 500 && errBody.has("detail"))
  }

  test("get-financial-data: RAW statement join and JSON view both serve") {
    val (code, body) =
      get("/get-financial-data?year=2023&quarter=Q4&data_type=Balance%20Sheet&source=RAW")
    assert(code == 200 && body.has("execution_time"))
    val row = body.get("data").get(0)
    assert(row.get("adsh").asText == "f1" &&
      row.get("plabel").asText == "Total assets")
    // the fixture writes the income statement as SEC-real "IS"; the
    // RAW path must match the IC|IS family, not replicate the
    // reference's data:is/data:ic drift
    val (ic, ib) =
      get("/get-financial-data?year=2023&quarter=Q4&data_type=Income%20Statement&source=RAW")
    assert(ic == 200 && ib.get("data").size == 1 &&
      ib.get("data").get(0).get("plabel").asText == "Total revenue")
    val (jc, jb) =
      get("/get-financial-data?year=2023&quarter=Q4&data_type=Income%20Statement&source=JSON")
    assert(jc == 200 && jb.get("data").get(0).get("concept").asText == "Revenue")
    val (bad, _) =
      get("/get-financial-data?year=2023&quarter=Q4&data_type=Nope&source=RAW")
    assert(bad == 400)
  }

  test("source tokens dispatch case-insensitively") {
    val (code, body) = get("/get-table-info?data_source=raw&year=2023&quarter=Q4")
    assert(code == 200 && body.size == 4)
  }

  test("availability matches the scrape-path's underscore lineage stamp too") {
    import org.apache.spark.sql.functions.lit
    sub.withColumn("source_file", lit("2024_Q1"))
      .createOrReplaceTempView("sec_sub_2024Q1")
    val (code, body) = get("/check-availability?year=2024&quarter=Q1")
    assert(code == 200 && body.get("available").asBoolean)
  }

  test("duplicate output column names serve instead of 500ing") {
    val sql = "SELECT cast(1.5 as double) AS v, cast('NaN' as double) AS v"
    val (code, body) = post("/execute-custom-query", s"""{"query":"$sql"}""")
    assert(code == 200 && body.get("data").size == 1)
    assert(rawData(sqlPath(sql)) == toJsonRows(spark.sql(sql)))
  }

  test("query-data: GET SQL; NaN and Infinity sanitize to null") {
    import spark.implicits._
    Seq(("ok", 1.5), ("nan", Double.NaN), ("inf", Double.PositiveInfinity))
      .toDF("k", "v").createOrReplaceTempView("api_nan_probe")
    val (code, body) =
      get("/query-data?query=SELECT%20k%2C%20v%20FROM%20api_nan_probe%20ORDER%20BY%20k")
    assert(code == 200)
    val byK = (0 until body.get("data").size).map(body.get("data").get)
      .map(n => n.get("k").asText -> n).toMap
    assert(byK("ok").get("v").asDouble == 1.5)
    // Spark's JSON writer omits null fields — sanitized values are
    // either absent or an explicit JSON null, never NaN/Infinity
    assert(byK("nan").get("v") == null || byK("nan").get("v").isNull)
    assert(byK("inf").get("v") == null || byK("inf").get("v").isNull)
    val (bad, _) = get("/query-data")
    assert(bad == 400)
    // the writer nulls a copy: rows it is handed (a plan's own rows,
    // for a local table scan) keep their values
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val row = org.apache.spark.sql.catalyst.InternalRow(Double.NaN, 1.5)
    assert(api.get.rowsOf(StructType(Seq(StructField("a", DoubleType),
      StructField("b", DoubleType))), Seq(row)) == "[{\"b\":1.5}]")
    assert(row.getDouble(0).isNaN, "rowsOf nulled the caller's row")
  }

  test("concurrent mixed-route requests share one SparkSession " +
    "without interference") {
    // 32 in-flight requests across all routes against the 8-thread
    // server pool. Each custom query carries a request-unique constant
    // that must come back in ITS OWN response — the cross-talk probe:
    // any request served another's result fails the equality, not
    // just a count.
    val t0 = System.nanoTime()
    val futures = (0 until 32).map { i =>
      i % 4 match {
        case 0 => client.sendAsync(
          HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port/execute-custom-query"))
            .POST(HttpRequest.BodyPublishers.ofString(
              s"""{"query": "SELECT $i AS probe, count(*) AS n FROM sec_num_2023Q4"}"""))
            .build(),
          HttpResponse.BodyHandlers.ofString())
        case 1 => client.sendAsync(
          HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port/query-data?query=SELECT%20${i}%20AS%20probe"))
            .GET().build(),
          HttpResponse.BodyHandlers.ofString())
        case 2 => client.sendAsync(
          HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port/check-availability?year=2023&quarter=Q4"))
            .GET().build(),
          HttpResponse.BodyHandlers.ofString())
        case _ => client.sendAsync(
          HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port/get-table-info?data_source=RAW&year=2023&quarter=Q4"))
            .GET().build(),
          HttpResponse.BodyHandlers.ofString())
      }
    }
    val responses = futures.map(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    responses.zipWithIndex.foreach { case (r, i) =>
      assert(r.statusCode() == 200, s"request $i: ${r.body().take(200)}")
      val body = mapper.readTree(r.body())
      i % 4 match {
        case 0 | 1 =>
          assert(body.get("data").get(0).get("probe").asInt == i,
            s"request $i got another request's result: ${r.body().take(200)}")
        case 2 => assert(body.get("available").asBoolean)
        case _ => assert(body.size > 0)
      }
    }
    // sanity, not a microbenchmark: 32 requests through an 8-thread
    // pool on a warm session must not serialize into minutes
    assert(elapsed < 60.0, f"32 concurrent requests took $elapsed%.1fs")
  }

  test("free-form SQL: cartesian products are rejected before running") {
    // unconditioned comma join -> CartesianProduct or condition-less
    // BroadcastNestedLoopJoin; must 400 from the EXPLAIN check, never
    // execute
    val (code, body) = post("/execute-custom-query",
      """{"query":"SELECT * FROM sec_num_2023Q4 a, sec_tag_2023Q4 b"}""")
    assert(code == 400, s"expected rejection, got $code: $body")
    assert(body.get("detail").asText.toLowerCase.contains("cartesian"))
    val (c2, b2) = get("/query-data?query=" + java.net.URLEncoder.encode(
      "SELECT * FROM sec_num_2023Q4 CROSS JOIN sec_tag_2023Q4", "UTF-8"))
    assert(c2 == 400 && b2.get("detail").asText.toLowerCase.contains("cartesian"))
    // a cartesian hiding INSIDE a scalar subquery plan must be caught
    // too — SparkPlan.collect stops at expression boundaries, so this
    // is the bypass the subquery walk exists to close
    val (c4, b4) = post("/execute-custom-query",
      """{"query":"SELECT count(*) AS n FROM sec_num_2023Q4 WHERE value > (SELECT max(a.value + b.custom) FROM sec_num_2023Q4 a, sec_tag_2023Q4 b)"}""")
    assert(c4 == 400, s"expected subquery-cartesian rejection, got $c4: $b4")
    assert(b4.get("detail").asText.toLowerCase.contains("cartesian"))
    // the policy boundary: a CONDITIONED non-equi join (broadcast
    // nested loop WITH a condition) stays allowed — bounded by the
    // broadcast side, it is how legitimate small-dim theta joins plan
    val (c3, b3) = post("/execute-custom-query",
      """{"query":"SELECT count(*) AS n FROM sec_num_2023Q4 a JOIN sec_tag_2023Q4 b ON a.value >= b.custom"}""")
    assert(c3 == 200, s"conditioned non-equi join must serve: $b3")
    assert(b3.get("data").get(0).get("n").asLong > 0L)
  }

  test("free-form SQL: a query past the deadline is cancelled with 504 " +
    "and the server stays serviceable") {
    // dedicated instance with a tight deadline so the shared Api's
    // generous default keeps serving the other cases
    val strict = new Api(spark, maxRows = 100, sqlTimeoutMs = 400)
    val strictPort = strict.start(0)
    try {
      val t0 = System.nanoTime()
      val r = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$strictPort/query-data?query=" +
            java.net.URLEncoder.encode(
              // max, not sum: ANSI mode overflows a sum of xxhash64s
              // instantly, which would 500 before the deadline fires
              "SELECT max(xxhash64(cast(id AS string))) AS s " +
                "FROM range(2000000000)", "UTF-8"))).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val elapsed = (System.nanoTime() - t0) / 1e9
      assert(r.statusCode() == 504,
        s"expected 504, got ${r.statusCode()}: ${r.body().take(200)}")
      assert(mapper.readTree(r.body()).get("detail").asText
        .contains("cancelled"))
      // cancellation must cut the job short, not wait it out (the
      // 2e9-row scan runs tens of seconds uncancelled; generous bound
      // because this host documents CPU-steal bursts)
      assert(elapsed < 30.0, f"cancel took $elapsed%.1fs")
      // the session survives the cancel: a cheap follow-up serves
      val (okCode, okBody) = {
        val r2 = client.send(
          HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$strictPort/query-data?query=" +
              java.net.URLEncoder.encode("SELECT 1 AS one", "UTF-8")))
            .GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r2.statusCode(), mapper.readTree(r2.body()))
      }
      assert(okCode == 200 && okBody.get("data").get(0).get("one").asInt == 1)
    } finally strict.stop()
  }

  test("table-snapshot: current and as-of reads of a drained upsert table, 404 past retention") {
    // a real drained table: the q253 three-wave drain at sf0.001
    // leaves {v1, v2} live (retention) with v2 current
    val drop = graft.streaming.UpsertStream.stageUpsertWaves(spark, sf0001)
    val root = tmpDir("api_upsert_root")
    val ck = tmpDir("api_upsert_ck")
    assert(graft.streaming.UpsertStream.drainUpsertWaves(
      spark, drop, root, ck) == graft.streaming.UpsertStream.Waves)
    val enc = java.net.URLEncoder.encode(root, "UTF-8")
    // current read: version == current == 2, data == the live table
    val (c1, b1) = get(s"/table-snapshot?root=$enc")
    assert(c1 == 200 && b1.get("version").asLong == 2L &&
      b1.get("current").asLong == 2L)
    val expected = spark.read.parquet(s"$root/v2").count()
    assert(b1.get("data").size.toLong == expected,
      s"current snapshot served ${b1.get("data").size} of $expected rows")
    // as-of read one step back: version 1 under current 2
    val (c2, b2) = get(s"/table-snapshot?root=$enc&version=v1")
    assert(c2 == 200 && b2.get("version").asLong == 1L &&
      b2.get("current").asLong == 2L)
    assert(b2.get("data").size.toLong ==
      spark.read.parquet(s"$root/v1").count())
    // bare-number version syntax serves too
    val (c3, b3) = get(s"/table-snapshot?root=$enc&version=1")
    assert(c3 == 200 && b3.get("version").asLong == 1L)
    // past the retention window: v0 was vacuumed — 404, not a read of
    // deleted files
    val (c4, b4) = get(s"/table-snapshot?root=$enc&version=0")
    assert(c4 == 404 &&
      b4.get("detail").asText.contains("retention window"))
    // error shapes: missing root, unknown root, junk version
    val (c5, _) = get("/table-snapshot")
    assert(c5 == 400)
    val (c6, _) = get(s"/table-snapshot?root=${enc}_nope")
    assert(c6 == 404)
    val (c7, b7) = get(s"/table-snapshot?root=$enc&version=abc")
    assert(c7 == 400 && b7.get("detail").asText.contains("invalid version"))
  }

  test("table-snapshot: retention vacuum racing the read — as-of 404s on both branches, current read retries onto the new current") {
    import graft.streaming.UpsertStream
    val drop = UpsertStream.stageUpsertWaves(spark, sf0001)
    def freshTable(tag: String): String = {
      val root = tmpDir(s"api_race_root_$tag")
      val ck = tmpDir(s"api_race_ck_$tag")
      assert(UpsertStream.drainUpsertWaves(spark, drop, root, ck) ==
        UpsertStream.Waves)
      root // {v1, v2} live, v2 current
    }
    val a = api.get
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // arm a one-shot hook in the TOCTOU window (after the route
    // resolves its snapshot, before the scan) and self-disarm — the
    // deterministic stand-in for a racing drain's vacuum
    def arm(f: => Unit): Unit =
      a.snapshotReadRaceHook = () => {
        a.snapshotReadRaceHook = () => ()
        f
      }
    try {
      // BRANCH 1 — scan throws on vanished files: the hook vacuums the
      // as-of version whole (marker first, then the recursive delete),
      // so the read lands on a missing path; the catch-side recheck
      // classifies it as vacuumed -> 404, not 500
      val r1 = freshTable("throw")
      arm { UpsertStream.vacuumSnapshots(spark, r1, keepFrom = 2L) }
      val (c1, b1) = get("/table-snapshot?root=" +
        java.net.URLEncoder.encode(r1, "UTF-8") + "&version=1")
      assert(c1 == 404 && b1.get("detail").asText
        .contains("left the retention window during the read"),
        s"got $c1: $b1")
      // BRANCH 2 — scan succeeds but the version was un-committed
      // mid-read (the truncated-listing shape: vacuum's marker delete
      // landed, data deletes hadn't): the post-read marker recheck
      // refuses the 200. The hook deletes ONLY the marker — the data
      // files all survive, so only the recheck (never a scan error)
      // can catch this
      val r2 = freshTable("subset")
      arm { fs.delete(new org.apache.hadoop.fs.Path(
        s"$r2/v1/_GRAFT_COMMIT"), false) }
      val (c2, b2) = get("/table-snapshot?root=" +
        java.net.URLEncoder.encode(r2, "UTF-8") + "&version=1")
      assert(c2 == 404 && b2.get("detail").asText
        .contains("left the retention window during the read"),
        s"got $c2: $b2")
      // BRANCH 3 — implicit CURRENT read raced: the hook commits v3
      // and vacuums {v1, v2}, so the resolved v2 vanishes mid-read;
      // the route must re-resolve and serve the NEW current (ADVICE
      // r16: a current read must not 404 while the table exists)
      val r3 = freshTable("retry")
      arm {
        spark.read.parquet(s"$r3/v2").write.parquet(s"$r3/v3")
        fs.create(new org.apache.hadoop.fs.Path(
          s"$r3/v3/_GRAFT_COMMIT"), true).close()
        UpsertStream.vacuumSnapshots(spark, r3, keepFrom = 3L)
      }
      val (c3, b3) = get("/table-snapshot?root=" +
        java.net.URLEncoder.encode(r3, "UTF-8"))
      assert(c3 == 200, s"current read must retry, got $c3: $b3")
      assert(b3.get("version").asLong == 3L &&
        b3.get("current").asLong == 3L,
        s"retry must land on the new current: $b3")
      assert(b3.get("data").size.toLong ==
        spark.read.parquet(s"$r3/v3").count())
    } finally a.snapshotReadRaceHook = () => ()
  }

  test("table-lookup: indexed point read opens few files, unindexed falls back, races retry") {
    import graft.streaming.UpsertStream
    val drop = UpsertStream.stageUpsertWaves(spark, sf0001)
    val root = tmpDir("api_lookup_root")
    val ck = tmpDir("api_lookup_ck")
    assert(UpsertStream.drainUpsertWaves(spark, drop, root, ck) ==
      UpsertStream.Waves) // {v1, v2} live, v2 current
    val enc = java.net.URLEncoder.encode(root, "UTF-8")
    val probe = spark.read.parquet(s"$root/v2")
      .agg(org.apache.spark.sql.functions.min("doc_id")).head.getLong(0)
    // UNINDEXED: the plain-scan fallback serves, opened == total
    val (c1, b1) = get(s"/table-lookup?root=$enc&key=doc_id&value=$probe")
    assert(c1 == 200 && b1.get("version").asLong == 2L, s"$c1: $b1")
    assert(b1.get("files_opened").asLong == b1.get("files_total").asLong)
    assert(b1.get("data").size == 1 &&
      b1.get("data").get(0).get("doc_id").asLong == probe)
    // INDEXED: cluster the snapshot's layout is whatever the drain
    // wrote; the index still prunes to the files that admit the probe
    graft.operators.Maintenance.writeSkipIndex(spark, s"$root/v2",
      Seq("doc_id"))
    val (c2, b2) = get(s"/table-lookup?root=$enc&key=doc_id&value=$probe")
    assert(c2 == 200, s"$c2: $b2")
    assert(b2.get("files_opened").asLong <= b2.get("files_total").asLong)
    assert(b2.get("data").size == 1 &&
      b2.get("data").get(0).get("doc_id").asLong == probe)
    // a key that admits no file: empty data, zero or few files opened
    val (c3, b3) = get(s"/table-lookup?root=$enc&key=doc_id&value=-5")
    assert(c3 == 200 && b3.get("data").size == 0, s"$c3: $b3")
    // error shapes
    val (c4, _) = get(s"/table-lookup?root=$enc&key=nope&value=1")
    assert(c4 == 400)
    val (c5, _) = get(s"/table-lookup?root=$enc&key=doc_id&value=abc")
    assert(c5 == 400)
    val (c6, _) = get(s"/table-lookup?root=${enc}_nope&key=doc_id&value=1")
    assert(c6 == 404)
    // a TORN index (dir exists, no readable parquet — a crashed
    // writeSkipIndex) must fall back to the plain scan, never 500:
    // the index is an accelerator, not a correctness dependency
    val fsT = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsT.delete(new org.apache.hadoop.fs.Path(s"$root/v2/_skipindex"), true)
    fsT.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v2/_skipindex"))
    val (c3b, b3b) = get(s"/table-lookup?root=$enc&key=doc_id&value=$probe")
    assert(c3b == 200 && b3b.get("data").size == 1, s"$c3b: $b3b")
    assert(b3b.get("files_opened").asLong ==
      b3b.get("files_total").asLong, "torn index must serve unindexed")
    // vacuum racing the lookup: the resolved v2 vanishes mid-read
    // after a v3 commit — the route re-resolves and serves v3
    val a = api.get
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    a.snapshotReadRaceHook = () => {
      a.snapshotReadRaceHook = () => ()
      spark.read.parquet(s"$root/v2").write.parquet(s"$root/v3")
      fs.create(new org.apache.hadoop.fs.Path(
        s"$root/v3/_GRAFT_COMMIT"), true).close()
      UpsertStream.vacuumSnapshots(spark, root, keepFrom = 3L)
    }
    try {
      val (c7, b7) = get(s"/table-lookup?root=$enc&key=doc_id&value=$probe")
      assert(c7 == 200 && b7.get("version").asLong == 3L, s"$c7: $b7")
      assert(b7.get("data").size == 1)
    } finally a.snapshotReadRaceHook = () => ()
  }

  test("table-lookup and table-snapshot run no Spark job besides " +
    "their collect, all in the request's job group") {
    import graft.streaming.UpsertStream
    import org.apache.spark.sql.functions.col
    val drop = UpsertStream.stageUpsertWaves(spark, sf0001)
    val root = tmpDir("api_jobs_root")
    assert(UpsertStream.drainUpsertWaves(spark, drop, root,
      tmpDir("api_jobs_ck")) == UpsertStream.Waves)
    val enc = java.net.URLEncoder.encode(root, "UTF-8")
    val snap = s"$root/v2"
    val schema = spark.read.parquet(snap).schema
    val probe = spark.read.schema(schema).parquet(snap)
      .agg(org.apache.spark.sql.functions.min("doc_id")).head.getLong(0)
    port // server up (views registered) before anything is counted
    def routeJobs(route: String, path: String): (Int, JsonNode) = {
      var body: JsonNode = null
      val groups = jobGroupsOf {
        val (code, b) = get(path)
        assert(code == 200, s"$path: $code $b")
        body = b
      }
      assert(groups.forall(_.startsWith(s"graft-api-$route-")),
        s"$path ran jobs outside its request group: $groups")
      (groups.size, body)
    }
    // what the route's capped collect alone costs: Spark's incremental
    // limit take runs one job per scan-up round over the files it reads
    def collectJobs(df: => org.apache.spark.sql.DataFrame): Int =
      jobGroupsOf(df.limit(10000).collect()).size
    val lookup = s"/table-lookup?root=$enc&key=doc_id&value=$probe"
    val (unindexedJobs, unindexed) = routeJobs("table-lookup", lookup)
    assert(unindexed.get("files_opened").asLong ==
      unindexed.get("files_total").asLong)
    assert(unindexedJobs == collectJobs(spark.read.schema(schema)
      .parquet(snap).filter(col("doc_id") === probe)),
      s"unindexed lookup ran $unindexedJobs jobs")
    graft.operators.Maintenance.writeSkipIndex(spark, snap, Seq("doc_id"))
    val (indexedJobs, indexed) = routeJobs("table-lookup", lookup)
    assert(indexed.get("files_opened").asLong == 1L &&
      indexed.get("files_total").asLong > 1L, s"index did not prune: $indexed")
    // the indexed lookup is served on the driver: no job at all, and
    // a key never looked up before compiles no code either
    assert(indexedJobs == 0, s"indexed lookup ran $indexedJobs jobs")
    assert(indexed.get("data") == unindexed.get("data"))
    val fresh = spark.read.schema(schema).parquet(snap)
      .agg(org.apache.spark.sql.functions.max("doc_id")).head.getLong(0)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val compiledBefore = compiles.getCount
    val (freshJobs, freshBody) = routeJobs("table-lookup",
      s"/table-lookup?root=$enc&key=doc_id&value=$fresh")
    assert(freshJobs == 0 && compiles.getCount == compiledBefore,
      s"a cold-key lookup ran $freshJobs jobs and compiled " +
        s"${compiles.getCount - compiledBefore} classes")
    assert(freshBody.get("data").size == 1 &&
      freshBody.get("data").get(0).get("doc_id").asLong == fresh)
    val (snapJobs, snapBody) =
      routeJobs("table-snapshot", s"/table-snapshot?root=$enc")
    assert(snapBody.get("data").size.toLong ==
      spark.read.schema(schema).parquet(snap).count())
    assert(snapJobs == collectJobs(spark.read.schema(schema).parquet(snap)),
      s"snapshot read ran $snapJobs jobs")
  }

  test("table-lookup served on the driver renders byte-equal to the " +
    "filtered scan over every column type") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir("api_parity_root")
    val snap = s"$root/v1"
    // file A stores ts as INT96 (the upsert table's default), file B
    // as TIMESTAMP_MICROS; A holds keys 1..6 without 3 plus a null
    // key, B holds 10..15 without 11
    def part(keys: Seq[Int]): org.apache.spark.sql.DataFrame = spark.sql(
      s"""SELECT CASE WHEN k = 0 THEN NULL ELSE CAST(k AS BIGINT) END AS doc_id,
           CAST(k * 3 AS INT) AS i,
           CASE k % 5 WHEN 0 THEN CAST('NaN' AS DOUBLE)
             WHEN 1 THEN CAST('Infinity' AS DOUBLE)
             WHEN 2 THEN CAST('-Infinity' AS DOUBLE)
             WHEN 3 THEN NULL ELSE k / 7.0D END AS d,
           CAST(CASE k % 5 WHEN 1 THEN CAST('NaN' AS DOUBLE)
             WHEN 2 THEN CAST('Infinity' AS DOUBLE)
             WHEN 3 THEN CAST('-Infinity' AS DOUBLE)
             WHEN 4 THEN NULL ELSE k / 3.0D END AS FLOAT) AS f,
           concat('q"uote\\\\back', k, ' é 漢 😀', char(9), 'tab') AS s,
           CAST(k * 1.125 AS DECIMAL(12, 3)) AS dec,
           k % 2 = 0 AS b,
           date_add(DATE'1582-10-01', k * 40) AS dt,
           CASE WHEN k = 4 THEN TIMESTAMP'1001-01-01 00:00:00'
             ELSE TIMESTAMP'2021-03-14 01:59:59.123456' + make_interval(0, 0, 0, k)
             END AS ts,
           TIMESTAMP_NTZ'2020-02-29 23:00:00.5' + make_interval(0, 0, 0, 0, k) AS ntz,
           CAST(concat('b', k) AS BINARY) AS bin,
           array(k, NULL, 7) AS arr,
           map('x', k / 3.0D, 'y', CAST('NaN' AS DOUBLE)) AS m,
           named_struct('a', k, 'b', CASE WHEN k % 2 = 0 THEN NULL
             ELSE 'z"\\\\' END) AS st
         FROM (SELECT explode(array(${keys.mkString(",")})) AS k)""")
    part(Seq(0, 1, 2, 4, 5, 6)).coalesce(1).write.parquet(snap)
    val tsType = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.getOption(tsType)
    spark.conf.set(tsType, "TIMESTAMP_MICROS")
    try part(Seq(10, 12, 13, 14, 15)).coalesce(1).write.mode("append")
      .parquet(snap)
    finally saved.fold(spark.conf.unset(tsType))(spark.conf.set(tsType, _))
    graft.streaming.UpsertStream.markCommitted(spark, snap)
    graft.operators.Maintenance.writeSkipIndex(spark, snap, Seq("doc_id"))
    val schema = graft.operators.Maintenance.dataSchema(spark, snap)
    val enc = java.net.URLEncoder.encode(root, "UTF-8")
    port
    val a = api.get
    // present keys in both files, absent keys inside a file's range,
    // keys outside every range
    val present = Seq(1L, 2L, 4L, 5L, 6L, 10L, 12L, 13L, 14L, 15L)
    for (k <- present ++ Seq(3L, 11L, 8L, 100L, -5L)) {
      val path = s"/table-lookup?root=$enc&key=doc_id&value=$k"
      var body = ""
      val jobs = jobGroupsOf { body = rawData(path) }
      assert(jobs.isEmpty, s"key $k ran jobs $jobs")
      val expected = toJsonRows(spark.read.schema(schema).parquet(snap)
        .filter(col("doc_id") === k))
      assert(body == expected, s"key $k")
      assert((body != "[]") == present.contains(k), s"key $k: $body")
    }
    // the snapshot and SQL routes over the same table, through the
    // Spark read
    assert(rawData(s"/table-snapshot?root=$enc") ==
      toJsonRows(spark.read.schema(schema).parquet(snap)))
    val all = s"SELECT * FROM parquet.`$snap`"
    assert(rawData(sqlPath(all)) == toJsonRows(spark.sql(all)))
    // names are kept by position: two columns renamed alike render as
    // the reference renders them, on the driver and through SQL
    val hit = graft.operators.Maintenance.pointLookup(spark, snap,
      graft.operators.Maintenance.listDataFiles(spark, snap), "doc_id", 1L,
      schema, graft.operators.Maintenance.PointLookupMaxBytes).toOption.get
    val dupNames = schema.fieldNames.updated(1, "v").updated(2, "v")
    val dupSchema = org.apache.spark.sql.types.StructType(
      schema.fields.zip(dupNames).map { case (f, n) => f.copy(name = n) })
    assert(a.rowsOf(dupSchema, hit.rows) ==
      toJsonRows(spark.read.schema(schema).parquet(snap)
        .filter(col("doc_id") === 1L).toDF(dupNames.toSeq: _*)))
    val dup = s"SELECT doc_id AS v, d AS v, f AS v, ts, m FROM parquet.`$snap`"
    assert(rawData(sqlPath(dup)) == toJsonRows(spark.sql(dup)))
  }

  test("table-lookup over the driver byte cap is served by the Spark " +
    "path with the same rows") {
    import org.apache.spark.sql.functions.{col, concat, lit, sha2}
    import graft.operators.Maintenance
    val root = tmpDir("api_cap_root")
    val snap = s"$root/v1"
    // one file, one row group of ~20 MiB of incompressible text: every
    // key's candidate bytes exceed the cap
    spark.range(0, 40000).select(col("id").as("doc_id"),
      concat((0 until 8).map(j =>
        sha2(concat(col("id").cast("string"), lit(s"-$j")), 256)): _*)
        .as("pad"))
      .coalesce(1).write.parquet(snap)
    graft.streaming.UpsertStream.markCommitted(spark, snap)
    Maintenance.writeSkipIndex(spark, snap, Seq("doc_id"))
    val schema = Maintenance.dataSchema(spark, snap)
    assert(Maintenance.pointLookup(spark, snap,
      Maintenance.listDataFiles(spark, snap), "doc_id", 777L, schema,
      Maintenance.PointLookupMaxBytes).isLeft, "the driver must decline")
    val enc = java.net.URLEncoder.encode(root, "UTF-8")
    port
    var body: JsonNode = null
    val jobs = jobGroupsOf {
      val (c, b) = get(s"/table-lookup?root=$enc&key=doc_id&value=777")
      assert(c == 200, s"$c: $b")
      body = b
    }
    assert(jobs.nonEmpty && jobs.forall(_.startsWith("graft-api-table-lookup-")),
      s"the Spark path must serve under the request group: $jobs")
    assert(body.get("files_opened").asLong == 1L)
    assert(mapper.readTree(toJsonRows(spark.read.schema(schema).parquet(snap)
      .filter(col("doc_id") === 777L))) == body.get("data"))
    assert(body.get("data").size == 1)
  }

  test("every Spark job of a mixed burst over the six serving routes " +
    "carries a graft-api- job group") {
    import graft.streaming.UpsertStream
    val drop = UpsertStream.stageUpsertWaves(spark, sf0001)
    val root = tmpDir("api_burst_root")
    assert(UpsertStream.drainUpsertWaves(spark, drop, root,
      tmpDir("api_burst_ck")) == UpsertStream.Waves)
    graft.operators.Maintenance.writeSkipIndex(spark, s"$root/v2",
      Seq("doc_id"))
    val enc = java.net.URLEncoder.encode(root, "UTF-8")
    port
    val paths = Seq(
      "/check-availability?year=2023&quarter=Q4",
      "/get-table-info?data_source=RAW&year=2023&quarter=Q4",
      "/get-financial-data?year=2023&quarter=Q4&data_type=Balance%20Sheet&source=RAW",
      s"/table-snapshot?root=$enc",
      s"/table-lookup?root=$enc&key=doc_id&value=1")
    val groups = jobGroupsOf {
      val futures = (0 until 12).map { i =>
        val req =
          if (i % 6 == 5) HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port/execute-custom-query"))
            .POST(HttpRequest.BodyPublishers.ofString(
              """{"query": "SELECT count(*) AS n FROM sec_num_2023Q4"}"""))
          else HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port${paths(i % 6)}")).GET()
        client.sendAsync(req.build(), HttpResponse.BodyHandlers.ofString())
      }
      futures.map(_.join()).zipWithIndex.foreach { case (r, i) =>
        assert(r.statusCode() == 200, s"request $i: ${r.body().take(200)}")
      }
    }
    assert(groups.nonEmpty)
    assert(groups.forall(_.startsWith("graft-api-")),
      s"jobs outside a request group: ${groups.filterNot(_.startsWith("graft-api-"))}")
  }

  test("malformed client input answers 400 with a named detail, not 500") {
    // a body that is not JSON is the client's error
    for (bad <- Seq("{", "query=SELECT 1")) {
      val (code, body) = post("/execute-custom-query", bad)
      assert(code == 400 &&
        body.get("detail").asText.startsWith("request body is not JSON"),
        s"$bad: $code $body")
    }
    // an empty body carries no query field
    val (empty, _) = post("/execute-custom-query", "")
    assert(empty == 400)
    // a malformed percent escape never reaches a route: the JDK server
    // refuses the request URI with its own 400 (the URI class rejects
    // `%zz` and a trailing `%`), so no route decodes one
    for (q <- Seq("%zz", "%", "a%2")) {
      val s = new java.net.Socket("127.0.0.1", port)
      try {
        s.getOutputStream.write((s"GET /query-data?query=$q HTTP/1.1\r\n" +
          "Host: localhost\r\nConnection: close\r\n\r\n").getBytes("UTF-8"))
        val status = new String(s.getInputStream.readAllBytes(), "UTF-8")
          .linesIterator.next()
        assert(status.startsWith("HTTP/1.1 400"), s"$q: $status")
      } finally s.close()
    }
    // an error in the user's SQL stays the server's 500
    val (err, _) = post("/execute-custom-query",
      """{"query":"SELECT * FROM not_a_table"}""")
    assert(err == 500)
  }

  test("a free-form SQL request optimises the user's query once, and " +
    "query listeners see its collect") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    port
    // a user-provided optimizer rule runs once per optimizer pass (its
    // batch reaches a fixed point at once, the rule changing nothing),
    // so its count over plans carrying a request-unique literal is the
    // number of times that request's query was optimised
    val marker = s"plan-once-${java.util.UUID.randomUUID()}"
    def marked(p: LogicalPlan): Boolean = p.exists(_.expressions.exists(
      _.exists { case l: Literal => String.valueOf(l.value) == marker
                 case _ => false }))
    val optimised = new java.util.concurrent.atomic.AtomicInteger()
    val rule = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (marked(plan)) optimised.incrementAndGet()
        plan
      }
    }
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (marked(qe.analyzed)) actions.add(f)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val exp = spark.experimental
    exp.extraOptimizations = exp.extraOptimizations :+ rule
    spark.listenerManager.register(listener)
    try {
      val sql = s"SELECT '$marker' AS m, count(*) AS n FROM sec_num_2023Q4"
      for ((route, send) <- Seq[(String, () => (Int, JsonNode))](
          "execute-custom-query" -> (() => post("/execute-custom-query",
            s"""{"query":"$sql"}""")),
          "query-data" -> (() => get(sqlPath(sql))))) {
        optimised.set(0)
        actions.clear()
        val (code, body) = send()
        assert(code == 200 && body.get("data").get(0).get("n").asLong == 2L,
          s"$route: $code $body")
        assert(optimised.get == 1,
          s"$route optimised the query ${optimised.get} times")
        val deadline = System.currentTimeMillis + 20000
        while (actions.isEmpty && System.currentTimeMillis < deadline)
          Thread.sleep(20)
        assert(actions.asScala.toSeq == Seq("collect"),
          s"$route: listener saw ${actions.asScala.toSeq}")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      exp.extraOptimizations = exp.extraOptimizations.filterNot(_ eq rule)
    }
  }

  override def afterAll(): Unit = {
    api.foreach(_.stop())
    super.afterAll()
  }
}

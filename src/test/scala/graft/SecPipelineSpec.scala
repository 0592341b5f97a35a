package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.{SecIngest, SecSchemas}
import graft.operators.{SecFactTables, SecJsonDocs, SecServing}
import graft.quality.DataQuality

/** End-to-end SEC-shaped pipeline over dirty fixtures covering the
  * reference's documented data-quality violations (FIXTURES.md §A dirty
  * corpus: dup adsh in num, dup tag, 3-digit sic, null fp/fy, bad fye,
  * NaN value, NaN period, nonstandard afs).
  */
class SecPipelineSpec extends SparkSpec {

  private def writeFixture(dir: String, name: String, lines: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  private lazy val fixtureDir = tmpDir("sec_fixture")

  // sub.txt: 3 filings; f3 has unparseable period (skip candidate, P9),
  // f2 has 3-digit sic + null fy/fp + nonstandard afs.
  private lazy val subPath = writeFixture(fixtureDir, "sub.txt", Seq(
    (SecSchemas.sub.fieldNames :+ "extra_col").mkString("\t"),
    "f1\t100\tAcme Corp\t3711\tUS\tCA\tPaloAlto\t94301\t\t\t\tUS\tCA\tPaloAlto\t94301\t\t\tUS\tCA\t123456789\t\t\t1-LAF\t1\t1231\t10-K\t20230930\t2023\tQ3\t20231101\t2023-11-01 12:00:00.0\t0\t1\tinst1\t1\t\t" + "extra",
    "f2\t200\tBeta LLC\t71\tUS\tNY\tNYC\t10001\t\t\t\tUS\tNY\tNYC\t10001\t\t\tUS\tNY\t98765\t\t\t2-ACC\t0\t1399\t10-Q\t20230930\t\t\t20231102\t2023-11-02 09:00:00.0\t0\t1\tinst2\t1\t\textra",
    "f3\t300\tGamma Inc\t5000\tUS\tTX\tAustin\t73301\t\t\t\tUS\tTX\tAustin\t73301\t\t\tUS\tTX\t11111\t\t\t1-LAF\t0\t1231\t10-K\tnotadate\t2023\tQ3\t20231103\t2023-11-03 10:00:00.0\t0\t1\tinst3\t1\t\textra"))

  // num.txt: f1 has two tags; Revenue appears under two versions (J2
  // fan-out exercise); one dup (adsh,tag,version,ddate,qtrs,uom) pair;
  // one unparseable value (→ null, P1); one orphan adsh (FK violation).
  private lazy val numPath = writeFixture(fixtureDir, "num.txt", Seq(
    SecSchemas.num.fieldNames.mkString("\t"),
    "f1\tRevenue\tus-gaap/2023\t20230930\t1\tUSD\t\t\t1000.5\t",
    "f1\tRevenue\tus-gaap/2022\t20230930\t1\tUSD\t\t\t999.5\t",
    "f1\tAssets\tus-gaap/2023\t20230930\t0\tUSD\t\t\t5000\t",
    "f1\tAssets\tus-gaap/2023\t20230930\t0\tUSD\t\t\t5000\t",
    "f2\tRevenue\tus-gaap/2023\t20230930\t1\tUSD\t\t\tnot_a_number\t",
    "orphan\tRevenue\tus-gaap/2023\t2023093\t1\tUSD\t\t\t42\t"))

  // pre.txt: Revenue on IS, Assets on BS; duplicate (adsh,report,line).
  private lazy val prePath = writeFixture(fixtureDir, "pre.txt", Seq(
    SecSchemas.pre.fieldNames.mkString("\t"),
    "f1\t1\t1\tIS\t0\tH\tRevenue\tus-gaap/2023\tTotal revenue\t0",
    "f1\t1\t2\tBS\t0\tH\tAssets\tus-gaap/2023\tTotal assets\t0",
    "f1\t1\t2\tBS\t0\tH\tAssets\tus-gaap/2023\tTotal assets dup\t0",
    "f2\t1\t1\tIS\t0\tH\tRevenue\tus-gaap/2023\tRevenue line\t0"))

  // tag.txt: Revenue duplicated across versions (J5 first-match), one
  // bad iord domain value.
  private lazy val tagPath = writeFixture(fixtureDir, "tag.txt", Seq(
    SecSchemas.tag.fieldNames.mkString("\t"),
    "Revenue\tus-gaap/2023\t0\t0\tmonetary\tD\tC\tRevenue\tRevenue doc 2023",
    "Revenue\tus-gaap/2022\t0\t0\tmonetary\tD\tC\tRevenue\tRevenue doc 2022",
    "Assets\tus-gaap/2023\t0\t0\tmonetary\tI\tD\tAssets\tAssets doc",
    "Weird\tus-gaap/2023\t0\t0\tmonetary\tX\tC\tWeird\tBad iord"))

  private lazy val tickerPath = writeFixture(fixtureDir, "ticker.txt", Seq(
    "acme\t100", "beta\t200"))

  private lazy val sub = SecIngest.ingestQuarter(spark, subPath, SecSchemas.sub, "2023Q4")
  private lazy val num = SecIngest.ingestQuarter(spark, numPath, SecSchemas.num, "2023Q4")
  private lazy val pre = SecIngest.ingestQuarter(spark, prePath, SecSchemas.pre, "2023Q4")
  private lazy val tag = SecIngest.ingestQuarter(spark, tagPath, SecSchemas.tag, "2023Q4")
  private lazy val ticker = SecIngest.readTicker(spark, tickerPath)

  test("ingest applies declared schema with permissive casts") {
    assert(sub.schema.fieldNames.toSeq ==
      SecSchemas.sub.fieldNames.toSeq :+ "source_file")
    // extra_col dropped; unparseable period nulled (coerce semantics)
    val f3 = sub.filter(col("adsh") === "f3").collect().head
    assert(f3.isNullAt(f3.fieldIndex("period")))
    // unparseable num value nulled, not row-dropped
    val f2num = num.filter(col("adsh") === "f2").collect().head
    assert(f2num.isNullAt(f2num.fieldIndex("value")))
    assert(num.count() == 6)
  }

  test("partitioned parquet roundtrip prunes by source_file") {
    val dir = tmpDir("sec_parquet")
    SecIngest.writePartitioned(sub, dir)
    val back = SecIngest.readPartitioned(spark, dir)
    assert(back.filter(col("source_file") === "2023Q4").count() == 3)
    assert(back.filter(col("source_file") === "1999Q1").count() == 0)
  }

  test("partitioned read takes the inferred schema from a footer, with no job") {
    val dir = tmpDir("sec_parquet_schema")
    SecIngest.writePartitioned(sub, dir)
    var back: org.apache.spark.sql.DataFrame = null
    assert(jobGroupsOf { back = SecIngest.readPartitioned(spark, dir) }.isEmpty)
    val inferred = spark.read.parquet(dir).schema
    assert(back.schema == inferred)
    assert(back.schema.fieldNames.toSeq ==
      SecSchemas.sub.fieldNames.toSeq :+ "source_file")
    assert(back.schema("source_file").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("fact build: J2 fans out across versions, W1 rank is constant 1") {
    val bs = SecFactTables.balanceSheet(num, sub, pre)
    // Assets appears twice in num (dup rows) -> summed into one group
    // with total 10000; the duplicate pre line doubles nothing because
    // plabel differs -> two groups (one per plabel).
    val rows = bs.collect()
    assert(rows.nonEmpty)
    val is = SecFactTables.incomeStatement(num, sub, pre)
    // Revenue in num under 2 versions x 1 IS pre row (join omits
    // version!) -> both num rows match the one pre row: fan-out.
    val revTotal = is.filter(col("tag") === "Revenue")
      .agg(sum(col("total_value"))).collect().head.getDecimal(0)
    assert(revTotal.doubleValue() == 2000.0) // 1000.5 + 999.5
  }

  test("fact build groups by rank without changing results (quirk)") {
    import org.apache.spark.sql.expressions.Window
    val joined = num.join(sub, "adsh")
      .join(pre.withColumnRenamed("version", "p_version"),
        Seq("adsh", "tag"))
    val w = Window.partitionBy("adsh", "tag", "ddate").orderBy(col("ddate").desc)
    val ranked = joined.withColumn("rn", dense_rank().over(w))
    assert(ranked.filter(col("rn") =!= 1).count() == 0)
  }

  test("fact build without the window equals the reference shape (W1)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.expressions.Window
    // The fixture quarter plus: null-ddate rows (one window partition
    // of their own, two versions of one tag fanning out into it), a
    // duplicated fact row and a two-version fan-out row on a CF line.
    val extraNum = SecIngest.ingestQuarter(spark, writeFixture(fixtureDir,
      "num_w1.txt", Seq(
        SecSchemas.num.fieldNames.mkString("\t"),
        "f1\tAssets\tus-gaap/2023\t\t0\tUSD\t\t\t7\t",
        "f1\tAssets\tus-gaap/2022\t\t0\tUSD\t\t\t8\t",
        "f1\tCash\tus-gaap/2023\t20230930\t0\tUSD\t\t\t250\t",
        "f1\tCash\tus-gaap/2023\t20230930\t0\tUSD\t\t\t250\t",
        "f1\tCash\tus-gaap/2022\t20230930\t0\tUSD\t\t\t40\t")),
      SecSchemas.num, "2023Q4")
    val extraPre = SecIngest.ingestQuarter(spark, writeFixture(fixtureDir,
      "pre_w1.txt", Seq(
        SecSchemas.pre.fieldNames.mkString("\t"),
        "f1\t3\t1\tCF\t0\tH\tCash\tus-gaap/2023\tCash at end\t0")),
      SecSchemas.pre, "2023Q4")
    val num1 = num.unionByName(extraNum)
    val pre1 = pre.unionByName(extraPre)
    // balance_sheet_load.sql:22-53 as written: the DENSE_RANK window,
    // then `rn` as a 13th group key.
    def reference(stmt: String): DataFrame = {
      val w = Window
        .partitionBy(col("n.adsh"), col("s.cik"), col("s.name"),
          col("s.filed"), col("s.fy"), col("s.fp"), col("n.tag"),
          col("n.uom"), col("n.ddate"), col("n.qtrs"), col("p.stmt"),
          col("p.plabel"))
        .orderBy(col("n.ddate").desc)
      num1.as("n")
        .join(sub.as("s"), col("n.adsh") === col("s.adsh"))
        .join(pre1.as("p"),
          col("n.adsh") === col("p.adsh") && col("n.tag") === col("p.tag"))
        .filter(col("p.stmt") === stmt)
        .withColumn("rn", dense_rank().over(w))
        .groupBy(col("n.adsh").as("adsh"), col("s.cik").as("cik"),
          col("s.name").as("company_name"), col("s.filed").as("filing_date"),
          col("s.fy").as("fiscal_year"), col("s.fp").as("fiscal_period"),
          col("n.tag").as("tag"), col("n.uom").as("unit_of_measure"),
          col("n.ddate").as("report_date"), col("n.qtrs").as("qtrs"),
          col("p.stmt").as("statement_type"), col("p.plabel").as("plabel"),
          col("rn"))
        .agg(sum(col("n.value")).as("total_value"))
        .drop("rn")
    }
    val plans = new AdaptiveSparkPlanHelper {}
    def hasWindow(df: DataFrame): Boolean =
      plans.find(df.queryExecution.executedPlan)(_.isInstanceOf[WindowExec]).nonEmpty
    Seq("BS" -> 4, "IS" -> 2, "CF" -> 1).foreach { case (stmt, groups) =>
      val ref = reference(stmt)
      val got = SecFactTables.build(num1, sub, pre1, stmt)
      assert(got.schema == ref.schema, stmt)
      assert(got.count() == groups, stmt)
      assert(got.exceptAll(ref).count() == 0, stmt)
      assert(ref.exceptAll(got).count() == 0, stmt)
      assert(hasWindow(ref), s"$stmt: the reference shape plans a window")
      assert(!hasWindow(got), s"$stmt: build plans a window")
    }
    // the null-ddate rows form one group per plabel, both versions summed
    val nullDdate = SecFactTables.build(num1, sub, pre1, "BS")
      .filter(col("report_date").isNull).collect()
    assert(nullDdate.map(_.getAs[java.math.BigDecimal]("total_value").doubleValue)
      .toSeq == Seq(15.0, 15.0))
    // the duplicated row and the 2022 version both land in one CF group
    val cf = SecFactTables.cashFlow(num1, sub, pre1).collect()
    assert(cf.map(_.getAs[java.math.BigDecimal]("total_value").doubleValue)
      .toSeq == Seq(540.0))
  }

  test("serving statement query joins WITH version (J1 vs J2 contrast)") {
    val q = SecServing.statementQuery(sub, pre, num, "IS")
    // With version in the key, only the matching-version Revenue row
    // joins for f1 (plus f2's null-value row).
    val f1 = q.filter(col("adsh") === "f1").collect()
    assert(f1.length == 1)
    assert(f1.head.getAs[java.math.BigDecimal]("value").doubleValue() == 1000.5)
  }

  test("json docs: skips bad period, UNKNOWN defaults, first-match, buckets") {
    val docs = SecJsonDocs.buildDocs(num, sub, pre, tag, ticker)
    val byAdsh = docs.collect().map(r => r.getAs[String]("adsh") -> r).toMap
    assert(!byAdsh.contains("f3"), "unparseable period must be skipped")
    assert(byAdsh("f1").getAs[String]("symbol") == "acme")
    assert(byAdsh("f1").getAs[String]("endDate") == "2023-09-30")
    // reference sets start_date = end_date = period (lines 84-88)
    assert(byAdsh("f1").getAs[String]("startDate") == "2023-09-30")
    assert(byAdsh("f1").getAs[String]("quarter") == "Q3")
    assert(byAdsh("f1").getAs[Int]("year") == 2023)
    // f2 has null fp/fy: reference yields str(nan) and int-default 0
    assert(byAdsh("f2").getAs[String]("quarter") == "nan")
    assert(byAdsh("f2").getAs[Int]("year") == 0)
    val data = byAdsh("f1").getStruct(byAdsh("f1").fieldIndex("data"))
    val bs = data.getSeq[org.apache.spark.sql.Row](0)
    val ic = data.getSeq[org.apache.spark.sql.Row](2)
    assert(bs.nonEmpty && ic.nonEmpty)
    // label ← tag.doc (first match = min(doc), deterministic);
    // info ← pre.plabel — the reference's mapping, lines 107-123
    assert(ic.exists(_.getAs[String]("label") == "Revenue doc 2022"))
    assert(ic.exists(_.getAs[String]("info") == "Total revenue"))
  }

  test("json views explode buckets; company merge dedups by symbol") {
    val docs = SecJsonDocs.buildDocs(num, sub, pre, tag, ticker)
    val bsView = SecJsonDocs.statementView(docs, "bs")
    assert(bsView.columns.toSeq ==
      Seq("adsh", "symbol", "name", "label", "concept", "unit", "value"))
    assert(bsView.count() >= 1)
    val merged = SecJsonDocs.companyMerge(docs)
    assert(merged.groupBy("symbol").count().filter(col("count") > 1).count() == 0)
  }

  test("availability + table info endpoints") {
    assert(SecServing.availability(sub, "2023Q4") == 3)
    assert(SecServing.availability(sub, "2020Q1") == 0)
    val (schema, sample) = SecServing.tableInfo(num)
    assert(schema.exists(_._1 == "value"))
    assert(sample.count() == 3)
  }

  test("sql passthrough over quarter-named views") {
    SecServing.registerQuarterViews(spark, "2023Q4",
      Map("sub" -> sub, "num" -> num))
    val r = SecServing.executeSql(spark,
      "SELECT s.adsh, count(*) AS n FROM sec_sub_2023Q4 s " +
        "JOIN sec_num_2023Q4 n ON s.adsh = n.adsh GROUP BY 1 ORDER BY 1")
    assert(r.collect().map(_.getString(0)).toSeq == Seq("f1", "f2"))
  }

  test("persistent catalog tables round-trip and survive the view layer (S12)") {
    val written = SecServing.persistQuarterTables(spark, "2023Q4",
      Map("sub" -> sub, "num" -> num), database = "sec_test")
    assert(written.toSet ==
      Set("sec_test.sec_sub_2023Q4", "sec_test.sec_num_2023Q4"))
    // visible through the catalog as a MANAGED table (listTables also
    // surfaces session temp views under any database, so assert the
    // persistent entry positively rather than the temp one's absence)
    assert(spark.catalog.tableExists("sec_test.sec_sub_2023Q4"))
    assert(spark.catalog.listTables("sec_test").collect()
      .exists(t => t.name == "sec_sub_2023q4" && !t.isTemporary))
    val r = SecServing.executeSql(spark,
      "SELECT s.adsh, count(*) AS n FROM sec_test.sec_sub_2023Q4 s " +
        "JOIN sec_test.sec_num_2023Q4 n ON s.adsh = n.adsh " +
        "GROUP BY 1 ORDER BY 1")
    assert(r.collect().map(_.getString(0)).toSeq == Seq("f1", "f2"))
    // overwrite is idempotent — a re-run replaces, never duplicates
    SecServing.persistQuarterTables(spark, "2023Q4",
      Map("sub" -> sub), database = "sec_test")
    assert(spark.table("sec_test.sec_sub_2023Q4").count() == sub.count())
    spark.sql("DROP DATABASE sec_test CASCADE")
  }

  test("json doc sink + schema'd load roundtrip (S9/S10)") {
    val docs = SecJsonDocs.buildDocs(num, sub, pre, tag, ticker)
    val dir = tmpDir("sec_docs_json")
    SecIngest.writeDocs(docs, dir)
    val back = SecIngest.readDocs(spark, dir, docs.schema)
    assert(back.count() == docs.count())
    // JSON roundtrip normalizes nullability flags; names/types match
    assert(back.schema.fieldNames.toSeq == docs.schema.fieldNames.toSeq)
    val f1 = back.filter(col("adsh") === "f1").collect().head
    assert(f1.getAs[String]("symbol") == "acme")
  }

  test("empty typed table + latest-quarter discovery (S11/S13)") {
    val empty = SecIngest.emptyTable(spark, graft.sources.SecSchemas.num)
    assert(empty.count() == 0 && empty.schema == graft.sources.SecSchemas.num)
    val dir = tmpDir("sec_quarters")
    SecIngest.writePartitioned(
      sub.withColumn("source_file", lit("2023Q4"))
        .unionByName(sub.withColumn("source_file", lit("2024Q1"))), dir)
    assert(SecIngest.latestQuarter(spark, dir).contains("2024Q1"))
  }

  test("data quality suite reports the planted violations, never throws") {
    val rep = DataQuality.report(DataQuality.secSuite(sub, num, pre, tag))
      .toMap
    assert(rep("sub_sic_range") == 1)        // 3-digit sic (f2)
    assert(rep("num_fk_sub") == 1)           // orphan adsh
    assert(rep("num_ddate_valid") == 1)      // 7-digit ddate
    assert(rep("pre_unique_identifier") == 1) // dup (adsh,report,line)
    assert(rep("tag_iord_domain") == 1)      // iord = X
    assert(rep("sub_fye_regex") == 1)        // fye = 1399 (month 13)
    assert(rep("sub_adsh_unique") == 0)
  }

  test("data quality report is one query: at most one job per branch plus one") {
    val checks = DataQuality.secSuite(sub, num, pre, tag)
    // the union's branches: the four tables of the row checks, plus
    // the two uniqueness checks and the FK check
    val branches = 4 + 3
    val jobs = jobGroupsOf(DataQuality.report(checks))
    assert(jobs.size <= branches + 1, s"${jobs.size} jobs for $branches branches")
  }
}

package graft

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.{SecSchemas, ZipIngest}

/** S2 end-to-end: quarter ZIPs → distributed entry extraction → typed
  * DataFrames with lineage (reference zip_ext_and_parq_store.py:161-199). */
class ZipIngestSpec extends SparkSpec {

  private def writeZip(path: File, entries: Map[String, String]): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(path))
    entries.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    zos.close()
  }

  private lazy val zipDir: File = {
    val dir = File.createTempFile("graftzips", "")
    dir.delete(); dir.mkdirs()
    // Q1: normal rows; header order differs from the schema for num
    // (by-name matching), one duplicated header column (first wins),
    // one unparseable numeric (try_cast -> null), one short line.
    writeZip(new File(dir, "2023_Q1.zip"), Map(
      "sub.txt" ->
        ("adsh\tcik\tname\tperiod\tfy\tfp\n" +
          "a-1\t100\tAcme Corp\t20230331\t2023\tQ1\n" +
          "a-2\tnot_a_number\tBeta Inc\t20230331\t2023\tQ1\n"),
      "tag.txt" ->
        ("tag\tversion\tdoc\tdoc\n" +
          "Revenue\tus-gaap/2023\tRevenue doc\tSHADOWED\n"),
      "num.txt" ->
        ("value\tadsh\ttag\tversion\tddate\tqtrs\tuom\n" +
          "12.5\ta-1\tRevenue\tus-gaap/2023\t20230331\t1\tUSD\n" +
          "oops\ta-1\tRevenue\tus-gaap/2023\t20230331\t4\tUSD\n" +
          "7\ta-2\tRevenue\tus-gaap/2023\t20230331\t1\n"),
      "pre.txt" ->
        ("adsh\treport\tline\tstmt\ttag\tversion\tplabel\n" +
          "a-1\t1\t1\tIC\tRevenue\tus-gaap/2023\tTotal revenue\n"),
      "readme.htm" -> "<html>ignored entry</html>\n"))
    // Q2: a second archive so the glob proves multi-ZIP distribution.
    writeZip(new File(dir, "2023_Q2.zip"), Map(
      "sub.txt" ->
        ("adsh\tcik\tname\tperiod\tfy\tfp\n" +
          "b-1\t300\tGamma LLC\t20230630\t2023\tQ2\n"),
      "tag.txt" -> "tag\tversion\tdoc\n",
      "num.txt" -> "adsh\ttag\tversion\tddate\tqtrs\tuom\tvalue\n",
      "pre.txt" -> "adsh\treport\tline\tstmt\ttag\tversion\tplabel\n"))
    dir
  }

  test("zip entries extract, type, and stamp lineage across archives") {
    val tables = ZipIngest.ingestQuarterZips(spark, zipDir.getAbsolutePath + "/*.zip")
    val sub = tables("sub").collect().map(r =>
      r.getAs[String]("adsh") -> r).toMap
    assert(sub.keySet == Set("a-1", "a-2", "b-1"))
    assert(sub("a-1").getAs[Long]("cik") == 100L)
    assert(sub("a-1").getAs[String]("source_file") == "2023_Q1")
    assert(sub("b-1").getAs[String]("source_file") == "2023_Q2")
    // P1 tolerance: unparseable cik -> null, row retained
    assert(sub("a-2").isNullAt(sub("a-2").fieldIndex("cik")))
    // missing schema columns (sic, countryba, ...) null-fill
    assert(sub("a-1").isNullAt(sub("a-1").fieldIndex("sic")))
  }

  test("num entry: by-name reorder, try_cast null, short line null-fill") {
    val num = ZipIngest.ingestQuarterZips(spark, zipDir.getAbsolutePath + "/*.zip")("num")
      .collect()
    assert(num.length == 3)
    val vals = num.map(r => Option(r.getAs[java.math.BigDecimal]("value"))
      .map(_.doubleValue))
    assert(vals.contains(Some(12.5)) && vals.contains(Some(7.0)) &&
      vals.contains(None))
    // short line: uom present, value column absent on that row -> null
    val shortRow = num.find(r => r.getAs[String]("adsh") == "a-2").get
    assert(shortRow.getAs[String]("uom") == null ||
      shortRow.getAs[String]("uom") == "")
  }

  test("duplicated header resolves to first occurrence (S6)") {
    val tag = ZipIngest.ingestQuarterZips(spark, zipDir.getAbsolutePath + "/*.zip")("tag")
      .collect()
    assert(tag.length == 1)
    assert(tag.head.getAs[String]("doc") == "Revenue doc")
  }

  test("lineage is the archive's file stem, under any directory name") {
    // A directory whose own name holds `.zip` and dots, one archive
    // named `<stem>.zip` and one whose name does not end in `.zip`.
    val dir = new File(tmpDir("graftzips_lineage"), "x.zip.d")
    dir.mkdirs()
    val quarter = Map(
      "sub.txt" -> "adsh\tcik\tname\n",
      "tag.txt" -> "tag\tversion\n",
      "pre.txt" -> "adsh\treport\tline\n",
      "num.txt" -> "adsh\ttag\tversion\tvalue\n")
    writeZip(new File(dir, "2023_Q3.zip"), quarter ++ Map(
      "sub.txt" -> "adsh\tcik\tname\nc-1\t400\tDelta Co\n"))
    writeZip(new File(dir, "2023_Q4.zip.bak"), quarter ++ Map(
      "sub.txt" -> "adsh\tcik\tname\nd-1\t500\tEpsilon AG\n"))
    val tables = ZipIngest.ingestQuarterZips(spark, dir.getAbsolutePath + "/*")
    val lineage = tables("sub").collect().map(r =>
      r.getAs[String]("adsh") -> r.getAs[String]("source_file")).toMap
    assert(lineage == Map("c-1" -> "2023_Q3", "d-1" -> ""))
    // the four frames share one listing of the archives
    val leaves = tables.values.map(_.queryExecution.logical.collectLeaves())
    assert(leaves.forall(_.size == 1))
    assert(leaves.forall(_.head eq leaves.head.head))
    // readZipTsv keeps the archive's path as its lineage
    val paths = ZipIngest.readZipTsv(spark, dir.getAbsolutePath + "/*.zip",
      "sub.txt", Seq("adsh")).collect().map(_.getAs[String]("source_zip"))
    assert(paths.length == 1 && paths.head.endsWith("/x.zip.d/2023_Q3.zip"))
  }

  test("an entry is extracted without inflating the entries before it") {
    val dir = tmpDir("graftzips_corrupt")
    val zip = new File(dir, "2023_Q1.zip")
    // the first entry is damaged inside its compressed data; the
    // wanted entry comes after it
    writeZip(zip, scala.collection.immutable.ListMap(
      "pre.txt" -> (0 until 400).map(i => s"p-$i\t$i\t${i * 7 % 13}\tBS\n")
        .mkString("adsh\treport\tline\tstmt\n", "", ""),
      "sub.txt" -> "adsh\tcik\tname\ne-1\t600\tZeta SA\n"))
    val bytes = java.nio.file.Files.readAllBytes(zip.toPath)
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataStart = 30 + buf.getShort(26) + buf.getShort(28)
    (dataStart + 4 until dataStart + 24).foreach(i => bytes(i) = 0xff.toByte)
    java.nio.file.Files.write(zip.toPath, bytes)
    val sub = ZipIngest.readZipTsv(spark, zip.getAbsolutePath, "sub.txt",
      Seq("adsh", "cik")).collect()
    assert(sub.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("e-1", "600")))
  }

  test("an archive with no readable central directory fails naming it") {
    val dir = tmpDir("graftzips_truncated")
    val zip = new File(dir, "2023_Q2.zip")
    writeZip(zip, Map("sub.txt" -> "adsh\tcik\nf-1\t700\n"))
    val bytes = java.nio.file.Files.readAllBytes(zip.toPath)
    // drop the end-of-central-directory record
    java.nio.file.Files.write(zip.toPath, bytes.dropRight(22))
    val e = intercept[Exception] {
      ZipIngest.readZipTsv(spark, zip.getAbsolutePath, "sub.txt",
        Seq("adsh")).collect()
    }
    assert(e.getMessage.contains("central directory") &&
      e.getMessage.contains("2023_Q2.zip"), e.getMessage)
  }

  test("q180 zip round-trip aggregate equals the direct aggregate") {
    import org.apache.spark.sql.functions._
    val rt = graft.operators.Extensions
      .q180ZipRoundtrip(spark, sf0001).collect()
    val direct = graft.sources.Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("l_orderkey")).cast("long").as("key_sum"),
        (round(sum(col("l_quantity").cast("decimal(38,10)")), 2) * 100)
          .cast("long").as("qty_cents"),
        (round(sum(col("l_extendedprice").cast("decimal(38,10)")), 2) * 100)
          .cast("long").as("price_cents"))
      .orderBy("l_returnflag").collect()
    assert(rt.toSeq == direct.toSeq)
    graft.sources.Scratch.sweep(spark)
  }
}

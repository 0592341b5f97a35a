package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.sources.{SecIngest, SecSchemas}
import graft.quality.DataQuality
import graft.quality.DataQuality.{RowCheck, SetCheck}

/** The fused [[DataQuality.report]] against the per-check reference it
  * replaces: `c.violations.count()` for every check of the SEC suite. */
class DataQualitySpec extends SparkSpec {

  /** A typed table from string cells under the named columns; the
    * schema's other columns are null, as [[SecIngest.typed]] fills them. */
  private def table(schema: StructType, cols: String*)(
      rows: Seq[String]*): DataFrame = {
    val raw = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(Row.fromSeq): _*),
      StructType(cols.map(StructField(_, StringType))))
    SecIngest.typed(raw, schema)
  }

  private val subCols = Seq("adsh", "wksi", "sic", "fy", "nciks",
    "countryba", "fye", "period", "aciks")
  private val numCols = Seq("adsh", "qtrs", "ddate")
  private val preCols = Seq("adsh", "report", "line", "stmt", "inpth", "plabel")
  private val tagCols = Seq("tag", "version", "iord", "crdr", "datatype",
    "custom", "abstract")

  private val cleanSub = Seq("c1", "0", "3711", "2023", "1", "US", "1231",
    "20230930", "123 456")
  private val cleanNum = Seq("c1", "1", "20230930")
  private val cleanPre = Seq("c1", "1", "1", "BS", "0", "Total assets")
  private val cleanTag = Seq("Assets", "us-gaap/2023", "I", "D", "monetary",
    "0", "0")

  private def suite(sub: Seq[Seq[String]], num: Seq[Seq[String]],
      pre: Seq[Seq[String]], tag: Seq[Seq[String]]) =
    DataQuality.secSuite(table(SecSchemas.sub, subCols: _*)(sub: _*),
      table(SecSchemas.num, numCols: _*)(num: _*),
      table(SecSchemas.pre, preCols: _*)(pre: _*),
      table(SecSchemas.tag, tagCols: _*)(tag: _*))

  /** One planted violation per check of the suite, each on a row that
    * is otherwise clean. */
  private lazy val dirty = suite(
    sub = Seq(cleanSub,
      cleanSub.updated(0, null),                          // adsh not null
      cleanSub.updated(0, "dup"), cleanSub.updated(0, "dup"), // unique
      cleanSub.updated(0, "w").updated(1, "2"),           // wksi domain
      cleanSub.updated(0, "s").updated(2, "71"),          // sic range
      cleanSub.updated(0, "y").updated(3, "1800"),        // fy range
      cleanSub.updated(0, "n").updated(4, "0"),           // nciks min
      cleanSub.updated(0, "b").updated(5, "usa"),         // countryba
      cleanSub.updated(0, "e").updated(6, "1399"),        // fye month 13
      cleanSub.updated(0, "p").updated(7, "2023093"),     // 7-digit period
      cleanSub.updated(0, "a").updated(8, "12a")),        // aciks
    num = Seq(cleanNum,
      cleanNum.updated(0, null),                          // adsh not null
      cleanNum.updated(1, "-1"),                          // qtrs min
      cleanNum.updated(2, "2023093"),                     // 7-digit ddate
      cleanNum.updated(0, "orphan")),                     // FK to sub
    pre = Seq(cleanPre,
      cleanPre.updated(1, "2").updated(3, "XX"),          // stmt domain
      cleanPre.updated(1, "3").updated(4, "2"),           // inpth domain
      cleanPre.updated(1, "4").updated(5, ""),            // empty plabel
      cleanPre.updated(1, "5"), cleanPre.updated(1, "5")), // dup identifier
    tag = Seq(cleanTag,
      cleanTag.updated(0, null),                          // tag not null
      cleanTag.updated(1, null),                          // version not null
      cleanTag.updated(2, "X"),                           // iord domain
      cleanTag.updated(3, "Z"),                           // crdr domain
      cleanTag.updated(4, "bogus"),                       // datatype domain
      cleanTag.updated(5, "2"),                           // custom domain
      cleanTag.updated(6, "3")))                          // abstract domain

  private def perCheck(checks: Seq[DataQuality.Check]) =
    checks.map(c => c.name -> c.violations.count())

  test("fused report equals per-check counts on a quarter tripping every check") {
    val rep = DataQuality.report(dirty)
    assert(rep == perCheck(dirty))
    assert(rep.size == 25)
    val clean = rep.filter(_._2 == 0)
    assert(clean.isEmpty, s"checks with no planted violation: $clean")
  }

  test("fused report equals per-check counts on clean and empty quarters") {
    val clean = suite(Seq(cleanSub), Seq(cleanNum), Seq(cleanPre), Seq(cleanTag))
    val rep = DataQuality.report(clean)
    assert(rep == perCheck(clean))
    assert(rep.forall(_._2 == 0), rep)
    val empty = suite(Nil, Nil, Nil, Nil)
    assert(DataQuality.report(empty) == perCheck(empty))
    assert(DataQuality.report(empty).map(_._1) == empty.map(_.name))
  }

  test("report of no checks is empty; duplicate check names are rejected") {
    assert(DataQuality.report(Seq.empty) == Seq.empty)
    val t = table(SecSchemas.tag, tagCols: _*)(cleanTag)
    val e = intercept[IllegalArgumentException](DataQuality.report(Seq(
      RowCheck("twice", t, DataQuality.notNull("tag")),
      SetCheck("twice", t))))
    assert(e.getMessage.contains("twice"))
  }

  test("generic unique skips null keys; the pre identifier test does not") {
    val checks = suite(
      sub = Seq(cleanSub.updated(0, null), cleanSub.updated(0, null)),
      num = Seq(cleanNum),
      pre = Seq(cleanPre.updated(0, null), cleanPre.updated(0, null)),
      tag = Seq(cleanTag))
    val rep = DataQuality.report(checks).toMap
    assert(rep("sub_adsh_not_null") == 2)
    assert(rep("sub_adsh_unique") == 0)
    // test_unique_identifier.sql groups with no null filter
    assert(rep("pre_unique_identifier") == 1)
    assert(DataQuality.report(checks) == perCheck(checks))
  }
}

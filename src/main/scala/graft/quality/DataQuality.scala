package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's dbt data-quality suite as violation-returning
  * checks (reference models/staging/schema.yml + tests/, SURVEY §5).
  *
  * Contract matches `dbt test --store-failures` at severity `warn`
  * (run_dbt_pipeline.sh:107-108, dbt_project.yml:44-45): every check
  * returns the DataFrame of violating rows; [[report]] collects counts
  * without throwing — violations are recorded, not blocking.
  *
  * A row-level check ([[RowCheck]]) is a table and the predicate its
  * violating rows satisfy, written once: [[RowCheck.violations]]
  * filters by it and [[report]] counts it. [[report]] runs the whole
  * suite as ONE Spark query (Deequ's single pass per table, Schelter
  * et al., VLDB 2018) instead of one `count()` per check.
  */
object DataQuality {

  /** A named check; `violations` is its audit frame of failing rows
    * (or failing key groups, for uniqueness). */
  sealed trait Check {
    def name: String
    def violations: DataFrame
  }

  /** The rows of `table` where `pred` is true. */
  final case class RowCheck(name: String, table: DataFrame, pred: Column)
      extends Check {
    def violations: DataFrame = table.filter(pred)
  }

  /** A check over sets of rows (duplicate keys, orphans), counted by
    * the rows of its violation frame. */
  final case class SetCheck(name: String, violations: DataFrame)
      extends Check

  /** not_null (schema.yml e.g. :8-10). */
  def notNull(c: String): Column = col(c).isNull

  /** Duplicate key groups: a plain GROUP BY ... HAVING count > 1. */
  private def duplicates(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** unique (schema.yml:94-96, sub.adsh): dbt's generic test filters
    * `where <col> is not null`, so null keys are never duplicates
    * (they are not_null's to report). */
  def unique(df: DataFrame, cols: Seq[String]): DataFrame =
    duplicates(df.filter(cols.map(col(_).isNotNull).reduce(_ && _)), cols)

  /** accepted_values (schema.yml:272-274 stmt codes; :50-58 flags). */
  def acceptedValues(c: String, values: Seq[Any]): Column =
    col(c).isNotNull && !col(c).isin(values: _*)

  /** expect_column_values_to_be_between (schema.yml:110-113 sic etc.). */
  def between(c: String, lo: Long, hi: Long): Column =
    col(c).isNotNull && (col(c) < lo || col(c) > hi)

  /** expect_column_values_to_match_regex (schema.yml:118-131 etc.). */
  def matchesRegex(c: Column, re: String): Column =
    c.isNotNull && !c.rlike(re)

  /** expect_column_value_lengths_to_be_between (schema.yml:294-297). */
  def lengthBetween(c: String, lo: Int, hi: Int): Column =
    col(c).isNotNull && (length(col(c)) < lo || length(col(c)) > hi)

  /** Singular test: 8-digit yyyymmdd ddate
    * (tests/num_validation/test_date_validity.sql:1-4). */
  val ddateInvalid: Column =
    col("ddate").isNotNull && length(col("ddate").cast("string")) =!= 8

  /** Singular test: FK orphans via left-anti join
    * (tests/num_validation/test_foreign_key_integrity.sql:1-4). */
  def fkOrphans(child: DataFrame, parent: DataFrame, key: String): DataFrame =
    child.join(parent.select(key), Seq(key), "left_anti")

  /** Singular test: composite-key duplicates in pre — a plain GROUP BY,
    * nulls included (tests/pre_validation/test_unique_identifier.sql:1-8). */
  def preUniqueIdentifier(pre: DataFrame): DataFrame =
    duplicates(pre, Seq("adsh", "report", "line"))

  /** The full suite over one quarter's typed tables; mirrors the
    * schema.yml + singular tests line items cited per check above. */
  def secSuite(sub: DataFrame, num: DataFrame, pre: DataFrame,
               tag: DataFrame): Seq[Check] = Seq(
    RowCheck("sub_adsh_not_null", sub, notNull("adsh")),
    SetCheck("sub_adsh_unique", unique(sub, Seq("adsh"))),
    RowCheck("sub_wksi_domain", sub, acceptedValues("wksi", Seq(0, 1))),
    RowCheck("sub_sic_range", sub, between("sic", 100, 9999)),
    RowCheck("sub_fy_range", sub, between("fy", 1900, 2100)),
    RowCheck("sub_nciks_min", sub, between("nciks", 1, Long.MaxValue)),
    RowCheck("sub_countryba_regex", sub,
      matchesRegex(col("countryba"), "^[A-Z]{2}$")),
    RowCheck("sub_fye_regex", sub, matchesRegex(col("fye").cast("string"),
      "^((0?[1-9]|1[0-2])[0-3][0-9])$")),
    RowCheck("sub_period_regex", sub,
      matchesRegex(col("period").cast("string"), "^[0-9]{8}$")),
    RowCheck("sub_aciks_regex", sub, matchesRegex(col("aciks"), "^[0-9 ]*$")),
    RowCheck("num_adsh_not_null", num, notNull("adsh")),
    RowCheck("num_qtrs_min", num, between("qtrs", 0, Long.MaxValue)),
    RowCheck("num_ddate_valid", num, ddateInvalid),
    SetCheck("num_fk_sub", fkOrphans(num, sub, "adsh")),
    RowCheck("pre_stmt_domain", pre, acceptedValues("stmt",
      graft.sources.SecSchemas.stmtCodes)),
    RowCheck("pre_inpth_domain", pre, acceptedValues("inpth", Seq(0, 1))),
    RowCheck("pre_plabel_length", pre, lengthBetween("plabel", 1, 512)),
    SetCheck("pre_unique_identifier", preUniqueIdentifier(pre)),
    RowCheck("tag_tag_not_null", tag, notNull("tag")),
    RowCheck("tag_version_not_null", tag, notNull("version")),
    RowCheck("tag_iord_domain", tag, acceptedValues("iord", Seq("I", "D"))),
    RowCheck("tag_crdr_domain", tag, acceptedValues("crdr", Seq("C", "D"))),
    RowCheck("tag_datatype_domain", tag, acceptedValues("datatype",
      Seq("monetary", "shares", "perShare", "percent", "integer",
        "decimal", "area", "pure", "mass", "monetaryPerVolume"))),
    RowCheck("tag_custom_domain", tag, acceptedValues("custom", Seq(0, 1))),
    RowCheck("tag_abstract_domain", tag, acceptedValues("abstract", Seq(0, 1))))

  /** warn-severity report: (check, violation count) in check order,
    * never throws on violations. The whole suite is one Spark query
    * with one `collect`: one global `count_if` per check over a union
    * of branches. A branch is one frame projected to a flag column per
    * check, null for the checks it does not hold: a table flags its
    * rows by the predicate of each row check over it (tables compared
    * by reference, so each is scanned once for all its checks), and a
    * set check's violation frame flags every row. Names must be
    * distinct, since callers key the result by name. */
  def report(checks: Seq[Check]): Seq[(String, Long)] = {
    val dups = checks.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty, s"duplicate check names: ${dups.toSeq.sorted.mkString(", ")}")
    if (checks.isEmpty) return Seq.empty
    val flagged = checks.map {
      case c: RowCheck => (c.table, c.pred)
      case c: SetCheck => (c.violations, lit(true))
    }
    val frames = flagged.map(_._1).foldLeft(Vector.empty[DataFrame]) {
      (fs, f) => if (fs.exists(_ eq f)) fs else fs :+ f }
    val flag = (i: Int) => s"v$i"
    val counts = checks.indices.map(i => count_if(col(flag(i))).as(flag(i)))
    val row = frames.map(f => f.select(flagged.zipWithIndex.map {
        case ((g, pred), i) =>
          (if (g eq f) pred else lit(null).cast("boolean")).as(flag(i))
      }: _*))
      .reduce(_ union _)
      .agg(counts.head, counts.tail: _*).collect().head
    checks.indices.map(i => checks(i).name -> row.getLong(i))
  }

  /** q116: referential-integrity summary — every foreign-key edge of
    * the star schema checked in ONE report: per edge, the child row
    * count and the orphan count (child keys with no parent), each via
    * the same left-anti shape as [[fkOrphans]] (reference J3,
    * generalized to the whole schema). Each edge costs one keyed
    * anti-join of (child-key) projections — column-pruned to single
    * columns before any exchange — and the edges are independent
    * branches of one union, so they parallelize across the cluster.
    * The dashboard query a warehouse load runs after every batch. */
  def riSummaryQuery(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import graft.sources.Tables
    val edges: Seq[(String, DataFrame, DataFrame, String)] = Seq(
      ("orders.custkey->customer",
        Tables.orders(spark, dir).select(col("o_custkey").as("k")),
        Tables.customer(spark, dir).select(col("c_custkey").as("k")), "k"),
      ("lineitem.orderkey->orders",
        Tables.lineitem(spark, dir).select(col("l_orderkey").as("k")),
        Tables.orders(spark, dir).select(col("o_orderkey").as("k")), "k"),
      ("lineitem.partkey->part",
        Tables.lineitem(spark, dir).select(col("l_partkey").as("k")),
        Tables.part(spark, dir).select(col("p_partkey").as("k")), "k"),
      ("lineitem.suppkey->supplier",
        Tables.lineitem(spark, dir).select(col("l_suppkey").as("k")),
        Tables.supplier(spark, dir).select(col("s_suppkey").as("k")), "k"),
      ("customer.nationkey->nation",
        Tables.customer(spark, dir)
          .select(col("c_nationkey").cast("long").as("k")),
        Tables.nation(spark, dir)
          .select(col("n_nationkey").cast("long").as("k")), "k"),
      ("supplier.nationkey->nation",
        Tables.supplier(spark, dir)
          .select(col("s_nationkey").cast("long").as("k")),
        Tables.nation(spark, dir)
          .select(col("n_nationkey").cast("long").as("k")), "k"),
      ("nation.regionkey->region",
        Tables.nation(spark, dir)
          .select(col("n_regionkey").cast("long").as("k")),
        Tables.region(spark, dir)
          .select(col("r_regionkey").cast("long").as("k")), "k"))
    edges.map { case (name, child, parent, key) =>
      val orphans = fkOrphans(child, parent, key)
        .agg(count(lit(1)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans)
        .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))
    }.reduce(_ unionAll _).orderBy("edge")
  }

  /** q125: data-freshness audit — per event stream, the newest event
    * time and its lag behind the freshest stream in the batch: the
    * staleness dashboard that catches a silently-stalled upstream
    * (one type stops arriving; totals still grow, so volume checks
    * miss it). One max-aggregation over the fact table (map-side
    * combined to |types| rows) plus a window over that tiny table;
    * emitted in epoch-ms so no raw timestamps cross the oracle
    * boundary. */
  def freshnessQuery(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val latest = graft.sources.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(max(unix_millis(col("ts"))).as("latest_ms"),
        count(lit(1)).as("n_events"))
    latest
      .withColumn("freshest_ms",
        max(col("latest_ms")).over(Window.partitionBy()))
      .select(col("event_type"), col("n_events"), col("latest_ms"),
        (col("freshest_ms") - col("latest_ms")).as("staleness_ms"))
      .orderBy("event_type")
  }

  /** DuckDB oracle for [[freshnessQuery]]. */
  def freshnessOracleSql: String =
    """WITH l AS (SELECT event_type,
           max(epoch_ms(ts)) AS latest_ms,
           count(*) AS n_events
         FROM events GROUP BY 1)
     SELECT event_type, CAST(n_events AS BIGINT) AS n_events, latest_ms,
       CAST(max(latest_ms) OVER () - latest_ms AS BIGINT) AS staleness_ms
     FROM l ORDER BY event_type"""

  /** q134: column-profile report — per events column: row count,
    * null count, and exact distinct count (the dataset datasheet
    * every profiling tool prints). All profiles compute in ONE
    * aggregation pass over the table (count/count(col)/
    * count_distinct per column side by side, each map-side partial),
    * and the single wide row melts to one row per column — the
    * unpivot shape from q88 applied to metadata. Engine note: value
    * is profiled through an is-finite normalization (NaN sorts/
    * groups engine-specifically) and ts through epoch-ms. */
  def columnProfileQuery(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val ev = graft.sources.Tables.events(spark, dir)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("value_f",
        when(isnan(col("value")) ||
          col("value") === Double.PositiveInfinity ||
          col("value") === Double.NegativeInfinity, lit(null))
          .otherwise(col("value")))
    val cols = Seq("event_id", "ts_ms", "user_id", "event_type",
      "value_f", "props")
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        count_distinct(col(c)).as(s"nd_$c"))
    }
    val wide = ev.agg(count(lit(1)).as("n_rows"), aggs: _*)
    wide.select(explode(array(cols.map { c =>
        struct(lit(c).as("column"), col("n_rows"),
          (col("n_rows") - col(s"nn_$c")).as("n_null"),
          col(s"nd_$c").as("n_distinct"))
      }: _*)).as("p"))
      .select(col("p.column"), col("p.n_rows"), col("p.n_null"),
        col("p.n_distinct"))
      .orderBy("column")
  }

  /** DuckDB oracle for [[columnProfileQuery]]. */
  def columnProfileOracleSql: String = {
    val cols = Seq("event_id", "ts_ms", "user_id", "event_type",
      "value_f", "props")
    val branches = cols.map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
            count(*) - count($c) AS n_null,
            count(DISTINCT $c) AS n_distinct FROM ev"""
    }
    s"""WITH ev AS (SELECT event_id, epoch_ms(ts) AS ts_ms, user_id,
           event_type,
           CASE WHEN isnan(value) OR NOT isfinite(value) THEN NULL
                ELSE value END AS value_f,
           props FROM events)
       SELECT "column", CAST(n_rows AS BIGINT) AS n_rows,
         CAST(n_null AS BIGINT) AS n_null,
         CAST(n_distinct AS BIGINT) AS n_distinct
       FROM (${branches.mkString(" UNION ALL ")})
       ORDER BY "column""""
  }

  /** q138: rule-assertion suite as ONE query — a battery of cross-
    * field business rules over the event stream, each counted in a
    * single shared scan (sum-of-cases side by side, map-side
    * combined) and melted to one row per rule: the dbt-style test
    * suite executed as one pass instead of one query per rule, which
    * is the difference between auditable and affordable at 100 TB.
    * Rule conditions are spelled with explicit NaN/finite guards so
    * both engines agree on non-finite values. */
  val AssertionRules: Seq[(String, String)] = Seq(
    ("purchase_value_positive",
      """event_type = 'purchase' AND (value IS NULL OR isnan(value)
         OR value <= 0.0 OR value > 1e12)"""),
    ("known_event_type",
      """event_type NOT IN ('click','view','purchase','signup','error')"""),
    ("ts_in_2024",
      """ts_ms < 1704067200000 OR ts_ms >= 1735689600000"""),
    ("user_id_nonnegative", """user_id < 0"""),
    ("props_is_object", """props IS NULL OR NOT props LIKE '{%'"""))

  def assertionSuiteQuery(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    assertionSuite(graft.sources.Tables.events(spark, dir)
      .withColumn("ts_ms", unix_millis(col("ts"))))

  /** [[assertionSuiteQuery]] over an explicit events frame carrying
    * `ts_ms` — the batch core the streaming monitor
    * ([[graft.streaming.MonitorStream]]) evaluates per micro-batch. */
  def assertionSuite(ev: DataFrame): DataFrame = {
    val aggs = AssertionRules.map { case (name, cond) =>
      sum(expr(s"CASE WHEN $cond THEN 1 ELSE 0 END")).as(s"v_$name")
    }
    val wide = ev.agg(count(lit(1)).as("n_rows"), aggs: _*)
    wide.select(explode(array(AssertionRules.map { case (name, _) =>
        struct(lit(name).as("rule"), col("n_rows"),
          col(s"v_$name").as("n_violations"))
      }: _*)).as("r"))
      .select(col("r.rule"), col("r.n_rows"), col("r.n_violations"))
      .orderBy("rule")
  }

  /** DuckDB oracle for [[assertionSuiteQuery]] — same rule SQL. */
  def assertionSuiteOracleSql: String = {
    val branches = AssertionRules.map { case (name, cond) =>
      s"""SELECT '$name' AS rule, count(*) AS n_rows,
            CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)
              AS n_violations FROM ev"""
    }
    s"""WITH ev AS (SELECT event_type, value, user_id, props,
           epoch_ms(ts) AS ts_ms FROM events)
       SELECT rule, CAST(n_rows AS BIGINT) AS n_rows, n_violations
       FROM (${branches.mkString(" UNION ALL ")})
       ORDER BY rule"""
  }

  /** DuckDB oracle for [[riSummaryQuery]]. */
  def riSummaryOracleSql: String = {
    val branch = (name: String, child: String, ck: String,
        parent: String, pk: String) =>
      s"""SELECT '$name' AS edge,
            CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_child,
            CAST((SELECT count(*) FROM $child c
              WHERE NOT EXISTS (SELECT 1 FROM $parent p
                WHERE p.$pk = c.$ck)) AS BIGINT) AS n_orphans"""
    Seq(
      branch("orders.custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      branch("lineitem.orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      branch("lineitem.partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      branch("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      branch("customer.nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      branch("supplier.nationkey->nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"),
      branch("nation.regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"))
      .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY edge")
  }

  /** Benford reference shares, floor(log10(1 + 1/d) * 1e6) for
    * d = 1..9 — ONE literal table interpolated into BOTH the Spark
    * frame and the oracle SQL, so the two sides cannot drift. */
  val BenfordE6: Seq[(Int, Long)] = Seq(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L,
    5 -> 79181L, 6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  /** q272: BENFORD first-digit audit on order totals — the classic
    * forensic-accounting / data-fabrication screen: naturally
    * occurring multi-scale amounts follow P(d) = log10(1 + 1/d);
    * synthetic or tampered figures usually don't. Per leading digit:
    * observed count, observed share (e6), the Benford reference, and
    * the absolute deviation — the audit row a DQ dashboard thresholds
    * on. Digits come from the exact integer CENTS rendering (never a
    * double's string form — engines format doubles differently), so
    * both engines extract identical digits. One scan, a 9-row
    * aggregate: free at any scale. */
  def benfordQuery(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    benford(graft.sources.Tables.orders(spark, dir)
      .select((round(col("o_totalprice").cast("decimal(38,10)"), 2)
        * 100).cast("long").as("cents")))

  /** [[benfordQuery]]'s core over any positive (cents) frame. */
  def benford(amounts: DataFrame): DataFrame = {
    val spark = amounts.sparkSession
    val ref = spark.createDataFrame(BenfordE6)
      .toDF("digit", "benford_e6")
    val obs = amounts
      .select(substring(col("cents").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    obs.crossJoin(broadcast(obs.agg(sum(col("n")).as("total"))))
      .join(broadcast(ref), Seq("digit"), "right")
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_orders"),
        coalesce(expr("n * 1000000 div total"), lit(0L)).cast("long")
          .as("share_e6"),
        col("benford_e6").cast("long").as("benford_e6"),
        abs(coalesce(expr("n * 1000000 div total"), lit(0L))
          - col("benford_e6")).cast("long").as("dev_e6"))
      .orderBy("digit")
  }

  /** DuckDB oracle for [[benfordQuery]] — identical cents digits and
    * the same interpolated reference literals. */
  def benfordOracleSql: String = {
    val refRows = BenfordE6
      .map { case (d, b) => s"($d, ${b}::BIGINT)" }.mkString(", ")
    s"""WITH amt AS (SELECT CAST(round(CAST(o_totalprice
           AS DECIMAL(38,10)), 2) * 100 AS BIGINT) AS cents
         FROM orders),
       obs AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
             AS digit, count(*) AS n
         FROM amt GROUP BY 1),
       tot AS (SELECT sum(n) AS total FROM obs),
       ref(digit, benford_e6) AS (VALUES $refRows)
     SELECT ref.digit,
       CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
       CAST(coalesce(n * 1000000 // total, 0) AS BIGINT) AS share_e6,
       benford_e6,
       CAST(abs(coalesce(n * 1000000 // total, 0) - benford_e6)
         AS BIGINT) AS dev_e6
     FROM ref LEFT JOIN obs USING (digit), tot
     ORDER BY ref.digit"""
  }
}

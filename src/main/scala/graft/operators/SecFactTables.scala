package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** The dbt fact pipeline re-expressed as one DataFrame program
  * (reference models/fact_data_load/{balance_sheet,income_statement,
  * cash_flow}_load.sql — the three models are identical except the
  * stmt literal, so this is one function with three instantiations).
  *
  * Faithful semantics, including the reference's quirks (SURVEY §7.4):
  *   - J2: num⋈pre joins on (adsh, tag) WITHOUT version →
  *     deliberate fan-out across taxonomy versions
  *     (balance_sheet_load.sql:28-33), unlike the serving query J1;
  *   - W1: DENSE_RANK partitions by a key set that includes ddate while
  *     ordering by ddate DESC (balance_sheet_load.sql:22-26). Every row
  *     of a window partition ties on its only order key (null ddate
  *     included: nulls are one partition and tie), so rank ≡ 1 and the
  *     reference's `GROUP BY …, rn` groups by the other 12 keys alone.
  *     The window is therefore not evaluated: evaluating it costs an
  *     exchange, a 13-key sort and a WindowExec per statement, and it
  *     stops Spark's partial aggregate before the shuffle. The constant
  *     is proven three ways: `SecPipelineSpec`'s quirk test (rank is 1
  *     on every joined row), its reference-shape equivalence test (the
  *     window plus `rn` as a group key gives the same rows and schema
  *     as [[build]] for BS, IS and CF), and `q21_fact_build`, whose
  *     DuckDB oracle computes the real dense_rank;
  *   - stmt filter applied before aggregation (pushdown does this
  *     anyway; written where the reference writes it, line 34).
  */
object SecFactTables {

  /** Build one fact table. `num`/`sub`/`pre` are the typed quarter
    * DataFrames (SecSchemas); `stmtType` ∈ SecSchemas.stmtCodes. */
  def build(num: DataFrame, sub: DataFrame, pre: DataFrame,
            stmtType: String): DataFrame =
    num.as("n")
      .join(sub.as("s"), col("n.adsh") === col("s.adsh"))
      .join(pre.as("p"),
        col("n.adsh") === col("p.adsh") && col("n.tag") === col("p.tag"))
      .filter(col("p.stmt") === stmtType)
      .groupBy(col("n.adsh").as("adsh"), col("s.cik").as("cik"),
        col("s.name").as("company_name"), col("s.filed").as("filing_date"),
        col("s.fy").as("fiscal_year"), col("s.fp").as("fiscal_period"),
        col("n.tag").as("tag"), col("n.uom").as("unit_of_measure"),
        col("n.ddate").as("report_date"), col("n.qtrs").as("qtrs"),
        col("p.stmt").as("statement_type"), col("p.plabel").as("plabel"))
      .agg(sum(col("n.value")).as("total_value"))

  def balanceSheet(num: DataFrame, sub: DataFrame, pre: DataFrame): DataFrame =
    build(num, sub, pre, "BS")

  def incomeStatement(num: DataFrame, sub: DataFrame, pre: DataFrame): DataFrame =
    build(num, sub, pre, "IS")

  def cashFlow(num: DataFrame, sub: DataFrame, pre: DataFrame): DataFrame =
    build(num, sub, pre, "CF")
}

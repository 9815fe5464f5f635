package graft.finlogic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Kernels

/** Indicator pipeline — Spark re-expression of the reference's
  * `src/finlogic/indicators.py`. Same computed quantities, different
  * execution shape: the reference runs ~20 eager columnar steps; here
  * the whole build is one lazy plan, so Catalyst prunes the 17-code
  * filter and projection into the Parquet scan, and the lag windows,
  * LTM top-1 and dedup all share the
  * (cvm_id, is_annual, is_consolidated) exchange.
  */
object Indicators {

  /** Reference `indicators.py:3`: module tax constant used by
    * ROA/ROE/ROIC (NOT the Company's settable tax_rate — that one is
    * stored but never used in reference calculations; SURVEY §2.10
    * trap 6). */
  val TaxRate = 0.34

  /** acc_code -> indicator name (reference `indicators.py:4-22`). */
  val IndicatorCodes: Seq[(String, String)] = Seq(
    "1" -> "total_assets",
    "1.01" -> "current_assets",
    "1.01.01" -> "cash_equivalents",
    "1.01.02" -> "financial_investments",
    "2.01" -> "current_liabilities",
    "2.01.04" -> "short_term_debt",
    "2.02.01" -> "long_term_debt",
    "2.03" -> "equity",
    "3.01" -> "revenues",
    "3.03" -> "gross_profit",
    "3.05" -> "ebit",
    "3.07" -> "ebt",
    "3.08" -> "effective_tax",
    "3.11" -> "net_income",
    "6.01" -> "operating_cash_flow",
    "6.01.01.04" -> "depreciation_amortization",
    "3.99.01.01" -> "eps",
  )

  private val CutOff = 1000000.0
  private val GroupCols = Seq("cvm_id", "is_annual", "is_consolidated")
  private val PivotIndex = Seq("cvm_id", "name_id", "is_annual", "is_consolidated", "period_end")

  /** Currency columns divided by the accounting unit
    * (reference `indicators.py:162-184`; EPS deliberately excluded). */
  val CurrencyCols: Seq[String] = Seq(
    "total_assets", "current_assets", "current_liabilities", "equity",
    "revenues", "gross_profit", "ebit", "ebt", "effective_tax",
    "net_income", "operating_cash_flow", "depreciation_amortization",
    "total_cash", "total_debt", "net_debt", "working_capital",
    "ebitda", "invested_capital")

  /** Display row order (reference `indicators.py:186-216`). */
  val IndicatorOrder: Seq[String] = Seq(
    "total_assets", "current_assets", "total_cash", "working_capital",
    "invested_capital", "current_liabilities", "total_debt", "net_debt",
    "equity", "revenues", "gross_profit", "net_income", "ebitda", "ebit",
    "ebt", "effective_tax", "operating_cash_flow",
    "depreciation_amortization", "effective_tax_rate", "return_on_assets",
    "return_on_equity", "roic", "gross_margin", "ebitda_margin",
    "operating_margin", "net_margin", "eps")

  /** Reference `filter_indicators_data` (`indicators.py:25-37`):
    * keep the 17 indicator codes, dedup duplicate filings keeping the
    * "last" row per (cvm_id, is_consolidated, acc_code, period_end).
    * The reference's keep-last is physical-order-defined; here the
    * ordering is made total (annual wins over quarterly at the same
    * period, then higher acc_value) so results are deterministic
    * under any partitioning (SURVEY §2.10 trap 7).
    */
  def filterIndicatorsData(financials: DataFrame): DataFrame =
    Kernels.dedupKeepLast(
      financials
        .filter(col("acc_code").isin(IndicatorCodes.map(_._1): _*))
        .drop("tax_id", "acc_name", "period_begin"),
      keys = Seq("cvm_id", "is_consolidated", "acc_code", "period_end"),
      order = Seq(col("is_annual"), col("acc_value")))

  /** Reference `pivot_df` (`indicators.py:40-44`): wide table with one
    * column per indicator code, zero-filled. Explicit pivot values
    * (the closed 17-code set) skip Spark's values-discovery job — one
    * scan instead of two, which matters at fact-table scale.
    */
  def pivotIndicators(df: DataFrame): DataFrame = {
    val wide = df.groupBy(PivotIndex.map(col): _*)
      .pivot("acc_code", IndicatorCodes.map(_._1))
      .agg(first("acc_value"))
    // Rename dotted code columns ("1.01") to indicator names before
    // na.fill — dotted names would otherwise resolve as struct paths.
    // One select instead of 17 withColumnRenamed calls: every
    // withColumn* triggers a full analysis pass over the (wide) plan,
    // which dominates DRIVER time when the pipeline is built per load.
    val renamed = wide.select(PivotIndex.map(col) ++
      IndicatorCodes.map { case (code, name) => col(s"`$code`").as(name) }: _*)
    renamed.na.fill(0.0, IndicatorCodes.map(_._2))
  }

  /** Reference `insert_key_cols` (`indicators.py:72-93`): one select
    * (single analysis pass) in the exact column order the previous
    * withColumn chain produced. total_cash/total_debt are inlined into
    * the columns derived from them — same expressions, same values.
    * IEEE division for effective_tax_rate: ebt can legitimately be 0
    * (zero-filled missing account) and ANSI-mode Spark would throw;
    * the reference's float kernels give Inf/NaN here.
    */
  private def insertKeyCols(df: DataFrame): DataFrame = {
    val tc = col("cash_equivalents") + col("financial_investments")
    val td = col("short_term_debt") + col("long_term_debt")
    df.select(col("*"),
        tc.as("total_cash"),
        td.as("total_debt"),
        (col("current_assets") - col("current_liabilities")).as("working_capital"),
        Kernels.ieeeDivide(-col("effective_tax"), col("ebt")).as("effective_tax_rate"),
        (col("ebit") + col("depreciation_amortization")).as("ebitda"),
        (td + col("equity") - tc).as("invested_capital"),
        (td - tc).as("net_debt"))
      .drop("cash_equivalents", "financial_investments", "short_term_debt", "long_term_debt")
  }

  /** Reference `process_indicators` (`indicators.py:96-146`): rename
    * codes to names, derive key columns, trailing averages (annual:
    * lag-1-else-self; quarterly: lag-4-else-lag-1-else-self), for
    * quarterly keep only the LTM (last) row per group, then the
    * cutoff-guarded margins and returns.
    */
  def processIndicators(pivoted: DataFrame, isAnnual: Boolean): DataFrame = {
    val keyed = insertKeyCols(pivoted)

    val avgCols = Seq("invested_capital", "total_assets", "equity")
    val averaged =
      if (isAnnual)
        Kernels.trailingAvg2(keyed, GroupCols, col("period_end"), avgCols)
      else
        Kernels.trailingAvg4(keyed, GroupCols, col("period_end"), avgCols)

    val scoped =
      if (isAnnual) averaged
      else {
        // LTM snapshot: last quarter per group, after the lag avgs;
        // then the reference's drop_nulls (indicators.py:114). NULL
        // only — Spark's na.drop would also drop NaN rows, which the
        // reference's Polars drop_nulls keeps.
        val ltm = Kernels.dedupKeepLast(averaged, GroupCols, Seq(col("period_end")))
        ltm.filter(ltm.columns.map(c => col(c).isNotNull).reduce(_ && _))
      }

    def guard(den: Column, ratio: Column): Column =
      when(den > CutOff, ratio).otherwise(0.0)

    val afterTax = col("ebit") * (1 - TaxRate)
    // Single select (one analysis pass) in the previous withColumn order.
    scoped
      .select(col("*"),
        guard(col("revenues"), col("gross_profit") / col("revenues")).as("gross_margin"),
        guard(col("revenues"), col("ebitda") / col("revenues")).as("ebitda_margin"),
        guard(col("revenues"), col("ebit") / col("revenues")).as("operating_margin"),
        guard(col("revenues"), col("net_income") / col("revenues")).as("net_margin"),
        guard(col("avg_total_assets"), afterTax / col("avg_total_assets")).as("return_on_assets"),
        guard(col("avg_equity"), afterTax / col("avg_equity")).as("return_on_equity"),
        guard(col("avg_invested_capital"), afterTax / col("avg_invested_capital")).as("roic"))
      .drop("avg_total_assets", "avg_equity", "avg_invested_capital")
  }

  /** Reference `build_indicators` (`indicators.py:149-159`). */
  def build(financials: DataFrame): DataFrame = {
    val start = filterIndicatorsData(financials)
    val annual = processIndicators(pivotIndicators(start.filter(col("is_annual"))), isAnnual = true)
    val quarterly = processIndicators(pivotIndicators(start.filter(!col("is_annual"))), isAnnual = false)
    annual.unionByName(quarterly)
      .orderBy("cvm_id", "is_consolidated", "period_end", "is_annual")
  }
}

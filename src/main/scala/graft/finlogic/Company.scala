package graft.finlogic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Kernels

/** Company view over a FinData — Spark re-expression of the
  * reference's `src/finlogic/company.py` Company class. The identifier
  * resolves against FinData's company dimension. The per-company slice
  * is a cached filtered DataFrame in ONE partition: it holds one
  * company's filings (~3k rows for the largest reference company,
  * bounded by periods x codes x 2), so one task holds it comfortably,
  * and a single-partition child satisfies every distribution, so the
  * windows, pivot, join and sort of a report plan with no exchange.
  * The handful of scalar period aggregates the constructor needs are
  * one cheap collect; every report is one lazy pivot plan after its
  * period collect.
  */
final class Company(
    val data: FinData,
    identifier: Any,
    val isConsolidated: Boolean = true,
    accUnitSpec: Any = 1.0,
    val taxRate: Double = 0.34,
    languageSpec: String = "english") {

  require(taxRate >= 0 && taxRate <= 1, "Company 'tax_rate' value is invalid")

  /** Reference `company.py:165-186`: "t"/"m"/"b" or a positive number. */
  val accUnit: Double = accUnitSpec match {
    case "t" => 1000.0
    case "m" => 1000000.0
    case "b" => 1000000000.0
    case s: String => throw new IllegalArgumentException("Invalid string for Accounting Unit")
    case v: Int if v > 0 => v.toDouble
    case v: Long if v > 0 => v.toDouble
    case v: Double if v > 0 => v
    case _ => throw new IllegalArgumentException("Accounting Unit is invalid")
  }

  val language: String = languageSpec.toLowerCase match {
    case "english" | "portuguese" => languageSpec.toLowerCase.capitalize
    case other => throw new IllegalArgumentException(
      s"'$other' not supported. Supported languages: english, portuguese")
  }

  /** Identifier resolution (reference `company.py:94-118`): CVM id
    * (number) or tax id (string) against the company dimension, whose
    * (name_id, tax_id) identity is the one searchCompany shows; a tax
    * id shared by several companies resolves to the lowest CVM id.
    * KeyError -> NoSuchElementException. */
  val (cvmId: Long, taxId: String, nameId: String) = {
    val byId = identifier match {
      case i: Int => col("cvm_id") === i.toLong
      case l: Long => col("cvm_id") === l
      case s: String => col("tax_id") === s
      case other => throw new IllegalArgumentException(s"Invalid identifier: $other")
    }
    val rows = data.companies.filter(byId).select("cvm_id", "tax_id", "name_id")
      .orderBy("cvm_id").limit(1).collect()
    if (rows.isEmpty)
      throw new NoSuchElementException(s"Company 'identifier' $identifier not found.")
    (rows(0).getLong(0), rows(0).getString(1), rows(0).getString(2))
  }

  /** Company slice with EPS-exempt unit scaling (reference
    * `company.py:248-281`, trap 1: acc_code prefix "3.99" is never
    * divided by the accounting unit), cached in one partition.
    */
  val df: DataFrame = data.financials
    .filter(col("cvm_id") === cvmId && col("is_consolidated") === isConsolidated)
    .withColumn("acc_value",
      when(!col("acc_code").startsWith("3.99"), col("acc_value") / accUnit)
        .otherwise(col("acc_value")))
    .drop("name_id", "cvm_id", "tax_id", "is_consolidated")
    .coalesce(1)
    .cache()

  // Scalar period attributes (reference company.py:267-278) — one
  // tiny aggregate over the cached slice.
  private val periodRow = df.agg(
    date_format(min("period_end"), "yyyy-MM-dd").as("first"),
    date_format(max("period_end"), "yyyy-MM-dd").as("last"),
    date_format(max(when(col("is_annual"), col("period_end"))), "yyyy-MM-dd").as("lastAnnual"),
    date_format(max(when(!col("is_annual"), col("period_end"))), "yyyy-MM-dd").as("lastQuarterly"),
    count(lit(1)).as("rows")).head()

  val firstPeriod: Option[String] = Option(periodRow.getString(0))
  val lastPeriod: Option[String] = Option(periodRow.getString(1))
  val lastAnnual: Option[String] = Option(periodRow.getString(2))
  val lastPeriodType: String =
    if (lastPeriod == lastAnnual) "annual" else "quarterly"
  val lastQuarterly: Option[String] =
    if (lastPeriodType == "quarterly") Option(periodRow.getString(3)) else None
  val accountingRows: Long = periodRow.getLong(4)

  // ---- Reconfiguration surface (reference `company.py:94-246`).
  // The reference exposes mutable validated property setters
  // (identifier / is_consolidated / acc_unit / tax_rate / language)
  // that re-derive the company frame when changed. A Spark-idiomatic
  // Company is an immutable view, so the same surface is copy-style:
  // each `with*` returns a NEW Company passed through the primary
  // constructor, which re-validates the setting and re-derives every
  // dependent val (slice df, period scalars) exactly as the
  // reference's `_set_df()` reset does. FinLogicSpec pins that a
  // reconfigured Company equals a freshly constructed one.

  /** Reference `identifier` setter (`company.py:94-118`): re-resolve
    * to a different company; NoSuchElementException if not found. */
  def withIdentifier(newIdentifier: Any): Company =
    new Company(data, newIdentifier, isConsolidated, accUnitSpec, taxRate, languageSpec)

  /** Reference `is_consolidated` setter (`company.py:120-142`) —
    * non-boolean inputs are unrepresentable here by typing. */
  def withConsolidated(value: Boolean): Company =
    new Company(data, identifier, value, accUnitSpec, taxRate, languageSpec)

  /** Reference `acc_unit` setter (`company.py:144-188`): "t"/"m"/"b"
    * or a positive number; invalid values throw. */
  def withUnit(unit: Any): Company =
    new Company(data, identifier, isConsolidated, unit, taxRate, languageSpec)

  /** Reference `tax_rate` setter (`company.py:190-216`): in [0, 1]. */
  def withTaxRate(rate: Double): Company =
    new Company(data, identifier, isConsolidated, accUnitSpec, rate, languageSpec)

  /** Reference `language` setter (`company.py:218-246`):
    * english | portuguese (case-insensitive). */
  def withLanguage(lang: String): Company =
    new Company(data, identifier, isConsolidated, accUnitSpec, taxRate, lang)

  /** Reference `company.py:283-308` info(). */
  def info(): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq(
      ("Name", nameId),
      ("CVM ID", cvmId.toString),
      ("Fiscal ID (CNPJ)", taxId),
      ("Total Accounting Rows", accountingRows.toString),
      ("Selected Accounting Method", if (isConsolidated) "consolidated" else "separate"),
      ("Selected Accounting Unit", accUnit.toString),
      ("Selected Tax Rate", taxRate.toString),
      ("First Report", firstPeriod.getOrElse("")),
      ("Last Report", lastPeriod.getOrElse("")),
    ).toDF("key", "Company Info")
  }

  /** Reference `company.py:355-477` report_type -> acc_code prefixes. */
  private val ReportTypes: Map[String, Seq[String]] = Map(
    "balance_sheet" -> Seq("1", "2"),
    "assets" -> Seq("1"),
    "cash" -> Seq("1.01.01", "1.01.02"),
    "current_assets" -> Seq("1.01"),
    "non_current_assets" -> Seq("1.02"),
    "liabilities" -> Seq("2.01", "2.02"),
    "debt" -> Seq("2.01.04", "2.02.01"),
    "current_liabilities" -> Seq("2.01"),
    "non_current_liabilities" -> Seq("2.02"),
    "liabilities_and_equity" -> Seq("2"),
    "equity" -> Seq("2.03"),
    "income_statement" -> Seq("3"),
    "earnings_per_share" -> Seq("3.99"),
    "cash_flow" -> Seq("6"))

  /** Drop stale quarters: keep annual rows plus rows at the global max
    * period (reference `company.py:338-353`). */
  private def removeNotLastQuarters(dfi: DataFrame): DataFrame = {
    val maxP = lastPeriod.orNull
    dfi.filter(col("is_annual") ||
      date_format(col("period_end"), "yyyy-MM-dd") === lit(maxP))
  }

  /** pt -> en account names through FinData's dictionary, a literal
    * map lookup, with the reference's "(pt) " fallback prefix for
    * missing translations (`company.py:425-433`, trap 8). */
  private def translate(dfi: DataFrame): DataFrame =
    if (language != "English") dfi
    else dfi.withColumn("acc_name", coalesce(
      typedLit(data.languageDict).apply(col("acc_name")), concat(lit("(pt) "), col("acc_name"))))

  /** Reference `company.py:355-477` report(): one pivot plan —
    * acc_code rows x period columns, zero-filled, with the " ltm"
    * suffix on the trailing quarter column (trap 2).
    */
  def report(reportType: String, accLevel: Int = 0, numYears: Int = 0): DataFrame = {
    require(ReportTypes.contains(reportType), s"Unknown report type: $reportType")
    require(Seq(0, 1, 2, 3, 4).contains(accLevel), "acc_level expects 0, 1, 2, 3 or 4")

    var d = removeNotLastQuarters(df)
    if (accLevel > 0) // dots(acc_code) <= accLevel - 1 (company.py:420-422)
      d = d.filter(
        length(col("acc_code")) - length(regexp_replace(col("acc_code"), "\\.", "")) <= accLevel - 1)
    d = translate(d)
    val codes = ReportTypes(reportType)
    d = d.filter(codes.map(c => col("acc_code").startsWith(c)).reduce(_ || _))

    // Period slice: last numYears of this report's distinct periods
    // (tiny driver-side list, as in the reference company.py:473-475).
    val allPeriods = d.select(date_format(col("period_end"), "yyyy-MM-dd").as("p"))
      .distinct().orderBy("p").collect().map(_.getString(0)).toSeq
    val periods = if (numYears > 0) allPeriods.takeRight(numYears) else allPeriods
    d = d.filter(date_format(col("period_end"), "yyyy-MM-dd").isin(periods: _*))

    buildReport(d, periods)
  }

  /** Reference `_build_report`/`_build_report_index`
    * (`company.py:310-336`): index = latest acc_name per code; grid =
    * pivot on the period label with zero-fill; the reference's
    * per-period left-join loop is replaced by a single pivot.
    */
  private def buildReport(dfi: DataFrame, periods: Seq[String]): DataFrame = {
    def label(p: String): String =
      if (lastPeriodType == "quarterly" && lastPeriod.contains(p)) p + " ltm" else p
    val index = Kernels.dedupKeepLast(
      dfi.select("acc_code", "acc_name", "period_end"),
      keys = Seq("acc_code"),
      order = Seq(col("period_end"), col("acc_name")))
      .select("acc_code", "acc_name")
    // Deterministic cell values: annual wins if an annual row and the
    // ltm quarter ever share (acc_code, period)
    val cells = Kernels.dedupKeepLast(
      dfi.withColumn("p", date_format(col("period_end"), "yyyy-MM-dd")),
      keys = Seq("acc_code", "p"),
      order = Seq(col("is_annual"), col("acc_value")))
    val wide = cells.groupBy("acc_code")
      .pivot("p", periods)
      .agg(first("acc_value"))
    val labeled = periods.foldLeft(wide)((w, p) => w.withColumnRenamed(p, label(p)))
    // shuffle_hash, not the broadcast the size estimate picks: both
    // sides descend from the one-partition slice, so the join needs no
    // exchange, where a broadcast costs a job of its own.
    index.join(labeled.hint("shuffle_hash"), Seq("acc_code"), "left")
      .na.fill(0.0, periods.map(label))
      .orderBy("acc_code")
  }

  /** Reference `company.py:479-503` custom_report: union of the three
    * statements filtered to the requested codes. unionByName with
    * allowMissingColumns tolerates statements whose period sets
    * differ (the reference's strict concat would fail there).
    */
  def customReport(accList: Seq[String], numYears: Int = 0): DataFrame = {
    val parts = Seq("balance_sheet", "income_statement", "cash_flow")
      .map(t => report(t, numYears = numYears))
    val unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val valueCols = unioned.columns.filterNot(Seq("acc_code", "acc_name").contains)
    unioned.na.fill(0.0, valueCols.toSeq)
      .filter(col("acc_code").isin(accList: _*))
  }

  /** Reference `company.py:505-526` indicators(): the company's slice
    * of the prebuilt indicators frame, formatted wide
    * (indicator rows x period columns) in display order.
    */
  def indicators(numYears: Int = 0): DataFrame = {
    val slice = data.indicators.filter(
      col("cvm_id") === cvmId && col("is_consolidated") === isConsolidated).coalesce(1)
    val allPeriods = slice
      .select(date_format(col("period_end"), "yyyy-MM-dd").as("p"))
      .distinct().orderBy("p").collect().map(_.getString(0)).toSeq
    val periods = if (numYears > 0) allPeriods.takeRight(numYears) else allPeriods
    Indicators.formatIndicators(slice, accUnit, periods)
      .drop("cvm_id", "is_consolidated")
  }
}

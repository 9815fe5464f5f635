package graft.finlogic

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import Company._
import SparkOrdering.Utf8

/** Company view over a FinData — Spark re-expression of the
  * reference's `src/finlogic/company.py` Company class. The identifier
  * resolves against FinData's company dimension.
  *
  * The company's slice lives on the driver, as the reference's eager
  * frame does (`_set_df`, `company.py:248-281`). It holds one company's
  * filings: at most periods x codes x 2 rows, about 3k for the largest
  * reference company. The constructor reads it once, and `indicators`
  * reads the company's indicator rows on its first call; `report`,
  * `customReport` and `indicators` build their grids from those rows in
  * plain Scala and return local frames. For rows this few, Spark's
  * per-query price (analysis, AQE, code generation, a scheduler job)
  * was most of the cost: on the benchmark's `fin_interactive` workload
  * (4-core host, traced seed 30) a session's report fell from 442 to
  * 15 ms, its custom report from 1,062 to 15 ms, and the session ran 8
  * jobs instead of 16.
  *
  * Both reads skip Catalyst. Each is one Spark job over an RDD that
  * FinData plans once (`FinData.Planned`), a scan of its cache that
  * filters on `cvm_id` and `is_consolidated` in plain Scala. A Dataset
  * filter on a `cvm_id` literal paid analysis, optimization and an AQE
  * pass on every call, and compiled three new classes for each new
  * company, because the literal is written into the generated Java;
  * the job alone compiles nothing. Traced `fin_interactive` (4-core
  * host, seeds 811-812): the constructor fell from 417-427 to
  * 137-149 ms and the first `indicators` from 327-453 to 139-155 ms.
  * The read scans every cached batch: the literal filter could skip
  * batches by their `cvm_id` bounds, which pays only where the cache
  * holds companies in long runs.
  *
  * The grids keep the answers of the Spark plans they replace:
  *  - report and custom-report cells are `na.fill(0.0)`-ed, which
  *    turns null and NaN into 0.0; indicator grids keep both;
  *  - every keep-last is `Kernels.dedupKeepLast`'s: a descending sort
  *    with nulls last, so null ranks lowest, NaN highest, -0.0 ties
  *    with 0.0, and the first of tied rows wins. A code's name is the
  *    keep-last by (period_end, acc_name), a cell the keep-last by
  *    (is_annual, acc_value); in indicators the annual row wins at a
  *    shared period;
  *  - a row with a null acc_code is in no report; a null acc_name stays
  *    null, with no "(pt) " prefix;
  *  - periods are `yyyy-MM-dd` strings in string order; " ltm" labels
  *    the last period when the company's last filing is quarterly;
  *  - custom-report columns come in `unionByName(allowMissingColumns)`
  *    order (balance-sheet labels, then new income, then new cash-flow
  *    ones); rows come statement by statement, each in acc_code order;
  *  - period columns are doubles, non-null in reports and nullable in
  *    indicators. `is_annual` and `period_end` are non-null, as
  *    `Schemas.financials` declares.
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

  // Locale.ROOT: the reference's str.lower does not depend on locale;
  // under tr_TR the default would turn "ENGLISH" into "englısh".
  val language: String = languageSpec.toLowerCase(java.util.Locale.ROOT) match {
    case lang @ ("english" | "portuguese") => lang.capitalize
    case other => throw new IllegalArgumentException(
      s"'$other' not supported. Supported languages: english, portuguese")
  }

  /** Identifier resolution (reference `company.py:94-118`): CVM id
    * (number) or tax id (string) against the company dimension, whose
    * (name_id, tax_id) identity is the one searchCompany shows, on
    * FinData's driver-side rows; a tax id shared by several companies
    * resolves to the lowest CVM id. KeyError -> NoSuchElementException. */
  val (cvmId: Long, taxId: String, nameId: String) = data.lookup(identifier).getOrElse(
    throw new NoSuchElementException(s"Company 'identifier' $identifier not found."))

  private val spark = data.financials.sparkSession

  /** The slice's columns: the planned financials without their two
    * keys. Spark's unit division made `acc_value` nullable. */
  private val sliceSchema: StructType = StructType(data.plannedFinancials.frame.schema.drop(2)
    .map(f => if (f.name == "acc_value") f.copy(nullable = true) else f))

  /** Company slice with EPS-exempt unit scaling (reference
    * `company.py:248-281`, trap 1: acc_code prefix "3.99" is never
    * divided by the accounting unit), read once from FinData's planned
    * financials. The scaling keeps the answers of the Spark column it
    * replaces, `when(!acc_code.startsWith("3.99"), acc_value / unit)
    * .otherwise(acc_value)`: a null acc_code leaves the value unscaled,
    * as `when(null)` falls through to `otherwise`, and a null value
    * stays null.
    */
  private val sliceRows: Seq[Row] = {
    val (code, value) = (sliceSchema.fieldIndex("acc_code"), sliceSchema.fieldIndex("acc_value"))
    data.plannedFinancials.companyRows(cvmId, isConsolidated).map { r =>
      val cells = r.toSeq.drop(2).toArray
      if (cells(code) != null && cells(value) != null && !cells(code).asInstanceOf[String].startsWith("3.99"))
        cells(value) = cells(value).asInstanceOf[Double] / accUnit
      Row.fromSeq(cells.toSeq)
    }
  }

  /** The slice as a local frame, in the order of the financials cache. */
  val df: DataFrame = spark.createDataFrame(sliceRows.asJava, sliceSchema)

  private val entries: Seq[Entry] = {
    val Seq(code, name, value, annual, period) =
      Seq("acc_code", "acc_name", "acc_value", "is_annual", "period_end").map(sliceSchema.fieldIndex)
    sliceRows.map(r => Entry(r.getString(code), r.getString(name),
      Option.when(!r.isNullAt(value))(r.getDouble(value)), r.getBoolean(annual), r.get(period).toString))
  }

  // Scalar period attributes (reference company.py:267-278).
  val firstPeriod: Option[String] = entries.map(_.period).minOption
  val lastPeriod: Option[String] = entries.map(_.period).maxOption
  val lastAnnual: Option[String] = entries.filter(_.annual).map(_.period).maxOption
  val lastPeriodType: String =
    if (lastPeriod == lastAnnual) "annual" else "quarterly"
  val lastQuarterly: Option[String] =
    if (lastPeriodType == "quarterly") entries.filterNot(_.annual).map(_.period).maxOption
    else None
  val accountingRows: Long = entries.size.toLong

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

  /** Reference `company.py:355-477` report(): acc_code rows x period
    * columns, zero-filled, with the " ltm" suffix on the trailing
    * quarter column (trap 2).
    */
  def report(reportType: String, accLevel: Int = 0, numYears: Int = 0): DataFrame = {
    val (labels, rows) = reportGrid(reportType, accLevel, numYears)
    reportFrame(labels, rows)
  }

  /** The report's period labels and rows (acc_code, acc_name, one
    * cell per label), in acc_code order. Stale quarters drop: annual
    * rows stay, plus rows at the last period (`company.py:338-353`);
    * `accLevel` keeps codes of at most `accLevel - 1` dots
    * (`company.py:420-422`); the periods are the last `numYears` of the
    * report's own (`company.py:473-475`). Index and grid follow
    * `_build_report`/`_build_report_index` (`company.py:310-336`).
    */
  private def reportGrid(reportType: String, accLevel: Int, numYears: Int): (Seq[String], Seq[Row]) = {
    require(ReportTypes.contains(reportType), s"Unknown report type: $reportType")
    require(Seq(0, 1, 2, 3, 4).contains(accLevel), "acc_level expects 0, 1, 2, 3 or 4")
    val prefixes = ReportTypes(reportType)
    val picked = entries.filter(e => e.code != null && prefixes.exists(e.code.startsWith) &&
      (e.annual || lastPeriod.contains(e.period)) &&
      (accLevel == 0 || e.code.count(_ == '.') <= accLevel - 1))
    val periods = lastYears(picked.map(_.period).distinct.sorted, numYears)
    val kept = periods.toSet
    val byCode = picked.filter(e => kept(e.period))
      .map(e => e.copy(name = translate(e.name))).groupBy(_.code)
    val rows = byCode.keys.toSeq.sorted(Utf8).map { code =>
      val es = byCode(code)
      val byPeriod = es.groupBy(_.period)
      // na.fill(0.0): null and NaN become 0.0
      val cells = periods.map(p =>
        byPeriod.get(p).flatMap(keepLast(_, ByCell).value).filterNot(_.isNaN).getOrElse(0.0))
      Row(code +: keepLast(es, ByName).name +: cells: _*)
    }
    def label(p: String): String =
      if (lastPeriodType == "quarterly" && lastPeriod.contains(p)) p + " ltm" else p
    (periods.map(label), rows)
  }

  /** pt -> en account names through FinData's dictionary, with the
    * reference's "(pt) " fallback prefix for missing translations
    * (`company.py:425-433`, trap 8). */
  private def translate(name: String): String =
    if (language != "English" || name == null) name
    else data.languageDict.get(name).filter(_ != null).getOrElse("(pt) " + name)

  private def reportFrame(labels: Seq[String], rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(
      Seq(sliceSchema("acc_code"), sliceSchema("acc_name")) ++
        labels.map(StructField(_, DoubleType, nullable = false))))

  /** Reference `company.py:479-503` custom_report: the three
    * statements' rows, filtered to the requested codes, on the union
    * of their period labels, zero-filled where a statement lacks one
    * (the reference's strict concat would fail there).
    */
  def customReport(accList: Seq[String], numYears: Int = 0): DataFrame = {
    val parts = Seq("balance_sheet", "income_statement", "cash_flow")
      .map(reportGrid(_, accLevel = 0, numYears))
    val labels = parts.flatMap(_._1).distinct
    val wanted = accList.toSet
    val rows = parts.flatMap { case (ls, rs) =>
      val at = labels.map(ls.indexOf)
      rs.filter(r => wanted(r.getString(0))).map(r =>
        Row(r.get(0) +: r.get(1) +: at.map(i => if (i < 0) 0.0 else r.getDouble(i + 2)): _*))
    }
    reportFrame(labels, rows)
  }

  /** The company's rows of FinData's indicators, read on first use. */
  private lazy val indicatorRows: Seq[Row] =
    data.plannedIndicators.companyRows(cvmId, isConsolidated)

  /** Reference `company.py:505-526` indicators() with
    * `format_indicators` (`indicators.py:162-232`): indicator rows in
    * display order x period columns, currency indicators divided by
    * the accounting unit (EPS not), the annual row winning where an
    * annual and a quarterly row share a period. No fill.
    */
  def indicators(numYears: Int = 0): DataFrame = {
    val schema = data.indicators.schema
    val (period, annual) = (schema.fieldIndex("period_end"), schema.fieldIndex("is_annual"))
    val byPeriod = indicatorRows.groupBy(_.get(period).toString)
      .map { case (p, rs) => p -> rs.find(_.getBoolean(annual)).getOrElse(rs.head) }
    val periods = lastYears(byPeriod.keys.toSeq.sorted, numYears)
    val rows = if (indicatorRows.isEmpty) Nil else Indicators.IndicatorOrder.map { name =>
      val i = schema.fieldIndex(name)
      val unit = if (Indicators.CurrencyCols.contains(name)) accUnit else 1.0
      Row(name +: periods.map { p =>
        val r = byPeriod(p)
        if (r.isNullAt(i)) null else r.getDouble(i) / unit
      }: _*)
    }
    spark.createDataFrame(rows.asJava, StructType(StructField("indicator", StringType, nullable = false) +:
      periods.map(StructField(_, DoubleType, nullable = true))))
  }

  private def lastYears(periods: Seq[String], numYears: Int): Seq[String] =
    if (numYears > 0) periods.takeRight(numYears) else periods
}

object Company {

  /** One slice row: account, name, unit-scaled value, filing type and
    * `yyyy-MM-dd` period. */
  private final case class Entry(
      code: String, name: String, value: Option[Double], annual: Boolean, period: String)

  /** The keep-last orders of `Kernels.dedupKeepLast`, whose descending
    * sort ranks null lowest. Spark ranks NaN above every value and -0.0
    * equal to 0.0. */
  private val ByName: Ordering[Entry] = Ordering.by((e: Entry) => (e.period, Option(e.name)))(
    Ordering.Tuple2(Ordering.String, Ordering.Option(Utf8)))
  private val ByCell: Ordering[Entry] = Ordering.by((e: Entry) => (e.annual, e.value))(
    Ordering.Tuple2(Ordering.Boolean, Ordering.Option(SparkOrdering.Double)))

  /** The greatest entry, the first of tied ones (the first row of a
    * stable descending sort). */
  private def keepLast(es: Seq[Entry], ord: Ordering[Entry]): Entry =
    es.reduceLeft((best, e) => if (ord.gt(e, best)) e else best)
}

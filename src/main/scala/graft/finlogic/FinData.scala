package graft.finlogic

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Kernels

/** Immutable holder of the loaded tables — replaces the reference's
  * five mutable module globals (`src/finlogic/data.py:21-25`) with a
  * value. All five frames are cached: the reference's whole design
  * assumes RAM-resident tables. `companies` is the per-company
  * dimension derived from `financials` at load: one row per company
  * with its search identity, its latest-filing keys and the facts
  * `info` sums, so search, rank, info and Company's identifier lookup
  * never re-scan the fact table. It and `trades` (one row per company
  * after the keep-last) are cached in one partition, which bounds them
  * by the company count and lets every plan over them run without an
  * exchange: their joins are hinted shuffle_hash, which two
  * one-partition sides satisfy as they are, where the broadcast the
  * size estimate picks would cost a job per call.
  */
final case class FinData(
    financials: DataFrame,
    trades: DataFrame,
    language: DataFrame,
    indicators: DataFrame,
    companies: DataFrame) {

  /** The language table as a dictionary, collected once per FinData —
    * the reference's `LANGUAGE_DICT` (`data.py:59-64`). A pt name
    * listed twice keeps its greatest translation. */
  private[finlogic] lazy val languageDict: Map[String, String] =
    language.filter(col("pt").isNotNull).groupBy("pt").agg(max("en"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** The summed cached size of FinData's own five frames, each
    * materialized once per FinData (a count on a cached frame), after
    * which its InMemoryRelation's plan stats report the actual cached
    * bytes. */
  private lazy val cachedMb: Double = {
    val frames = Seq(financials, trades, language, indicators, companies)
    frames.foreach(_.count())
    frames.map(_.queryExecution.optimizedPlan.stats.sizeInBytes.toLong).sum / 1048576.0
  }

  /** Reference `data.py:70-95` info(): summary key/value frame built
    * from one tiny aggregate over the company dimension. data_url is a
    * runtime-environment fact, reported as the source path here;
    * memory_usage_mb is the Spark analog of the reference's
    * resident-DataFrame MB (`data.py:81,86`): the cached size of
    * FinData's five frames (the company dimension included), measured
    * once per FinData. Scoped to those frames deliberately: a
    * session-wide storage readout would silently include unrelated
    * persists (ext operators' staged frames, user caches) in a number
    * presented as FinData's footprint.
    */
  def info(dataPath: String = ""): DataFrame = {
    val spark = financials.sparkSession
    import spark.implicits._
    val a = companies.agg(
      coalesce(sum("entries"), lit(0L)),
      date_format(min("first_period"), "yyyy-MM-dd"),
      date_format(max("last_period"), "yyyy-MM-dd"),
      count("cvm_id"),
      coalesce(sum("reports"), lit(0L))).head()
    Seq(
      ("data_url", dataPath),
      // Locale.ROOT: f"" uses the JVM default locale, which renders a
      // comma decimal point under e.g. de_DE and breaks .toDouble parsers.
      ("memory_usage_mb", String.format(java.util.Locale.ROOT, "%.3f", Double.box(cachedMb))),
      ("accounting_entries", a.getLong(0).toString),
      ("number_of_reports", a.getLong(4).toString),
      ("first_report", a.getString(1)),
      ("last_report", a.getString(2)),
      ("number_of_companies", a.getLong(3).toString),
    ).toDF("key", "FinLogic Info")
  }

  /** Reference `data.py:98-100` search_segment. */
  def searchSegment(searchValue: String): DataFrame =
    trades.select("segment").distinct()
      .filter(col("segment").rlike(searchValue))
      .orderBy("segment")

  /** Reference `data.py:103-149` search_company: one row per company
    * matching the search, joined with latest-trade info. The universe
    * is the company dimension's identity.
    */
  def searchCompany(searchValue: String, searchBy: String = "name_id"): DataFrame = {
    val universe = companies.select("name_id", "cvm_id", "tax_id")
      .join(trades.hint("shuffle_hash"), Seq("cvm_id"))
    val filtered = searchBy match {
      case "name_id" => universe.filter(col("name_id").rlike(searchValue.toUpperCase))
      case "cvm_id"  => universe.filter(col("cvm_id") === searchValue.trim.toLong)
      case "tax_id"  => universe.filter(col("tax_id") === searchValue)
      case "segment" => universe.filter(col("segment").rlike(searchValue))
      case other => throw new IllegalArgumentException(
        s"Invalid value for 'searchBy' argument: $other")
    }
    filtered.select("name_id", "cvm_id", "tax_id", "segment",
                    "is_restructuring", "most_traded_stock")
  }

  /** Reference `data.py:152-201` rank(): top-n companies by an
    * indicator at each company's latest filing. The latest-filing keys
    * come from the company dimension, so the plan is the dimension
    * joined with trades in its one partition, then with indicators
    * (the small side broadcast) -> TakeOrderedAndProject; the fact
    * table is not read. Note the reference filters
    * is_consolidated AFTER the joins (trap 9) — preserved.
    */
  def rank(segment: Option[String] = None, n: Int = 10,
           rankBy: String = "operating_margin",
           isConsolidated: Boolean = true): DataFrame = {
    val latestFiling = companies.select(col("cvm_id"), col("latest_name_id").as("name_id"),
      col("latest_period_end").as("period_end"),
      col("latest_is_consolidated").as("is_consolidated"))
    val segFilter = segment.map(sv => col("segment").rlike(sv)).getOrElse(lit(true))
    latestFiling
      .join(trades.hint("shuffle_hash"), Seq("cvm_id"))
      .join(indicators.select("cvm_id", rankBy, "is_consolidated", "period_end"),
            Seq("cvm_id", "period_end", "is_consolidated"))
      .filter(segFilter && col("is_consolidated") === isConsolidated)
      .orderBy(col(rankBy).desc, col("cvm_id"))
      .limit(n)
      .select("name_id", "most_traded_stock", "cvm_id", "is_restructuring",
              "is_consolidated", "segment", "period_end", rankBy)
  }

  def company(identifier: Any,
              isConsolidated: Boolean = true,
              accUnit: Any = 1.0,
              taxRate: Double = 0.34,
              language: String = "english"): Company =
    new Company(this, identifier, isConsolidated, accUnit, taxRate, language)

  /** Releases every cache this FinData owns. The frames derived from
    * `financials` go first: uncaching a frame that an unloaded cache
    * still reads would make Spark re-plan that dependent cache. */
  def unpersist(): Unit =
    Seq(indicators, companies, financials, trades, language)
      .foreach(_.unpersist(blocking = false))
}

object FinData {

  /** Reference `data.py:28-67` load(): read the three tables, keep
    * the latest trade per company above min_volume, optionally
    * restrict financials to traded companies (left-semi join — the
    * distributed form of the reference's collected-id is_in), and
    * build indicators. Caching materializes each once.
    */
  def load(spark: SparkSession,
           financialsPath: String, tradesPath: String, languagePath: String,
           isTraded: Boolean = true, minVolume: Double = 100000): FinData =
    build(
      spark.read.schema(Schemas.financials).parquet(financialsPath),
      spark.read.schema(Schemas.trades).parquet(tradesPath),
      spark.read.schema(Schemas.language).parquet(languagePath),
      isTraded, minVolume)

  /** Same pipeline over already-loaded frames (used by tests). */
  def build(financialsRaw: DataFrame, tradesRaw: DataFrame, languageRaw: DataFrame,
            isTraded: Boolean = true, minVolume: Double = 100000): FinData = {
    // Latest trade per company (reference data.py:48-53); ordering
    // made total with volume/stock tie-breaks.
    val trades = Kernels.dedupKeepLast(
      tradesRaw.filter(col("volume") >= minVolume),
      keys = Seq("cvm_id"),
      order = Seq(col("trade_date"), col("volume"), col("most_traded_stock")))
      .coalesce(1).cache()
    val financials = (
      if (isTraded)
        financialsRaw.join(trades.select("cvm_id"), Seq("cvm_id"), "left_semi")
      else financialsRaw).cache()
    val indicators = Indicators.build(financials).cache()
    FinData(financials, trades, languageRaw.cache(), indicators,
      companyDimension(financials).coalesce(1).cache())
  }

  /** One row per company. Every pick is a keep-last under a total
    * order (trap 7), taken as the max of a struct, whose fields
    * compare in order with nulls lowest, as the descending window
    * order of `Kernels.dedupKeepLast` ranks them:
    *  - name_id, tax_id: the search identity, keep-last by
    *    (name_id, tax_id), so a renamed company has one name in search
    *    and Company;
    *  - latest_*: rank's latest filing, keep-last by (period_end,
    *    is_consolidated, name_id), name_id breaking ties between rows
    *    of the same filing;
    *  - entries, first/last_period and reports (distinct
    *    (is_annual, period_end) filings): the facts `info` sums.
    */
  private def companyDimension(financials: DataFrame): DataFrame =
    financials.groupBy("cvm_id").agg(
        max(struct("name_id", "tax_id")).as("identity"),
        max(struct("period_end", "is_consolidated", "name_id")).as("latest"),
        count(lit(1)).as("entries"),
        min("period_end").as("first_period"),
        max("period_end").as("last_period"),
        countDistinct(struct("is_annual", "period_end")).as("reports"))
      .select(col("cvm_id"), col("identity.name_id"), col("identity.tax_id"),
        col("latest.name_id").as("latest_name_id"),
        col("latest.period_end").as("latest_period_end"),
        col("latest.is_consolidated").as("latest_is_consolidated"),
        col("entries"), col("first_period"), col("last_period"), col("reports"))
}

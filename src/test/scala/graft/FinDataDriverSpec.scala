package graft

import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.finlogic.{Company, FinData}

/** FinData serves search, segment search, rank, info and Company's
  * identifier lookup from rows it collects once. This spec holds the
  * Spark plans those calls ran before as oracles and checks that the
  * driver-side answers equal theirs, schemas included, on
  * FinLogicSpec's fixture plus edge rows: null, NaN and -0.0 rank
  * values, a null segment, an annual and an LTM indicator row at one
  * latest filing, a company with no trade, a tax id shared by two
  * companies, a company that files only separate statements and a
  * trade of a company with no filings.
  */
class FinDataDriverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import FinFixture._

  /** The Spark formulations of the five calls, as they were. */
  private object Oracle {
    def searchSegment(d: FinData, searchValue: String): DataFrame =
      d.trades.select("segment").distinct()
        .filter(col("segment").rlike(searchValue))
        .orderBy("segment")

    def searchCompany(d: FinData, searchValue: String, searchBy: String): DataFrame = {
      val universe = d.companies.select("name_id", "cvm_id", "tax_id")
        .join(d.trades.hint("shuffle_hash"), Seq("cvm_id"))
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

    def rank(d: FinData, segment: Option[String], n: Int, rankBy: String,
             isConsolidated: Boolean): DataFrame = {
      val latestFiling = d.companies.select(col("cvm_id"), col("latest_name_id").as("name_id"),
        col("latest_period_end").as("period_end"),
        col("latest_is_consolidated").as("is_consolidated"))
      val segFilter = segment.map(sv => col("segment").rlike(sv)).getOrElse(lit(true))
      latestFiling
        .join(d.trades.hint("shuffle_hash"), Seq("cvm_id"))
        .join(d.indicators.select("cvm_id", rankBy, "is_consolidated", "period_end"),
              Seq("cvm_id", "period_end", "is_consolidated"))
        .filter(segFilter && col("is_consolidated") === isConsolidated)
        .orderBy(col(rankBy).desc, col("cvm_id"))
        .limit(n)
        .select("name_id", "most_traded_stock", "cvm_id", "is_restructuring",
                "is_consolidated", "segment", "period_end", rankBy)
    }

    def info(d: FinData, dataPath: String): DataFrame = {
      val a = d.companies.agg(
        coalesce(sum("entries"), lit(0L)),
        date_format(min("first_period"), "yyyy-MM-dd"),
        date_format(max("last_period"), "yyyy-MM-dd"),
        count("cvm_id"),
        coalesce(sum("reports"), lit(0L))).head()
      val memory = d.info(dataPath).collect().find(_.getString(0) == "memory_usage_mb").get.getString(1)
      Seq(
        ("data_url", dataPath),
        ("memory_usage_mb", memory),
        ("accounting_entries", a.getLong(0).toString),
        ("number_of_reports", a.getLong(4).toString),
        ("first_report", a.getString(1)),
        ("last_report", a.getString(2)),
        ("number_of_companies", a.getLong(3).toString),
      ).toDF("key", "FinLogic Info")
    }

    def lookup(d: FinData, identifier: Any): (Long, String, String) = {
      val byId = identifier match {
        case i: Int => col("cvm_id") === i.toLong
        case l: Long => col("cvm_id") === l
        case s: String => col("tax_id") === s
      }
      val rows = d.companies.filter(byId).select("cvm_id", "tax_id", "name_id")
        .orderBy("cvm_id").limit(1).collect()
      if (rows.isEmpty)
        throw new NoSuchElementException(s"Company 'identifier' $identifier not found.")
      (rows(0).getLong(0), rows(0).getString(1), rows(0).getString(2))
    }
  }

  // ---- edge data -------------------------------------------------
  private def annual(cvm: Long, name: String, tax: String, cons: Boolean = true) =
    Seq("2021-12-31" -> 1.0, "2022-12-31" -> 1.1)
      .flatMap { case (p, f) => rows(cvm, name, tax, cons, true, p, f) }

  private lazy val edgeFinancials: DataFrame = financialsRaw.unionByName(financialsFrame(
    annual(10L, "NULLM SA", "10.000") ++ annual(11L, "NANM SA", "11.000") ++
    annual(12L, "NEGZ SA", "12.000") ++ annual(13L, "POSZ SA", "13.000") ++
    annual(14L, "MINING SA", "14.000") ++
    // DUAL: an annual and a quarterly (LTM) filing at its latest period
    annual(15L, "DUAL SA", "15.000") ++
    Seq("2022-03-31" -> 0.25, "2022-06-30" -> 0.26, "2022-09-30" -> 0.27, "2022-12-31" -> 0.28)
      .flatMap { case (p, f) => rows(15L, "DUAL SA", "15.000", true, false, p, f) } ++
    annual(16L, "TWIN B", "99.999") ++ annual(17L, "TWIN A", "99.999") ++
    annual(18L, "SOLO SA", "18.000", cons = false)))

  private lazy val edgeTrades: DataFrame = tradesRaw.unionByName(tradesFrame(Seq(
    (10L, "2023-06-01", 300000.0, "oil and gas", false, "NULL3"),
    (11L, "2023-06-01", 300000.0, "banking", true, "NANM3"),
    (12L, "2023-06-01", 300000.0, "mining", false, "NEGZ3"),
    (13L, "2023-06-01", 300000.0, "utilities", false, "POSZ3"),
    (15L, "2023-06-01", 300000.0, "banking", false, "DUAL3"),
    (16L, "2023-06-01", 300000.0, "retail", false, "TWNB3"),
    (17L, "2023-06-01", 300000.0, "retail", false, "TWNA3"),
    (18L, "2023-06-01", 300000.0, "utilities", true, "SOLO3"),
    (14L, "2023-06-01", 300000.0, null, false, "MINE3"),
    (19L, "2023-06-01", 300000.0, "shipping", false, "SHIP3"), // no filings
  )))

  /** The edge data's FinData with operating margins overridden at the
    * latest filings: null, NaN, -0.0 and 0.0 (which tie), and a DUAL
    * LTM row that differs from its annual row. */
  private def withEdgeMargins(d: FinData): FinData = {
    val margin = when($"cvm_id" === 10, lit(null).cast("double"))
      .when($"cvm_id" === 11, lit(Double.NaN))
      .when($"cvm_id" === 12, lit(-0.0))
      .when($"cvm_id" === 13, lit(0.0))
      .when($"cvm_id" === 15 && !$"is_annual", lit(0.5))
      .otherwise($"operating_margin")
    d.copy(indicators = d.indicators.withColumn("operating_margin", margin).cache())
  }

  private lazy val traded = withEdgeMargins(FinData.build(edgeFinancials, edgeTrades, languageRaw))
  private lazy val all = withEdgeMargins(
    FinData.build(edgeFinancials, edgeTrades, languageRaw, isTraded = false))
  private lazy val datas = Seq("isTraded" -> traded, "all" -> all)

  private def lines(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private def sameOrdered(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"$what: schema")
    assert(lines(got) == lines(want), what)
  }

  // ---- equivalence -----------------------------------------------
  test("searchCompany equals its Spark plan in every searchBy mode") {
    val cases = Seq(
      "name_id" -> Seq("a", "alpha", "^TWIN", "SA$", "", "[0-9]", "nothing"),
      "cvm_id" -> Seq("1", " 2 ", "3", "14", "19", "999"),
      "tax_id" -> Seq("11.111", "99.999", "33.333", "nope"),
      "segment" -> Seq("an", "^banking$", "", "retail|mining", "nothing"))
    for ((label, d) <- datas; (by, values) <- cases; v <- values) {
      val (got, want) = (d.searchCompany(v, by), Oracle.searchCompany(d, v, by))
      assert(got.schema == want.schema, s"$label $by $v: schema")
      assert(lines(got).sorted == lines(want).sorted, s"$label $by $v")
    }
    intercept[IllegalArgumentException](traded.searchCompany("x", "isin"))
  }

  test("searchSegment equals its Spark plan, in order") {
    for ((label, d) <- datas; v <- Seq("an", "", "^b", "s$", "ing", "nothing"))
      sameOrdered(s"$label $v", d.searchSegment(v), Oracle.searchSegment(d, v))
  }

  test("rank equals its Spark plan, in order, over segments, methods and n") {
    for ((label, d) <- datas; segment <- Seq(None, Some("an"), Some("utilities"));
         cons <- Seq(true, false); n <- Seq(0, 1, 10))
      sameOrdered(s"$label $segment $cons $n", d.rank(segment, n, "operating_margin", cons),
        Oracle.rank(d, segment, n, "operating_margin", cons))
    // other indicators and a case-insensitive name
    for ((label, d) <- datas; by <- Seq("roic", "effective_tax_rate", "OPERATING_MARGIN"))
      sameOrdered(s"$label $by", d.rank(None, 10, by, true), Oracle.rank(d, None, 10, by, true))
    // rankBy names a double indicator: a join key, a flag, a text column
    // or no column is refused at the call
    for (by <- Seq("is_annual", "cvm_id", "period_end", "is_consolidated", "name_id",
                   "no_such_indicator"))
      intercept[IllegalArgumentException](traded.rank(rankBy = by))
  }

  test("info equals its Spark aggregate, on loaded and on empty data") {
    val empty = FinData.build(edgeFinancials.limit(0), edgeTrades, languageRaw)
    for ((label, d) <- datas :+ ("empty" -> empty))
      sameOrdered(label, d.info("path"), Oracle.info(d, "path"))
    val kv = empty.info().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kv("accounting_entries") == "0" && kv("number_of_companies") == "0")
    assert(kv("first_report") == null && kv("last_report") == null)
  }

  test("Company's identifier lookup equals its Spark plan") {
    for ((label, d) <- datas; id <- Seq[Any](1, 2L, 3, 16, 18L, "11.111", "99.999", "33.333")) {
      val want = scala.util.Try(Oracle.lookup(d, id))
      val got = scala.util.Try { val co = new Company(d, id); (co.cvmId, co.taxId, co.nameId) }
      assert(got.toOption == want.toOption, s"$label $id")
      assert(got.isFailure == want.isFailure, s"$label $id")
    }
    assert(new Company(traded, "99.999").cvmId == 16L) // the lowest of the shared tax id
    for (id <- Seq[Any](999, 999L, "nope"))
      intercept[NoSuchElementException](new Company(traded, id))
  }

  test("search and Company's language ignore the JVM's default locale") {
    val default = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      // "mining".toUpperCase is "MİNİNG" under tr-TR, "ENGLISH".toLowerCase "englısh"
      val found = traded.searchCompany("mining").collect().map(_.getAs[Long]("cvm_id"))
      assert(found.toSeq == Seq(14L))
      assert(new Company(traded, 1, languageSpec = "ENGLISH").language == "English")
    } finally Locale.setDefault(default)
  }
}

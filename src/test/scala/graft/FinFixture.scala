package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The hand-computed CVM-shaped fixture of FIXTURES.md §A, shared by
  * the FinLogic specs. */
object FinFixture {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  val Codes: Seq[String] = Seq("1", "1.01", "1.01.01", "1.01.02", "2.01", "2.01.04",
    "2.02.01", "2.03", "3.01", "3.03", "3.05", "3.07", "3.08", "3.11",
    "6.01", "6.01.01.04", "3.99.01.01")
  val Names: Map[String, String] = Map(
    "1" -> "Ativo Total", "1.01" -> "Ativo Circulante",
    "3.01" -> "Receita de Venda").withDefault(c => s"Conta $c")

  // 2020 base values for company ALPHA (consolidated); later years and
  // quarters are scaled multiples so ratios are hand-checkable.
  val Base: Map[String, Double] = Map(
    "1" -> 100e6, "1.01" -> 40e6, "1.01.01" -> 10e6, "1.01.02" -> 5e6,
    "2.01" -> 30e6, "2.01.04" -> 8e6, "2.02.01" -> 12e6, "2.03" -> 50e6,
    "3.01" -> 80e6, "3.03" -> 32e6, "3.05" -> 20e6, "3.07" -> 18e6,
    "3.08" -> -6e6, "3.11" -> 12e6, "6.01" -> 15e6, "6.01.01.04" -> 5e6,
    "3.99.01.01" -> 1.5)

  type Entry = (Long, String, String, String, String, Double, Boolean, Boolean, String, String)

  /** One filing of a company: every code, Base scaled by `factor`. */
  def rows(cvm: Long, name: String, tax: String, cons: Boolean,
           annual: Boolean, period: String, factor: Double): Seq[Entry] =
    Codes.map(c => (cvm, name, tax, c, Names(c), Base(c) * factor,
      annual, cons, period, period))

  /** Financials entries as a frame with date periods. */
  def financialsFrame(entries: Seq[Entry]): DataFrame =
    entries.toDF("cvm_id", "name_id", "tax_id", "acc_code", "acc_name", "acc_value",
        "is_annual", "is_consolidated", "period_begin", "period_end")
      .withColumn("period_begin", to_date($"period_begin"))
      .withColumn("period_end", to_date($"period_end"))

  /** Trade rows (cvm_id, trade_date, volume, segment, is_restructuring,
    * most_traded_stock) as a frame with a date trade_date. */
  def tradesFrame(trades: Seq[(Long, String, Double, String, Boolean, String)]): DataFrame =
    trades.toDF("cvm_id", "trade_date", "volume", "segment", "is_restructuring",
        "most_traded_stock")
      .withColumn("trade_date", to_date($"trade_date"))

  lazy val financialsRaw: DataFrame = {
    val alphaAnnual = Seq("2020-12-31" -> 1.0, "2021-12-31" -> 1.1, "2022-12-31" -> 1.2)
      .flatMap { case (p, f) => rows(1L, "ALPHA", "11.111", true, true, p, f) }
    val alphaQuarterly = Seq("2022-03-31" -> 0.25, "2022-06-30" -> 0.26,
        "2022-09-30" -> 0.27, "2023-03-31" -> 0.30)
      .flatMap { case (p, f) => rows(1L, "ALPHA", "11.111", true, false, p, f) }
    // BETA: tiny company below the 1M cutoff, both accounting methods.
    val beta = Seq(true, false).flatMap(cons =>
      Seq("2021-12-31" -> 0.005, "2022-12-31" -> 0.006)
        .flatMap { case (p, f) => rows(2L, "BETA", "22.222", cons, true, p, f) })
    // GAMMA: untraded company (excluded when isTraded = true).
    val gamma = rows(3L, "GAMMA", "33.333", true, true, "2022-12-31", 1.0)
    // Duplicate filing for ALPHA (cvm,cons,"1",2020): lower value,
    // quarterly -> dedup keeps the annual/higher row.
    val dup = Seq((1L, "ALPHA", "11.111", "1", Names("1"), 99e6, false, true,
      "2020-12-31", "2020-12-31"))
    financialsFrame(alphaAnnual ++ alphaQuarterly ++ beta ++ gamma ++ dup)
  }

  lazy val tradesRaw: DataFrame = tradesFrame(Seq(
    (1L, "2023-01-01", 500000.0, "oil and gas", false, "ALPH3"),
    (1L, "2023-06-01", 900000.0, "oil and gas", false, "ALPH4"), // latest wins
    (2L, "2023-06-01", 200000.0, "banking", true, "BETA3"),
    (4L, "2023-06-01", 50000.0, "mining", false, "DELT3"), // below min volume
  ))

  lazy val languageRaw: DataFrame = Seq(
    ("Ativo Total", "Total Assets"),
    ("Ativo Circulante", "Current Assets"),
    ("Receita de Venda", "Sales Revenue"),
  ).toDF("pt", "en")
}

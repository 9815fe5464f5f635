package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.finlogic.FinData

/** Reference-scale benchmark of the FinLogic-parity pipeline.
  *
  * Synthesizes a CVM-shaped dataset at 2x the reference's published
  * scale — ~1.5M accounting entries (220 companies x 2 accounting
  * methods x 60 periods x 57 codes), 210 traded companies, 2009-2023
  * span (BASELINE.md) — writes it as Parquet, then times the public
  * API end-to-end: load (incl. build_indicators), info, search, rank,
  * Company construction, report, custom_report, indicators. Prints
  * one JSON line. The reference publishes no latency numbers (its
  * contract is "interactive on a laptop"); this pins ours.
  */
object FinBench {

  private def synthesize(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    // 220 companies (210 traded + 10 below min volume / untraded),
    // 57 codes x 2 accounting methods x 60 periods => ~1.5M rows.
    val codes = (Seq("1", "1.01", "1.01.01", "1.01.02", "1.02", "2", "2.01",
      "2.01.04", "2.02", "2.02.01", "2.03", "3.01", "3.03", "3.05", "3.07",
      "3.08", "3.11", "3.99.01.01", "6.01", "6.01.01.04") ++
      (1 to 37).map(i => f"1.02.$i%02d")).zipWithIndex
    val companies = spark.range(220).select(
      col("id").as("cvm_id"),
      concat(lit("COMPANY "), col("id")).as("name_id"),
      format_string("%02d.%03d.%03d/0001-%02d", col("id") % 100, col("id"),
        col("id") * 7 % 1000, col("id") % 100).as("tax_id"))
    val years = spark.range(2009, 2024).select(col("id").as("yr"))
    val periods = years.crossJoin(Seq(true, false).toDF("is_annual"))
      .withColumn("q", when(col("is_annual"), array(lit("12-31")))
        .otherwise(array(lit("03-31"), lit("06-30"), lit("09-30"))))
      .select(col("yr"), col("is_annual"), explode(col("q")).as("md"))
      .withColumn("period_end", to_date(concat(col("yr"), lit("-"), col("md"))))
    val codesDf = codes.map { case (c, i) => (c, i) }.toDF("acc_code", "code_idx")
    val fin = companies
      .crossJoin(Seq(true, false).toDF("is_consolidated"))
      .crossJoin(periods)
      .crossJoin(codesDf)
      .withColumn("acc_name", concat(lit("Conta "), col("acc_code")))
      .withColumn("acc_value",
        (pmod(xxhash64(col("cvm_id"), col("period_end"), col("acc_code"),
          col("is_consolidated")), lit(2000000L)).cast("double") - 1000000.0) * 1000.0)
      .withColumn("period_begin", col("period_end"))
      .select("cvm_id", "name_id", "tax_id", "acc_code", "acc_name", "acc_value",
              "is_annual", "is_consolidated", "period_begin", "period_end")
    fin.write.mode("overwrite").parquet(s"$dir/financials.parquet")
    companies.limit(215).select(
        col("cvm_id"),
        to_date(lit("2023-06-01")).as("trade_date"),
        when(col("cvm_id") < 210, col("cvm_id") * 10000 + 200000.0)
          .otherwise(50000.0).as("volume"),
        concat(lit("segment "), col("cvm_id") % 12).as("segment"),
        (col("cvm_id") % 7 === 0).as("is_restructuring"),
        concat(lit("TICK"), col("cvm_id")).as("most_traded_stock"))
      .write.mode("overwrite").parquet(s"$dir/trades.parquet")
    Seq(("Conta 1", "Total Assets"), ("Conta 3.01", "Revenues"))
      .toDF("pt", "en").write.mode("overwrite").parquet(s"$dir/language.parquet")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val dir = "/tmp/finbench_data"
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    synthesize(spark, dir)
    val nRows = spark.read.parquet(s"$dir/financials.parquet").count()

    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (data, tLoad) = t {
      val d = FinData.load(spark, s"$dir/financials.parquet",
        s"$dir/trades.parquet", s"$dir/language.parquet")
      d.indicators.count() // materialize the cached pipeline
      d.financials.count()
      d.companies.count()
      d
    }
    val (_, tInfo) = t(data.info(dir).collect())
    val (_, tSearch) = t(data.searchCompany("COMPANY 1").collect())
    val (_, tRank) = t(data.rank(rankBy = "roic").collect())
    val ((co), tCompany) = t(data.company(42L, accUnit = "m"))
    val (_, tReport) = t(co.report("balance_sheet", accLevel = 2).collect())
    val (_, tCustom) = t(co.customReport(Seq("1", "3.01", "6.01"), numYears = 5).collect())
    val (_, tInd) = t(co.indicators(numYears = 8).collect())

    println(s"""{"metric":"finlogic_pipeline","rows":$nRows,"companies":210,""" +
      s""""load_and_build_indicators_s":$tLoad,"info_s":$tInfo,""" +
      s""""search_s":$tSearch,"rank_s":$tRank,"company_init_s":$tCompany,""" +
      s""""report_s":$tReport,"custom_report_s":$tCustom,"indicators_s":$tInd}""")
    spark.stop()
  }
}

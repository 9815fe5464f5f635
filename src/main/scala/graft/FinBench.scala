package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import graft.finlogic.{Company, FinData}

/** Reference-scale benchmark of the FinLogic-parity pipeline.
  *
  * Synthesizes a CVM-shaped dataset at 2x the reference's published
  * scale — ~1.5M accounting entries (220 companies x 2 accounting
  * methods x 60 periods x 57 codes), 210 traded companies, 2009-2023
  * span (BASELINE.md) — writes it as Parquet to a temp directory
  * removed at exit, then times the public API end-to-end: load (incl.
  * build_indicators), info, search, rank, Company construction,
  * report, custom_report, indicators. Prints one JSON line: `<call>_s`
  * is the call's cold first use in the JVM, `<call>_warm_s` the median
  * of 5 repeats with the same arguments (`company_next_warm_s`: of
  * construction plus `indicators(8)` for 5 different companies), and
  * `<phase>_compiles` / `<phase>_compile_ms` the generated classes a
  * cold phase compiled
  * (`<call>_warm_compiles` / `_warm_compile_ms`: summed over the 5
  * repeats). The reference publishes no latency numbers (its contract
  * is "interactive on a laptop"); this pins ours.
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

  /** One timed phase: wall seconds and the generated classes it
    * compiled (count and Janino time). */
  private final case class Phase(s: Double, compiles: Long, compileMs: Double)

  private def phase[A](f: => A): (A, Phase) = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val (c0, ns0) = (compiles.getCount, CodeGenerator.compileTime)
    val t0 = System.nanoTime(); val r = f
    val s = (System.nanoTime() - t0) / 1e9
    (r, Phase(s, compiles.getCount - c0, (CodeGenerator.compileTime - ns0) / 1e6))
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val dir = graft.ops.Scratch.dir("finbench")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    synthesize(spark, dir)
    val nRows = spark.read.parquet(s"$dir/financials.parquet").count()

    val (data, load) = phase {
      val d = FinData.load(spark, s"$dir/financials.parquet",
        s"$dir/trades.parquet", s"$dir/language.parquet")
      d.indicators.count() // materialize the cached pipeline
      d.financials.count()
      d.companies.count()
      d
    }
    var co: Company = null
    val calls: Seq[(String, () => Any)] = Seq(
      "info" -> (() => data.info(dir).collect()),
      "search" -> (() => data.searchCompany("COMPANY 1").collect()),
      "rank" -> (() => data.rank(rankBy = "roic").collect()),
      "company_init" -> (() => co = data.company(42L, accUnit = "m")),
      "report" -> (() => co.report("balance_sheet", accLevel = 2).collect()),
      "custom_report" -> (() => co.customReport(Seq("1", "3.01", "6.01"), numYears = 5).collect()),
      "indicators" -> (() => co.indicators(numYears = 8).collect()))
    // Cold: each call's first use in this JVM. Warm: the median of 5
    // repeats with the same arguments, as in an analyst's later calls.
    // company_next repeats with a new company each time: construction
    // plus its first indicators, whose classes and rows a same-company
    // repeat finds cached.
    val cold = calls.map { case (name, f) => name -> phase(f())._2 }
    def median(reps: Seq[Phase]): Phase =
      Phase(reps.map(_.s).sorted.apply(reps.size / 2), reps.map(_.compiles).sum,
        reps.map(_.compileMs).sum)
    val warm = calls.map { case (name, f) => name -> median(Seq.fill(5)(phase(f())._2)) } :+
      ("company_next" -> median((43L to 47L).map(id =>
        phase(data.company(id, accUnit = "m").indicators(numYears = 8).collect())._2)))

    val phases = ("load_and_build_indicators" -> load) +: cold
    val fields = Seq("\"metric\":\"finlogic_pipeline\"", s"\"rows\":$nRows", "\"companies\":210") ++
      phases.map { case (n, p) => s"\"${n}_s\":${p.s}" } ++
      warm.map { case (n, p) => s"\"${n}_warm_s\":${p.s}" } ++
      phases.flatMap { case (n, p) =>
        Seq(s"\"${n}_compiles\":${p.compiles}", f"\"${n}_compile_ms\":${p.compileMs}%.1f") } ++
      warm.flatMap { case (n, p) =>
        Seq(s"\"${n}_warm_compiles\":${p.compiles}", f"\"${n}_warm_compile_ms\":${p.compileMs}%.1f") }
    println(fields.mkString("{", ",", "}"))
    spark.stop()
  }
}

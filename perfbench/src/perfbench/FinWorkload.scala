package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.finlogic.{Company, FinData}

/** The paper's own use: an analyst's interactive FinLogic session over
  * a loaded, cached CVM-shaped dataset.
  *
  * Set-up writes a seeded dataset at the reference's published scale
  * (220 companies, 2 accounting methods, 60 periods, 28 account codes:
  * about 740k entries), loads it with `FinData.load`, materializes the
  * caches and runs one untimed warm-up session. A timed op is one
  * session: searchCompany -> rank -> company -> report -> customReport
  * -> indicators -> info -> searchSegment, every result collected.
  * The seed picks each call's
  * arguments but not the shape of its plan (rank always filters by the
  * picked company's segment, report always cuts by account level, five
  * years everywhere), so sessions cost alike and runs with different
  * seeds time comparable work. The output check compares each session's
  * info, searchCompany and rank answers with DuckDB; a call repeated
  * with the same arguments must return its first answer.
  */
final class FinWorkload(spark: SparkSession, spans: Spans, seed: Long, dir: String)
    extends Workload {
  import FinWorkload._

  private var data: FinData = _
  private val timings = mutable.LinkedHashMap[String, Double]()
  // the answers the output check compares, from each session's first run
  private val checked = mutable.LinkedHashMap[Int, Map[String, Any]]()
  // first answer per call signature
  private val firstAnswer = mutable.Map[String, Seq[String]]()
  private val warmUpErrors = mutable.LinkedHashMap[String, String]()

  private def timed[T](key: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    timings(key) = (System.nanoTime() - t0) / 1e9
    r
  }

  def cycle: Int = 1

  /** One session per 10 seconds, about one warm session. */
  def passes(seconds: Double): Int = math.max(1L, math.round(seconds / 10.0)).toInt

  def setup(run: Runner): Unit = {
    timed("generate_s")(generate())
    data = timed("load_s") {
      val d = FinData.load(spark, s"$dir/financials.parquet", s"$dir/trades.parquet",
        s"$dir/language.parquet")
      d.financials.count(); d.trades.count(); d.language.count()
      d
    }
    timed("indicators_s")(data.indicators.count())
    // Untimed warm-up sessions with indices below the timed range: the
    // first session in a JVM pays its JIT and first code generation.
    for (i <- -WarmUpSessions until 0) {
      val (_, _, err) = run(session(i))
      err.foreach(warmUpErrors(s"session$i") = _)
    }
  }

  def op(i: Int): Op = session(i)

  /** Session `i`; its arguments come from (seed, i) alone, so running
    * the op again repeats the same calls. */
  private def session(i: Int): Op = {
    var company: Company = null
    val answers = mutable.ArrayBuffer[(String, Seq[String])]()
    def call(id: Int, kind: String, sig: String)(build: => DataFrame): Array[Row] =
      spans(id, kind) {
        val df = spans(id, "build")(build)
        val rows = spans(id, "exec")(df.collect())
        answers += sig -> rows.map(_.toString).toSeq.sorted
        rows
      }
    Op(s"session$i",
      id => {
        answers.clear()
        val r = new Random(seed * 1000003L + i)
        val term = Words(r.nextInt(Words.size))
        val found = call(id, "search_company", s"searchCompany($term)")(data.searchCompany(term))
          .sortBy(_.getAs[Long]("cvm_id"))
        val row = found(r.nextInt(found.length))
        val (cvm, segment) = (row.getAs[Long]("cvm_id"), row.getAs[String]("segment"))
        val rankBy = RankBy(r.nextInt(RankBy.size))
        val ranked = call(id, "rank", s"rank($segment,$rankBy)")(
          data.rank(segment = Some(segment), rankBy = rankBy))
        val cons = r.nextBoolean()
        val unit = Seq("t", "m", "b")(r.nextInt(3))
        company = spans(id, "company")(spans(id, "build")(data.company(cvm, cons, unit)))
        val (rtype, minLevel) = ReportLevels(r.nextInt(ReportLevels.size))
        val level = minLevel + r.nextInt(5 - minLevel)
        call(id, "report", s"report($cvm,$cons,$unit,$rtype,$level)")(
          company.report(rtype, level, numYears = 5))
        val accounts = r.shuffle(Codes).take(4)
        call(id, "custom_report", s"customReport($cvm,$cons,$unit,$accounts)")(
          company.customReport(accounts, numYears = 5))
        call(id, "indicators", s"indicators($cvm,$cons,$unit)")(company.indicators(numYears = 5))
        val info = call(id, "info", "info")(data.info(dir))
        val segWord = Segments(r.nextInt(Segments.size)).split(" ")(0)
        call(id, "search_segment", s"searchSegment($segWord)")(data.searchSegment(segWord))
        if (!checked.contains(i)) checked(i) = Map(
          "term" -> term, "search" -> found.map(cells), "segment" -> segment,
          "rank_by" -> rankBy, "rank" -> ranked.map(cells), "info" -> info.map(cells))
      },
      _ => {
        if (company != null) company.df.unpersist(blocking = false)
        for ((sig, rows) <- answers) {
          val first = firstAnswer.getOrElseUpdate(sig, rows)
          if (first != rows) throw new IllegalStateException(
            s"$sig returned ${rows.size} rows that differ from its first answer (${first.size} rows)")
        }
      })
  }

  /** Writes financials, trades and language Parquet for this seed. */
  private def generate(): Unit = {
    def h(cs: Column*): Column = xxhash64(lit(seed) +: cs: _*)
    def pick(xs: Seq[String], salt: Int): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(col("cvm_id"), lit(salt)), lit(xs.size.toLong)) + 1).cast("int"))
    val companies = spark.range(NCompanies).select(col("id").as("cvm_id"))
      .select(col("cvm_id"),
        // every word names some companies, so every search term finds one
        concat_ws(" ", element_at(array(Words.map(lit): _*), (col("cvm_id") % Words.size + 1).cast("int")),
          pick(Places, 2), col("cvm_id").cast("string"), lit("SA"))
          .as("name_id"),
        format_string("%02d.%03d.%03d/0001-%02d", col("cvm_id") % 100, col("cvm_id"),
          pmod(h(col("cvm_id"), lit(3)), lit(1000L)), col("cvm_id") % 97).as("tax_id"),
        pick(Segments, 4).as("segment"),
        // about a quarter of the companies have not yet filed the last annual report
        (pmod(h(col("cvm_id"), lit(5)), lit(4L)) === 0).as("no_last_annual"))
    val periods = spark.range(2009, 2024).select(col("id").cast("int").as("yr"))
      .crossJoin(spark.createDataFrame(Seq(("03-31", false), ("06-30", false),
        ("09-30", false), ("12-31", true))).toDF("md", "is_annual"))
      .select(col("is_annual"), to_date(concat_ws("-", col("yr").cast("string"), col("md"))).as("period_end"))
    val codes = spark.createDataFrame(Codes.map(Tuple1(_))).toDF("acc_code")
    val cons = spark.range(2).select((col("id") === 1).as("is_consolidated"))
    companies.crossJoin(cons).crossJoin(periods).crossJoin(codes)
      .filter(!(col("no_last_annual") && col("period_end") === lit(java.sql.Date.valueOf("2023-12-31"))))
      .select(col("cvm_id"), col("name_id"), col("tax_id"), col("acc_code"),
        concat(lit("Conta "), col("acc_code")).as("acc_name"),
        (pmod(h(col("cvm_id"), col("period_end"), col("acc_code"), col("is_consolidated")),
          lit(2000000L)).cast("double") * 1000.0 - 5.0e8).as("acc_value"),
        col("is_annual"), col("is_consolidated"),
        date_sub(col("period_end"), 90).as("period_begin"), col("period_end"))
      .write.mode("overwrite").parquet(s"$dir/financials.parquet")
    // two trade rows per company; about one in 22 trades below the
    // load's minimum volume on both dates
    companies.crossJoin(spark.range(2).select(col("id").as("d")))
      .select(col("cvm_id"),
        when(col("d") === 0, lit(java.sql.Date.valueOf("2022-06-01")))
          .otherwise(lit(java.sql.Date.valueOf("2023-06-01"))).as("trade_date"),
        when(pmod(h(col("cvm_id"), lit(6)), lit(22L)) === 0, lit(50000.0))
          .otherwise(pmod(h(col("cvm_id"), col("d")), lit(10000000L)).cast("double") + 100000.0)
          .as("volume"),
        col("segment"),
        (pmod(h(col("cvm_id"), lit(7)), lit(7L)) === 0).as("is_restructuring"),
        concat(substring(col("name_id"), 1, 4), (col("d") + 3).cast("string")).as("most_traded_stock"))
      .write.mode("overwrite").parquet(s"$dir/trades.parquet")
    spark.createDataFrame(Seq(("Conta 1", "Total Assets"), ("Conta 2", "Total Liabilities"),
        ("Conta 3.01", "Revenues"), ("Conta 3.11", "Net Income"), ("Conta 6.01", "Operating Cash Flow")))
      .toDF("pt", "en").write.mode("overwrite").parquet(s"$dir/language.parquet")
  }

  def report: Map[String, Any] = Map(
    "fin_dir" -> dir,
    "fin_setup" -> timings.toMap,
    "setup_errors" -> warmUpErrors.toMap,
    "fin_sessions" -> checked.values.toSeq)
}

object FinWorkload {
  val WarmUpSessions = 1
  val NCompanies = 220L
  val Codes: Seq[String] = Seq("1", "1.01", "1.01.01", "1.01.02", "1.02", "2", "2.01",
    "2.01.04", "2.02", "2.02.01", "2.03", "3.01", "3.03", "3.05", "3.07", "3.08", "3.11",
    "3.99.01.01", "6.01", "6.01.01.04") ++ (1 to 8).map(i => f"1.02.$i%02d")
  val Words: Seq[String] = Seq("ENERGIA", "PETRO", "BANCO", "AGRO", "VALE", "SIDER", "TELE",
    "LOGISTICA", "ALIMENTOS", "SEGUROS", "PAPEL", "TEXTIL", "VAREJO", "SAUDE", "MINAS",
    "QUIMICA", "CONSTRUTORA", "FERROVIAS", "SANEAMENTO", "GAS")
  val Places: Seq[String] = Seq("BRASIL", "NORDESTE", "SUL", "PAULISTA", "NACIONAL", "UNIAO",
    "GLOBAL", "CENTRAL", "LESTE", "NORTE", "MINEIRA")
  val Segments: Seq[String] = Seq("Energia Eletrica", "Petroleo e Gas", "Bancos", "Agricultura",
    "Mineracao", "Siderurgia", "Telecomunicacoes", "Transporte", "Alimentos", "Seguradoras",
    "Papel e Celulose", "Varejo")
  /** Rank indicators: the margins, which the output check recomputes
    * in SQL from one filing's accounts. */
  val RankBy: Seq[String] = Seq("gross_margin", "ebitda_margin", "operating_margin", "net_margin")
  /** Report types, each with the lowest account level (dots in a code,
    * plus one) at which it has rows in the generated data. A report cut
    * below that level is empty, and took 0.2 s against 0.4-3 s for one
    * with rows, so sessions would differ in cost by the level drawn. */
  val ReportLevels: Seq[(String, Int)] = Seq("balance_sheet" -> 1, "assets" -> 1, "cash" -> 3,
    "current_assets" -> 2, "non_current_assets" -> 2, "liabilities" -> 2, "debt" -> 3,
    "current_liabilities" -> 2, "non_current_liabilities" -> 2, "liabilities_and_equity" -> 1,
    "equity" -> 2, "income_statement" -> 2, "earnings_per_share" -> 4, "cash_flow" -> 2)

  /** A row as JSON-ready cells: dates as ISO strings. */
  def cells(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case x => x
  }
}

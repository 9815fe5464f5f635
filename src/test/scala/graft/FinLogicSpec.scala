package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.finlogic.{Company, FinData, Indicators}

/** Reference-parity tests on a hand-computed CVM-shaped fixture
  * (FIXTURES.md §A), replicating the correctness-trap list in
  * SURVEY.md §2.10: EPS unit exemption, LTM labeling, lag fallback
  * order, margin cutoffs, tax-rate constant, translation fallback,
  * zero-fill.
  */
class FinLogicSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  import FinFixture._

  private lazy val data: FinData = FinData.build(financialsRaw, tradesRaw, languageRaw)

  private def ind(cvm: Long, annual: Boolean, period: String): Map[String, Double] = {
    val r = data.indicators.filter($"cvm_id" === cvm && $"is_annual" === annual &&
      $"is_consolidated" === true &&
      date_format($"period_end", "yyyy-MM-dd") === period).head()
    r.schema.fieldNames.zipWithIndex.collect {
      case (n, i) if r.schema(i).dataType.typeName == "double" => n -> r.getDouble(i)
    }.toMap
  }

  // ---- load ------------------------------------------------------
  test("load: latest trade per company, min-volume filter, semi-join") {
    assert(data.trades.count() == 2) // cvm 4 below volume, cvm 1 deduped
    assert(data.trades.filter($"cvm_id" === 1).head().getAs[String]("most_traded_stock") == "ALPH4")
    // GAMMA (cvm 3) not traded -> excluded from financials
    assert(data.financials.filter($"cvm_id" === 3).count() == 0)
    assert(data.financials.select("cvm_id").distinct().count() == 2)
  }

  test("load with isTraded=false keeps all companies") {
    val all = FinData.build(financialsRaw, tradesRaw, languageRaw, isTraded = false)
    assert(all.financials.select("cvm_id").distinct().count() == 3)
  }

  // ---- indicators ------------------------------------------------
  test("indicators: dedup keeps the annual filing on duplicate keys") {
    val m = ind(1L, annual = true, "2020-12-31")
    assert(m("total_assets") == 100e6) // not the 99e6 duplicate
  }

  test("indicators: derived columns and 2021 golden ratios") {
    val m = ind(1L, annual = true, "2021-12-31")
    assert(math.abs(m("total_cash") - 16.5e6) < 1)
    assert(math.abs(m("total_debt") - 22e6) < 1)
    assert(math.abs(m("working_capital") - 11e6) < 1)
    assert(math.abs(m("ebitda") - 27.5e6) < 1)
    assert(math.abs(m("invested_capital") - 60.5e6) < 1)
    assert(math.abs(m("net_debt") - 5.5e6) < 1)
    assert(math.abs(m("effective_tax_rate") - 1.0 / 3.0) < 1e-9)
    assert(math.abs(m("gross_margin") - 0.4) < 1e-9)
    assert(math.abs(m("operating_margin") - 0.25) < 1e-9)
    assert(math.abs(m("net_margin") - 0.15) < 1e-9)
    assert(math.abs(m("ebitda_margin") - 0.3125) < 1e-9)
    // ROA/ROE/ROIC use ebit*(1-0.34) over trailing averages (trap 6)
    assert(math.abs(m("return_on_assets") - 22e6 * 0.66 / 105e6) < 1e-9)
    assert(math.abs(m("return_on_equity") - 22e6 * 0.66 / 52.5e6) < 1e-9)
    assert(math.abs(m("roic") - 22e6 * 0.66 / 57.75e6) < 1e-9)
  }

  test("indicators: first year trailing average falls back to self") {
    val m = ind(1L, annual = true, "2020-12-31")
    assert(math.abs(m("return_on_assets") - 20e6 * 0.66 / 100e6) < 1e-9)
  }

  test("indicators: quarterly keeps only the LTM row with lag-1 fallback") {
    val q = data.indicators.filter($"cvm_id" === 1 && !$"is_annual")
    assert(q.count() == 1) // only the 2023-03-31 LTM snapshot
    val m = ind(1L, annual = false, "2023-03-31")
    // avg_total_assets = (0.30 + 0.27)/2 * 100e6 = 28.5e6 (lag-4 null -> lag-1)
    assert(math.abs(m("return_on_assets") - (0.30 * 20e6) * 0.66 / 28.5e6) < 1e-9)
    assert(math.abs(m("operating_margin") - 0.25) < 1e-9) // ratios scale-invariant
  }

  test("indicators: zero-filled missing accounts give IEEE NaN/Inf tax rate, not an ANSI error") {
    // A company reporting only total assets: ebt pivots to 0 ->
    // effective_tax_rate = -0/0 = NaN (reference Polars semantics).
    val sparse = financialsFrame(Seq((7L, "SPARSE", "77", "1", "Ativo", 5e6, true, true,
        "2022-12-31", "2022-12-31")))
    val out = Indicators.build(sparse).head()
    assert(out.getAs[Double]("effective_tax_rate").isNaN)
  }

  test("indicators: margins zeroed below the 1M revenue cutoff (trap 4)") {
    val m = ind(2L, annual = true, "2022-12-31")
    assert(m("revenues") == 0.006 * 80e6) // 480k < 1M
    assert(m("gross_margin") == 0.0)
    assert(m("operating_margin") == 0.0)
    assert(m("return_on_assets") == 0.0) // avg assets 590k < 1M
  }

  // ---- search / rank / info --------------------------------------
  test("searchCompany by name is case-insensitive on the search term") {
    val out = data.searchCompany("alpha").collect()
    assert(out.length == 1 && out(0).getLong(1) == 1L)
    assert(out(0).getAs[String]("most_traded_stock") == "ALPH4")
  }

  test("searchCompany by cvm_id and segment") {
    assert(data.searchCompany("2", "cvm_id").count() == 1)
    assert(data.searchCompany("oil", "segment").count() == 1)
  }

  test("searchSegment") {
    val segs = data.searchSegment("bank").collect().map(_.getString(0))
    assert(segs.toSeq == Seq("banking"))
    // regex-contains semantics: "an" matches both segments
    assert(data.searchSegment("an").count() == 2)
  }

  test("rank by operating_margin at latest filing") {
    val out = data.rank(rankBy = "operating_margin").collect()
    assert(out.map(_.getAs[String]("name_id")).toSeq == Seq("ALPHA", "BETA"))
    assert(math.abs(out(0).getAs[Double]("operating_margin") - 0.25) < 1e-9)
    assert(out(1).getAs[Double]("operating_margin") == 0.0)
    // ALPHA's latest filing is the quarterly LTM period
    assert(out(0).getAs[Any]("period_end").toString == "2023-03-31")
  }

  test("info counts") {
    val kv = data.info("path").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kv("number_of_companies") == "2")
    assert(kv("first_report") == "2020-12-31")
    assert(kv("last_report") == "2023-03-31")
    // the reference reports resident MB (data.py:81,86); the Spark
    // analog is persisted storage, materialized by the time the row
    // is built — must exist and be positive
    assert(kv.contains("memory_usage_mb"))
    assert(kv("memory_usage_mb").toDouble > 0.0,
      s"cached frames must report positive storage, got ${kv("memory_usage_mb")}")
  }

  // ---- Company ---------------------------------------------------
  lazy val alpha = new Company(data, 1, accUnitSpec = "m")

  test("Company resolves identifier by cvm id and tax id; unknown raises") {
    assert(alpha.nameId == "ALPHA" && alpha.taxId == "11.111")
    val byTax = new Company(data, "22.222")
    assert(byTax.cvmId == 2L)
    intercept[NoSuchElementException] { new Company(data, 999) }
  }

  test("Company period attributes and LTM detection") {
    assert(alpha.firstPeriod.contains("2020-12-31"))
    assert(alpha.lastPeriod.contains("2023-03-31"))
    assert(alpha.lastAnnual.contains("2022-12-31"))
    assert(alpha.lastPeriodType == "quarterly")
    assert(alpha.lastQuarterly.contains("2023-03-31"))
  }

  test("report: unit scaling, EPS exemption, LTM label, zero-fill") {
    val rep = alpha.report("assets")
    val cols = rep.columns.toSeq
    assert(cols.contains("2023-03-31 ltm")) // trap 2
    val total = rep.filter($"acc_code" === "1").head()
    assert(total.getAs[Double]("2020-12-31") == 100.0) // scaled by 1e6
    assert(total.getAs[Double]("2023-03-31 ltm") == 30.0)
    // stale quarters dropped: 2022-03-31 (not last) must be absent
    assert(!cols.contains("2022-03-31"))
    // EPS exempt from unit scaling (trap 1)
    val eps = alpha.report("earnings_per_share").filter($"acc_code" === "3.99.01.01").head()
    assert(eps.getAs[Double]("2021-12-31") == 1.5 * 1.1)
  }

  test("report: English translation with (pt) fallback (trap 8)") {
    val rep = alpha.report("assets")
    val names = rep.select("acc_code", "acc_name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(names("1") == "Total Assets")
    assert(names("1.01") == "Current Assets")
    assert(names("1.01.01") == "(pt) Conta 1.01.01")
    val pt = new Company(data, 1, languageSpec = "portuguese").report("assets")
    assert(pt.filter($"acc_code" === "1").head().getAs[String]("acc_name") == "Ativo Total")
  }

  test("report: acc_level depth filter (P9) and num_years slice") {
    val lvl2 = alpha.report("balance_sheet", accLevel = 2)
    val codes = lvl2.select("acc_code").collect().map(_.getString(0))
    assert(codes.forall(_.count(_ == '.') <= 1))
    val sliced = alpha.report("assets", numYears = 2)
    val periodCols = sliced.columns.filterNot(Seq("acc_code", "acc_name").contains)
    assert(periodCols.toSeq == Seq("2022-12-31", "2023-03-31 ltm"))
  }

  test("custom_report unions statements and filters codes") {
    val rep = alpha.customReport(Seq("1", "3.01", "6.01"))
    assert(rep.count() == 3)
  }

  test("company grids keep Spark's null/NaN/duplicate semantics") {
    // OMEGA: a NaN and a null value, a null name, an annual and a
    // quarterly row at one period, two annual rows that differ in value.
    val omega = Seq[(String, String, Option[Double], Boolean, String)](
      ("1", "Ativo Total", Some(100.0), true, "2021-12-31"),
      ("1", "Ativo Total", Some(120.0), true, "2022-12-31"),
      ("1", "Ativo Total", Some(999.0), false, "2022-12-31"), // the annual row wins
      ("1.01", "Ativo Circulante", Some(Double.NaN), true, "2021-12-31"),
      ("1.01", null, Some(40.0), true, "2022-12-31"), // the latest name is null
      ("2.03", "Patrimonio", None, true, "2021-12-31"),
      ("2.03", "Patrimonio", Some(50.0), true, "2022-12-31"),
      ("2.03", "Patrimonio", Some(70.0), true, "2022-12-31"), // the greater value wins
      ("3.01", "Receita de Venda", Some(80.0), true, "2022-12-31"),
      ("3.01", "Receita de Venda", Some(Double.NaN), true, "2022-12-31"), // NaN ranks highest
      ("6.01", "Caixa Operacional", Some(15.0), false, "2022-12-31"))
      .map { case (code, name, v, annual, p) => (8L, "OMEGA", "88.888", code, name, v, annual, true, p, p) }
      .toDF("cvm_id", "name_id", "tax_id", "acc_code", "acc_name", "acc_value",
            "is_annual", "is_consolidated", "period_begin", "period_end")
      .withColumn("period_begin", to_date($"period_begin"))
      .withColumn("period_end", to_date($"period_end"))
    val trades = tradesFrame(Seq((8L, "2023-06-01", 300000.0, "energy", false, "OMG3")))
    val co = new Company(FinData.build(omega, trades, languageRaw), 8L)
    def grid(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq
    val periods = Seq("2021-12-31", "2022-12-31")

    val bs = co.report("balance_sheet")
    assert(bs.columns.toSeq == Seq("acc_code", "acc_name") ++ periods)
    // na.fill turns both NaN and null into 0.0
    assert(grid(bs) == Seq(
      Seq("1", "Total Assets", 100.0, 120.0),
      Seq("1.01", null, 0.0, 40.0),
      Seq("2.03", "(pt) Patrimonio", 0.0, 70.0)))
    assert(grid(co.report("income_statement")) == Seq(Seq("3.01", "Sales Revenue", 0.0)))

    val custom = co.customReport(Seq("1.01", "3.01", "6.01"))
    assert(custom.columns.toSeq == Seq("acc_code", "acc_name") ++ periods)
    assert(grid(custom) == Seq(
      Seq("1.01", null, 0.0, 40.0),
      Seq("3.01", "Sales Revenue", 0.0, 0.0),
      Seq("6.01", "(pt) Caixa Operacional", 0.0, 15.0)))

    val ind = co.indicators()
    assert(ind.columns.toSeq == "indicator" +: periods)
    val cells = grid(ind).map(r => r.head -> r.tail).toMap
    // the annual 2022 row wins over the quarterly one (operating cash 15)
    assert(cells("total_assets") == Seq(100.0, 120.0))
    assert(cells("operating_cash_flow") == Seq(0.0, 0.0))
    assert(cells("equity") == Seq(0.0, 70.0))
    // no fill: the 0/0 tax rate stays NaN
    assert(cells("effective_tax_rate").forall(_.asInstanceOf[Double].isNaN))
  }

  test("Company.indicators: wide format in display order, unit-scaled") {
    val df = alpha.indicators()
    val inds = df.select("indicator").collect().map(_.getString(0)).toSeq
    assert(inds == Indicators.IndicatorOrder)
    val rev = df.filter($"indicator" === "revenues").head()
    assert(math.abs(rev.getAs[Double]("2021-12-31") - 88.0) < 1e-9) // scaled by 1e6
    val eps = df.filter($"indicator" === "eps").head()
    assert(math.abs(eps.getAs[Double]("2021-12-31") - 1.65) < 1e-9) // not scaled
    val roic = df.filter($"indicator" === "roic").head()
    assert(math.abs(roic.getAs[Double]("2021-12-31") - 22e6 * 0.66 / 57.75e6) < 1e-9)
  }

  test("Company.info") {
    val kv = alpha.info().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kv("Name") == "ALPHA")
    assert(kv("Selected Accounting Unit") == "1000000.0")
    assert(kv("Last Report") == "2023-03-31")
  }

  test("Company with an empty accounting slice degrades gracefully") {
    // GAMMA exists only consolidated; the separate slice is empty
    // (reference prints a message and returns None from info()).
    val all = FinData.build(financialsRaw, tradesRaw, languageRaw, isTraded = false)
    val co = new Company(all, 3, isConsolidated = false)
    assert(co.accountingRows == 0L)
    assert(co.firstPeriod.isEmpty && co.lastPeriod.isEmpty)
    assert(co.report("assets").count() == 0)
    assert(co.indicators().count() == 0)
    assert(co.info().count() == 9) // info still renders attributes
  }

  test("invalid arguments raise") {
    intercept[IllegalArgumentException] { new Company(data, 1, accUnitSpec = "x") }
    intercept[IllegalArgumentException] { new Company(data, 1, languageSpec = "latin") }
    intercept[IllegalArgumentException] { new Company(data, 1, taxRate = 1.5) }
    intercept[IllegalArgumentException] { alpha.report("nope") }
  }

  // ---- reconfiguration surface (reference company.py:94-246) ------

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.columns.toSeq == b.columns.toSeq &&
      a.collect().map(_.toString).sorted.toSeq ==
        b.collect().map(_.toString).sorted.toSeq

  test("withUnit re-derives state identical to a fresh Company") {
    val re = alpha.withUnit("t")
    val fresh = new Company(data, 1, accUnitSpec = "t")
    assert(re.accUnit == 1000.0)
    assert(same(re.report("assets"), fresh.report("assets")))
    assert(same(re.indicators(), fresh.indicators()))
    // and the original is untouched (immutability)
    assert(alpha.accUnit == 1e6)
  }

  test("withConsolidated re-derives the slice like a fresh Company") {
    val all = FinData.build(financialsRaw, tradesRaw, languageRaw, isTraded = false)
    val cons = new Company(all, 2)
    val re = cons.withConsolidated(false)
    val fresh = new Company(all, 2, isConsolidated = false)
    assert(re.accountingRows == fresh.accountingRows)
    assert(same(re.report("assets"), fresh.report("assets")))
  }

  test("withIdentifier re-resolves; unknown still raises") {
    val re = alpha.withIdentifier("22.222")
    assert(re.cvmId == 2L && re.nameId == "BETA")
    // settings carry over across the re-resolution (reference keeps them)
    assert(re.accUnit == 1e6)
    intercept[NoSuchElementException] { alpha.withIdentifier(999) }
  }

  test("FinLogic module facade mirrors the reference's public surface 1:1") {
    import graft.finlogic.FinLogic
    intercept[IllegalStateException] { FinLogic.info() } // unloaded state
    val dir = java.nio.file.Files.createTempDirectory("finlogic").toString
    financialsRaw.write.mode("overwrite").parquet(s"$dir/fin")
    tradesRaw.write.mode("overwrite").parquet(s"$dir/trades")
    languageRaw.write.mode("overwrite").parquet(s"$dir/lang")
    FinLogic.load(spark, s"$dir/fin", s"$dir/trades", s"$dir/lang")
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq
    assert(rows(FinLogic.searchCompany("ALPHA")) == rows(data.searchCompany("ALPHA")))
    assert(rows(FinLogic.searchSegment("oil")) == rows(data.searchSegment("oil")))
    assert(rows(FinLogic.rank()) == rows(data.rank()))
    assert(FinLogic.info().count() == 7)
    val viaFacade = FinLogic.company(1, accUnit = "m").report("assets")
    assert(rows(viaFacade.orderBy("acc_code")) ==
      rows(alpha.report("assets").orderBy("acc_code")))
    FinLogic.unload()
    intercept[IllegalStateException] { FinLogic.searchSegment("x") }
  }

  // ---- execution shape -------------------------------------------

  /** The cache a frame reads when it is itself a cached frame. */
  private def cacheOf(df: DataFrame): InMemoryRelation =
    df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
      .getOrElse(fail(s"not a cached frame:\n${df.queryExecution.withCachedData}"))

  /** The executed plan, query stages included, of a collected frame. */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def scans(plan: SparkPlan, cache: InMemoryRelation): Seq[InMemoryTableScanExec] =
    collect(plan) { case s: InMemoryTableScanExec if s.relation.cachedPlan eq cache.cachedPlan => s }

  /** One session's API calls, each with its expected jobs per warm call.
    * "company" constructs a company (BETA), which collects its slice. */
  private def sessionCalls(): Seq[(String, () => Unit, Int)] = {
    val co = new Company(data, 1, accUnitSpec = "m")
    Seq(
      ("searchCompany", () => data.searchCompany("alpha").collect(), 0),
      ("searchSegment", () => data.searchSegment("an").collect(), 0),
      ("rank", () => data.rank().collect(), 0),
      ("company", () => new Company(data, 2), 1),
      ("report", () => co.report("assets").collect(), 0),
      ("customReport", () => co.customReport(Seq("1", "3.01", "6.01")).collect(), 0),
      ("indicators", () => co.indicators().collect(), 0),
      ("info", () => data.info("path").collect(), 0))
  }

  test("API calls: scheduler jobs per call stay pinned (table over every call)") {
    // One row per API call: the listener-counted jobs of one call,
    // build included, on the spec fixture at the session's own settings
    // (AQE on, 4 shuffle partitions). Every call runs once first, so the
    // rows count a warm session's calls, after FinData's caches, its
    // dictionary and its driver-side company and latest-filing rows
    // exist. "company" costs the collect of its slice; search, segment
    // search, rank, info and the identifier lookup read FinData's
    // driver-side rows, and report, customReport and indicators the rows
    // the Company holds (indicators collects its rows on a Company's
    // first call, one job). With Spark plans for search, segment search,
    // rank, info and the lookup the rows were 1, 1, 2, 2, 0, 0, 0 and 1.
    // With the slice a one-partition cache and Spark report plans they
    // were 1, 1, 2, 3, 2, 4, 2 and 1: "company" also filled the cache and
    // ran a period aggregate. Before the company dimension and the
    // one-partition slices they were 3, 4, 4, 5, 13, 37, 10 and 14:
    // search and rank window-sorted the fact table, report and
    // indicators ran one job per shuffle stage plus a broadcast of the
    // language table, and info re-ran two aggregates and four counts.
    val cases = sessionCalls()
    cases.foreach(_._2())
    val measured = cases.map { case (name, run, _) => name -> jobsOf(s"finlogic_jobs_$name")(run()) }
    val expected = cases.map { case (name, _, n) => name -> n }
    assert(measured == expected,
      "per-call job counts moved:\n" + measured.zip(expected).collect {
        case ((n, got), (_, want)) if got != want => s"  $n: $want -> $got"
      }.mkString("\n"))
  }

  /** The scheduler jobs that `run` starts, counted under job group `group`. */
  private def jobsOf(group: String)(run: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try run finally sc.clearJobGroup()
      org.apache.spark.ListenerDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a repeated session compiles no generated class") {
    // Spark keeps the classes it compiles for generated code in one
    // JVM-wide cache keyed by their source. A second session with the
    // same arguments generates the same sources, so every class must
    // come from that cache: a compile here means the cache evicted a
    // class the first session needed (GraftSession.CodegenCacheEntries).
    val calls = sessionCalls()
    calls.foreach(_._2())
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    calls.foreach(_._2())
    assert(compiles.getCount == before,
      s"${compiles.getCount - before} classes compiled again in a repeated session")
  }

  test("a Company for a new company and method compiles no generated class") {
    // ETA (cvm 6) files under both methods and is in no other spec, so
    // no class another test compiled can serve a plan over its id.
    val eta = Seq(true, false).flatMap(cons => Seq("2021-12-31" -> 2.0, "2022-12-31" -> 2.2)
      .flatMap { case (p, f) => rows(6L, "ETA", "66.666", cons, true, p, f) })
    val d = FinData.build(financialsRaw.unionByName(financialsFrame(eta)),
      tradesRaw.unionByName(tradesFrame(Seq((6L, "2023-06-01", 400000.0, "retail", false, "ETA3")))),
      languageRaw)
    val warm = d.company(1, accUnit = "m")
    Seq(d.searchCompany("alpha"), d.rank(), warm.report("assets"), warm.customReport(Seq("1")),
      warm.indicators(), warm.info(), d.info("path")).foreach(_.collect())
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val co = d.company(6L, isConsolidated = false, accUnit = "t")
    val grid = co.indicators().collect()
    assert(compiles.getCount == before,
      s"${compiles.getCount - before} classes compiled for a new company's slice and indicators")
    assert(co.accountingRows == 2L * Codes.size && grid.length == Indicators.IndicatorOrder.size)
  }

  test("Company reads FinData's caches through plans built once, and after an unload") {
    val dir = java.nio.file.Files.createTempDirectory("finlogic").toString
    financialsRaw.write.mode("overwrite").parquet(s"$dir/fin")
    tradesRaw.write.mode("overwrite").parquet(s"$dir/trades")
    languageRaw.write.mode("overwrite").parquet(s"$dir/lang")
    val d = FinData.load(spark, s"$dir/fin", s"$dir/trades", s"$dir/lang")
    def answers(co: Company): Seq[Seq[String]] =
      Seq(co.df, co.report("assets"), co.customReport(Seq("1", "3.01", "6.01")), co.indicators(),
        co.info()).map(_.collect().map(_.toString).toSeq)
    val ids = Seq((1, true), (2, false))
    val loaded = ids.map { case (id, cons) => answers(d.company(id, cons, accUnit = "m")) }
    // Each read's RDD is its planned frame's executed plan: one scan of
    // FinData's cache, and no file.
    for ((cache, planned) <- Seq(d.financials -> d.plannedFinancials,
                                 d.indicators -> d.plannedIndicators)) {
      val plan = planned.frame.queryExecution.executedPlan
      assert(planned.rdd eq planned.frame.queryExecution.toRdd)
      assert(scans(plan, cacheOf(cache)).size == 1, s"no scan of the cache:\n$plan")
      assert(collect(plan) { case s: FileSourceScanExec => s }.isEmpty, s"scans a file:\n$plan")
    }
    val co = d.company(2)
    assert(jobsOf("finlogic_first_indicators")(co.indicators().collect()) == 1)
    d.unpersist()
    assert(ids.map { case (id, cons) => answers(d.company(id, cons, accUnit = "m")) } == loaded)
  }

  test("four threads of sessions on one FinData answer as a sequential run") {
    // A new FinData, so the threads also race to collect its driver-side
    // rows and dictionary; each thread runs a whole session per company.
    val shared = FinData.build(financialsRaw, tradesRaw, languageRaw)
    def session(d: FinData, id: Any): Seq[Seq[String]] = {
      val co = d.company(id, accUnit = "m")
      Seq(d.searchCompany("a"), d.searchSegment("an"), d.rank(), co.report("assets"),
          co.customReport(Seq("1", "3.01", "6.01")), co.indicators(), co.info(), d.info("path"))
        .map(_.collect().map(_.toString).toSeq)
    }
    val ids = Seq[Any](1, "22.222", 2L, 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ids.size)
    val concurrent = try ids.map(id => pool.submit(() => session(shared, id)))
      .map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    finally pool.shutdownNow()
    val fresh = FinData.build(financialsRaw, tradesRaw, languageRaw)
    val sequential = ids.map(session(fresh, _))
    assert(concurrent == sequential)
  }

  test("plan shape: company plans shuffle nothing, translation broadcasts nothing, " +
       "search and rank skip the fact table") {
    val co = new Company(data, 1, accUnitSpec = "m")
    val report = executed(co.report("balance_sheet"))
    for ((name, plan) <- Seq("report" -> report, "indicators" -> executed(co.indicators())))
      assert(collect(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
        s"$name plans a shuffle:\n$plan")
    val language = cacheOf(data.language)
    val translations = collect(report) {
      case b: BroadcastExchangeExec if scans(b, language).nonEmpty => b
    }
    assert(translations.isEmpty, s"report broadcasts the language table:\n$report")
    // FinData's session calls build local frames: once its driver-side
    // rows exist, their executed plans read no cache and run no job
    val calls = Seq("searchCompany" -> (() => data.searchCompany("alpha")),
      "searchSegment" -> (() => data.searchSegment("an")),
      "rank" -> (() => data.rank()), "info" -> (() => data.info("path")))
    calls.foreach(_._2().collect())
    for ((name, call) <- calls) {
      var plan: SparkPlan = null
      val jobs = jobsOf(s"finlogic_plan_$name") { plan = executed(call()) }
      assert(jobs == 0, s"$name ran $jobs jobs:\n$plan")
      assert(collect(plan) { case s: InMemoryTableScanExec => s }.isEmpty,
        s"$name scans a cache:\n$plan")
    }
  }

  test("a company renamed between filings resolves to one name everywhere") {
    // ZETA files as "ZETA OLD" in 2021 and under both names in its
    // latest (2022) filing, whose rows tie on (period_end,
    // is_consolidated). The identity is the (name_id, tax_id) keep-last
    // searchCompany uses; rank's latest filing breaks the tie by name_id.
    val zeta = rows(5L, "ZETA OLD", "55.555", true, true, "2021-12-31", 1.0) ++
      rows(5L, "ZETA NEW", "55.555", true, true, "2022-12-31", 1.2).take(8) ++
      rows(5L, "ZETA OLD", "55.555", true, true, "2022-12-31", 1.2).drop(8)
    val fin = financialsFrame(zeta).repartition(4, $"acc_code")
    val trades = tradesFrame(Seq((5L, "2023-06-01", 300000.0, "retail", false, "ZETA3")))
    val d = FinData.build(fin, trades, languageRaw)
    val found = d.searchCompany("ZETA").collect()
    assert(found.length == 1)
    assert(new Company(d, 5L).nameId == found(0).getAs[String]("name_id"))
    assert(new Company(d, "55.555").nameId == "ZETA OLD")
    val ranks = (1 to 3).map(_ => d.rank().collect().map(_.toString).toSeq)
    assert(ranks.distinct.size == 1, s"rank answers differ: $ranks")
    assert(d.rank().head().getAs[String]("name_id") == "ZETA OLD")
  }

  test("unload releases every cache FinData owns") {
    import graft.finlogic.FinLogic
    val dir = java.nio.file.Files.createTempDirectory("finlogic").toString
    financialsRaw.write.mode("overwrite").parquet(s"$dir/fin")
    tradesRaw.write.mode("overwrite").parquet(s"$dir/trades")
    languageRaw.write.mode("overwrite").parquet(s"$dir/lang")
    FinLogic.load(spark, s"$dir/fin", s"$dir/trades", s"$dir/lang")
    val loaded = FinLogic.data
    FinLogic.info().collect() // materializes the caches
    val frames = loaded.productIterator.collect { case df: DataFrame => df }.toSeq
    val rdds = frames.map(df => cacheOf(df).cacheBuilder.cachedColumnBuffers.id)
    // Companies and their reconfigured copies cache nothing of their own.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (co <- Seq(FinLogic.company(1, accUnit = "m"), FinLogic.company(2, isConsolidated = false));
         c <- Seq(co, co.withUnit("t"), co.withLanguage("portuguese"), co.withTaxRate(0.2),
           co.withConsolidated(!co.isConsolidated), co.withIdentifier(1))) {
      c.report("assets").collect(); c.customReport(Seq("1")).collect(); c.indicators().collect()
    }
    val grown = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(grown.isEmpty, s"Companies left ${grown.size} persistent RDDs: $grown")
    FinLogic.unload()
    assert(frames.forall(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
    val persistent = spark.sparkContext.getPersistentRDDs.keySet
    assert(rdds.forall(id => !persistent.contains(id)),
      s"still persistent after unload: ${rdds.filter(persistent.contains)}")
  }

  test("withLanguage and withTaxRate validate like the reference setters") {
    val pt = alpha.withLanguage("PORTUGUESE")
    assert(pt.language == "Portuguese")
    assert(same(pt.report("assets"),
      new Company(data, 1, accUnitSpec = "m", languageSpec = "portuguese").report("assets")))
    assert(alpha.withTaxRate(0.21).taxRate == 0.21)
    intercept[IllegalArgumentException] { alpha.withLanguage("latin") }
    intercept[IllegalArgumentException] { alpha.withTaxRate(1.5) }
    intercept[IllegalArgumentException] { alpha.withUnit("x") }
  }
}

package graft.finlogic

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Module-style facade mirroring the reference's public surface
  * call-for-call (`/root/reference/src/finlogic/__init__.py:10-16`:
  * `load`, `info`, `search_company`, `search_segment`, `rank`,
  * `Company`) so a user of the reference can switch with a find-and-
  * replace. The reference keeps five module globals populated by
  * `load()` (`data.py:21-25`); here that state is ONE immutable
  * [[FinData]] swapped atomically by [[load]] — same usage pattern,
  * no partially-updated state visible to concurrent readers.
  *
  * Library users composing multiple datasets should hold [[FinData]]
  * values directly; this object exists for reference-parity
  * ergonomics.
  */
object FinLogic {

  // ONE volatile holding (data, path) together: two separate vars
  // would let a concurrent reader observe one load's data with
  // another's path — the partially-updated state the scaladoc
  // promises away.
  @volatile private var current: Option[(FinData, String)] = None

  /** Reference `load()` (`data.py:28-67`): read the three tables,
    * dedup trades, optionally restrict to traded companies, build
    * indicators, and install the result as the module state. */
  def load(spark: SparkSession,
           financialsPath: String, tradesPath: String, languagePath: String,
           isTraded: Boolean = true, minVolume: Double = 100000): Unit =
    current = Some((FinData.load(
      spark, financialsPath, tradesPath, languagePath, isTraded, minVolume),
      financialsPath))

  private def state: (FinData, String) = current.getOrElse(
    throw new IllegalStateException("FinLogic.load(...) must be called first"))

  /** The loaded data, or the reference's unloaded-state error (it
    * raises on use before load because its globals start empty). */
  def data: FinData = state._1

  def info(): DataFrame = { val (d, p) = state; d.info(p) }

  def searchCompany(searchValue: String, searchBy: String = "name_id"): DataFrame =
    data.searchCompany(searchValue, searchBy)

  def searchSegment(searchValue: String): DataFrame =
    data.searchSegment(searchValue)

  def rank(segment: Option[String] = None, n: Int = 10,
           rankBy: String = "operating_margin",
           isConsolidated: Boolean = true): DataFrame =
    data.rank(segment, n, rankBy, isConsolidated)

  def company(identifier: Any,
              isConsolidated: Boolean = true,
              accUnit: Any = 1.0,
              taxRate: Double = 0.34,
              language: String = "english"): Company =
    data.company(identifier, isConsolidated, accUnit, taxRate, language)

  /** Drop the module state (no reference counterpart — its globals
    * live for the interpreter's lifetime; long-lived Spark sessions
    * deserve an unload). Releases every cache the FinData owns. */
  def unload(): Unit = {
    current.foreach(_._1.unpersist())
    current = None
  }
}

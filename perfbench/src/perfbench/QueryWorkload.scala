package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.ops.Staging

/** A fixed set of the suite's queries (`SparkEntry.queries`) over the
  * sf0.1 tables, run in an order the seed shuffles. The set does not
  * depend on the seed, so runs with different seeds time the same work.
  *
  * Set-up runs the set three times, untimed. The first pass collects
  * each query's answer for the output check and pays each query's own
  * code generation; all three pay the JVM's warm-up, which otherwise
  * lingers into the first timed passes. A timed op is one later run of a query:
  * build, then a write to the noop sink; `Staging.releaseAll` follows as
  * the op's release step. The answers are written as Parquet, with each
  * query's schema, after the timed phase.
  */
final class QueryWorkload(spark: SparkSession, spans: Spans, workload: String, seed: Long,
                          dataDir: String, outDir: String) extends Workload {

  private val names: Seq[String] =
    new scala.util.Random(seed).shuffle(QueryWorkload.sets(workload))
  private val answers = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
  private val setupErrors = mutable.LinkedHashMap[String, String]()

  def cycle: Int = names.size

  def setup(run: Runner): Unit = {
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val (_, _, err) = run(Op(name,
        _ => {
          val df = fn(spark, dataDir)
          answers(name) = (df.schema, df.collect())
        },
        _ => Staging.releaseAll()))
      err.foreach(setupErrors(name) = _)
    }
    for (_ <- 1 to QueryWorkload.WarmUpPasses; i <- names.indices) run(op(i))
  }

  /** One pass per five seconds, about one warm pass of
    * `queries_iterative` on two cores. */
  def passes(seconds: Double): Int = math.max(1L, math.round(seconds / 5.0)).toInt

  def op(i: Int): Op = {
    val name = names(i % names.size)
    val fn = SparkEntry.queries(name)
    Op(name,
      id => {
        val df = spans(id, "build")(fn(spark, dataDir))
        spans(id, "exec")(df.write.format("noop").mode("overwrite").save())
      },
      _ => Staging.releaseAll())
  }

  override def finish(): Unit =
    for ((name, (schema, rows)) <- answers)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(s"$outDir/$name")

  def report: Map[String, Any] = Map(
    "queries" -> names,
    "oracle_sql" -> names.map(n => n -> SparkEntry.oracleSql.get(n).orNull).toMap,
    "setup_errors" -> setupErrors.toMap,
    "data_dir" -> dataDir,
    "results_dir" -> outDir)
}

object QueryWorkload {
  /** Untimed passes after the answer pass. */
  val WarmUpPasses = 2

  /** The query sets, fixed so that every run does the same work.
    * `queries_iterative` takes TextRank's weighted PageRank sweep and
    * two blocking operators of the graph module. */
  val sets: Map[String, Seq[String]] = Map(
    "queries_iterative" -> Seq("q178_textrank_keywords", "q249_sorted_neighborhood",
      "q312_blocking_quality"))
}

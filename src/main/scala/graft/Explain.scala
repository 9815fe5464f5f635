package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection main: prints the formatted physical plan of
  * SparkEntry queries without executing them — the "explain and
  * iterate until it's the plan you'd want" loop as a command, and the
  * source of the `plans/` artifacts.
  *
  * Usage: runMain graft.Explain <sfDir> <prefix>[,<prefix>...] [...]
  * Every query whose name starts with a listed prefix is printed, in
  * name order — the selection rule of Bench (SPARK_GRAFT_QUERIES) and
  * Verify (SPARK_GRAFT_ONLY); a full name is its own prefix.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <prefix>[,<prefix>...] [...]")
    val prefixes = args.drop(1).flatMap(_.split(",")).filter(_.nonEmpty)
    val unmatched =
      prefixes.filterNot(p => SparkEntry.queries.keys.exists(_.startsWith(p)))
    require(unmatched.isEmpty,
      s"no query name starts with: ${unmatched.mkString(", ")}")
    val sfDir = args(0)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
      .foreach { case (name, fn) =>
        println(s"==== $name ====")
        fn(spark, sfDir).explain("formatted")
        graft.ops.Staging.releaseAll()
      }
    spark.stop()
  }
}

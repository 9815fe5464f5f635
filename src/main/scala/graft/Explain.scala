package graft

import org.apache.spark.unsafe.array.ByteArrayMethods

/** Plan-inspection main: prints the formatted physical plan of
  * SparkEntry queries without executing them — the "explain and
  * iterate until it's the plan you'd want" loop as a command, and the
  * source of the `plans/` artifacts.
  *
  * Usage: runMain graft.Explain <sfDir> <prefix>[,<prefix>...] [...]
  * Queries are chosen by [[QueryRunner.select]], the rule of Bench and
  * Verify's SPARK_GRAFT_ONLY: every name starting with a listed prefix,
  * in name order. A query failing to build ends the run with its cause.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <prefix>[,<prefix>...] [...]")
    val selected = QueryRunner.select(args.drop(1).flatMap(_.split(",")).filter(_.nonEmpty))
    val spark = QueryRunner.session(defaultCpus = 8)
      // plans/ artifacts need whole plans: lift GraftSession's 1 MB cap
      // back to Spark's own (uncapped) default
      .config("spark.sql.maxPlanStringLength", ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runner = new QueryRunner(spark, args(0))
    for ((name, fn) <- selected) {
      println(s"==== $name ====")
      runner.run(name, fn)(_.explain("formatted")).failure.foreach(throw _)
    }
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (scripts/check.py
  * locally). Each query runs through [[QueryRunner]]'s time box
  * (SPARK_GRAFT_QUERY_TIMEOUT), so a hung query is one named failure,
  * not a stalled dump: a `<name>._FAILED` file with its cause. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = QueryRunner.session(defaultCpus = 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // The oracle goes first: a dump killed part-way still leaves an
    // oracle for every query it finished.
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${QueryRunner.json(k)}: ${QueryRunner.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Dev convenience: SPARK_GRAFT_ONLY=q86,q87 restricts the dump to
    // queries whose name starts with a listed prefix. The driver never
    // sets it, so its runs always dump the full map.
    // A query that fails or times out leaves `<name>._FAILED` holding
    // its cause, and no result dir, so scripts/check.py names it; a
    // query that passes removes a marker left by an earlier dump.
    val runner = new QueryRunner(spark, sfDir)
    for ((name, fn) <- QueryRunner.select(QueryRunner.only)) {
      val (result, marker) = (Paths.get(s"$outDir/$name"), Paths.get(s"$outDir/$name._FAILED"))
      runner.run(name, fn)(_.coalesce(1).write.mode("overwrite").parquet(result.toString)).failure match {
        case Some(e) =>
          System.err.println(s"[verify] $name failed: $e")
          org.apache.commons.io.FileUtils.deleteDirectory(result.toFile)
          Files.writeString(marker, s"$e\n")
        case None => Files.deleteIfExists(marker)
      }
    }
    spark.stop()
  }
}

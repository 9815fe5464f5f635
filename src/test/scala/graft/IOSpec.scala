package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.{IO, Tables}

class IOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("Tables.events leaves the session conf as it found it") {
    // loading a table must not change settings that every later query
    // of the session reads
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val before = spark.conf.getAll
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(ev.limit(1).collect().length == 1)
    val after = spark.conf.getAll
    val changed = (after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)
    assert(changed.isEmpty, s"Tables.events changed the session conf: $changed")
  }

  test("CSV sink/source round-trips with an explicit schema") {
    val dir = tmp("csv")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang", "n_chars")
    IO.writeCsv(docs, dir)
    val back = IO.readCsv(spark, dir, docs.schema)
    assert(back.count() == docs.count())
    assert(back.agg(sum("n_chars")).head().getLong(0) ==
           docs.agg(sum("n_chars")).head().getLong(0))
  }

  test("JSON-lines sink/source round-trips") {
    val dir = tmp("jsonl")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang", "source")
    IO.writeJsonl(docs, dir)
    val back = IO.readJsonl(spark, dir, docs.schema)
    assert(back.orderBy("doc_id").collect().toSeq ==
           docs.orderBy("doc_id").collect().toSeq)
  }

  test("ORC sink/source round-trips and pushes filters to the scan") {
    val dir = tmp("orc")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    IO.writeOrc(docs, dir)
    val back = IO.readOrc(spark, dir)
    assert(back.orderBy("doc_id").collect().toSeq ==
           docs.orderBy("doc_id").collect().toSeq)
    // predicate pushdown + column pruning reach the ORC scan exactly
    // like the parquet path
    val q = IO.readOrc(spark, dir).filter($"n_chars" > 100).select("doc_id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)"),
      s"ORC scan must receive the pushed filter:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"ORC scan must prune to the 2 referenced columns:\n$plan")
  }

  test("partitioned parquet prunes non-matching partitions at the scan") {
    val dir = tmp("part")
    IO.writePartitioned(Tables.documents(spark, "/root/testdata/sf0.001"),
      dir, Seq("lang"))
    val q = spark.read.parquet(dir).filter(col("lang") === "de")
    val plan = q.queryExecution.executedPlan.toString
    // the lang predicate must become a PartitionFilter, not a data filter
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
    assert(q.count() ==
      Tables.documents(spark, "/root/testdata/sf0.001")
        .filter(col("lang") === "de").count())
  }

  test("bucketed tables join without any Exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = Tables.orders(spark, "/root/testdata/sf0.001")
      val customer = Tables.customer(spark, "/root/testdata/sf0.001")
      IO.writeBucketed(orders.select("o_custkey", "o_totalprice"),
        "b_orders", "o_custkey", 4)
      IO.writeBucketed(customer
          .select(col("c_custkey").as("o_custkey"), col("c_acctbal")),
        "b_customer", "o_custkey", 4)
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      assert(joined.count() ==
        orders.join(customer, col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }
}

package graft

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Staging

/** Pins the mains' one query loop: the time box, named failures,
  * per-query release of staged frames, job-group counts and the
  * prefix selection rule. */
class QueryRunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val runner = new QueryRunner(spark, "unused")

  test("a query that outlives its time box is reported by name; the next one runs") {
    val sleep = udf { (x: Long) => Thread.sleep(60000); x }
    val slow = runner.run("slow", (s, _) => s.range(0, 4, 1, 4).select(sleep(col("id"))),
      timeoutSec = 2)(_.collect())
    assert(slow.name == "slow" && slow.timedOut && !slow.ok)
    assert(slow.seconds < 30, s"the time box did not cut the query: ${slow.seconds} s")
    val next = runner.run("next", (s, _) => s.range(10).toDF(), timeoutSec = 30)(df =>
      assert(df.collect().length == 10))
    // the slow query's tasks sleep 60 s: the next one finishes in the
    // box only if the timed-out job was cancelled, not left running
    assert(next.ok, next.failure)
  }

  test("a query that throws is reported with its cause") {
    val r = runner.run("boom", (_, _) => throw new IllegalStateException("boom"))(_.collect())
    assert(!r.ok && !r.timedOut)
    assert(r.failure.exists(e => e.isInstanceOf[IllegalStateException] && e.getMessage == "boom"))
  }

  test("staged frames and checkpoints are released when run returns") {
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.size
    var during = 0
    val r = runner.run("staged", (s, _) => {
      val staged = Staging.stage(s.range(100).toDF("id"))
      val ckpt = Staging.stageCheckpoint(s.range(100).toDF("id").localCheckpoint())
      staged.union(ckpt)
    })(df => { assert(df.collect().length == 200); during = sc.getPersistentRDDs.size })
    assert(r.ok, r.failure)
    assert(during >= baseline + 2, s"nothing was staged: $during vs $baseline")
    assert(sc.getPersistentRDDs.size == baseline)
  }

  test("a query with no shuffle records one job, one stage, one task") {
    val r = runner.run("one", (s, _) => s.range(10).toDF().coalesce(1))(_.collect())
    assert(r.ok, r.failure)
    assert((r.jobs, r.stages, r.tasks) == ((1L, 1L, 1L)))
  }

  test("select keeps name order and rejects a prefix that matches nothing") {
    val names = QueryRunner.select(Seq("q1", "q0")).map(_._1)
    assert(names.nonEmpty && names == names.sorted)
    assert(names.forall(n => n.startsWith("q1") || n.startsWith("q0")))
    val e = intercept[IllegalArgumentException](QueryRunner.select(Seq("q0", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }
}

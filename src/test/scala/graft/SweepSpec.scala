package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the shared sweep harness's partitioning-declared checkpoint
  * (ops.Sweep.pin / GraftPartitionedCheckpoint): the declaration must
  * be visible to the planner (co-located joins, no re-exchange) and
  * must state the truth (values identical to the undeclared frame).
  */
class SweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pin declares HashPartitioning on a GraftPinnedRDD; values unchanged") {
    val df = (1 to 400).map(i => (i % 40L, i.toLong)).toDF("k", "v")
    val (pinned, _) = graft.ops.Sweep.pin(df, Seq("k"), 4)
    pinned.queryExecution.analyzed match {
      case g: org.apache.spark.sql.execution.GraftPinnedRDD =>
        assert(g.partitioning.expressions.map(_.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.Attribute].name) ==
          Seq("k"))
      case other => fail(s"expected GraftPinnedRDD, got ${other.getClass}")
    }
    assert(pinned.orderBy("k", "v").collect().toSeq ==
           df.orderBy("k", "v").collect().toSeq)
    graft.ops.Staging.releaseAll()
  }

  test("pin scan reports numOutputRows (UI-metric parity with RDDScanExec, r16 advice)") {
    val df = (1 to 250).map(i => (i % 10L, i.toLong)).toDF("k", "v")
    val (pinned, _) = graft.ops.Sweep.pin(df, Seq("k"), 4)
    // a bare count() is agg-planned; force the scan itself to emit all
    // rows so the leaf's metric observes 250
    assert(pinned.collect().length == 250)
    val scans = pinned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.GraftPinScanExec => s
    }
    assert(scans.nonEmpty, "plan should root at GraftPinScanExec")
    assert(scans.head.metrics("numOutputRows").value == 250L)
    graft.ops.Staging.releaseAll()
  }

  test("two pinned frames join with ZERO exchanges; an unpinned checkpoint needs one") {
    val (a, _) = graft.ops.Sweep.pin(
      (1 to 300).map(i => (i % 30L, i.toLong)).toDF("k", "va"), Seq("k"), 4)
    val (b, _) = graft.ops.Sweep.pin(
      (1 to 200).map(i => (i % 30L, i * 2L)).toDF("k", "vb"), Seq("k"), 4)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      "Exchange hashpartitioning".r.findAllMatchIn(
        df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head).length
    }
    // broadcast would hide the property on these tiny frames
    val joined = a.hint("merge").join(b, "k")
    assert(exchanges(joined) == 0, "pinned sides must co-locate")
    val plain = (1 to 200).map(i => (i % 30L, i * 2L)).toDF("k", "vb")
      .localCheckpoint(true)
    val mixed = a.hint("merge").join(plain, "k")
    assert(exchanges(mixed) >= 1, "undeclared checkpoint should re-exchange")
    graft.ops.Staging.releaseAll()
  }

  test("duplicate pin references canonicalize equal; a sealed intermediate's exchange is reused") {
    // The r16 fix behind Sweep.fold: Spark's LogicalRDD never
    // compares sameResult across DeduplicateRelations re-instancing,
    // which silently defeated CacheManager substitution AND
    // ReuseExchange for any subtree rooted at a pin — every
    // multi-consumer sweep intermediate was recomputed once per
    // consumer (measured q192: 457 -> 1033 tasks under a 3-peel
    // chunk). GraftPinnedRDD canonicalizes output + declared
    // partitioning positionally, so the same pin referenced twice in
    // one plan dedupes.
    val df = (1 to 300).map(i => (i % 30L, i.toLong)).toDF("k", "v")
    val (base, _) = graft.ops.Sweep.pin(df, Seq("k"), 4)
    // 1. logical canonical equality across newInstance copies
    val a = base.queryExecution.analyzed
    val b = a.asInstanceOf[
      org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation]
      .newInstance()
    assert(a.sameResult(b),
      "newInstance copy of a pin must compare sameResult (LogicalRDD never did)")
    // 2. a repartition-sealed intermediate consumed twice runs ONE
    //    mapper stage: the second exchange plans as ReusedExchange
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val mid = base.groupBy("k").agg(sum(col("v")).as("s"))
        .repartition(8, col("k"))
      val twice = mid.join(
        mid.select(col("k"), col("s").as("s2")).hint("merge"), "k")
      twice.collect()
      val plan = twice.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"sealed intermediate must reuse its exchange; plan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    graft.ops.Staging.releaseAll()
  }

  test("CANARY: plain localCheckpoint still hides its partitioning (the shim's reason to exist)") {
    // GraftPartitionedCheckpoint scans its checkpoint as a
    // GraftPinnedRDD with the partitioning declared precisely because
    // Spark 4.1 creates localCheckpoint's LogicalRDD with
    // UnknownPartitioning, hiding the layout from downstream
    // ENSURE_REQUIREMENTS planning. This test MUST KEEP FAILING to
    // hold in the counterexample sense: if it ever goes red, Spark has
    // started declaring (or otherwise changed) the checkpoint
    // partitioning contract — revisit the shim (it may be redundant)
    // before trusting any sweep plan.
    val ck = (1 to 400).map(i => (i % 40L, i.toLong)).toDF("k", "v")
      .repartition(8, col("k"))
      .localCheckpoint(true)
    ck.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        assert(!l.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning],
          "SPARK BEHAVIOR CHANGE: localCheckpoint now declares its " +
            "partitioning — GraftPartitionedCheckpoint's premise is gone; " +
            "audit the shim against the new LogicalRDD contract")
      case other =>
        fail("SPARK BEHAVIOR CHANGE: localCheckpoint no longer roots at " +
          s"LogicalRDD (got ${other.getClass}) — re-probe whether a plain " +
          "checkpoint now keeps its partitioning before trusting any sweep plan")
    }
  }

  test("pinCounted: count rides the materializing job; declaration and values match pin") {
    val df = (1 to 400).map(i => (i % 40L, i.toLong)).toDF("k", "v")
    // fused count == true count: the one materializing action IS the
    // count, so sweep operators that seed on N (every PageRank
    // variant) pay zero extra jobs for it
    val (pinned, n) = graft.ops.Sweep.pin(df, Seq("k"), 4)
    assert(n === 400L)
    // declaration identical to pin's: HashPartitioning on the key
    pinned.queryExecution.analyzed match {
      case g: org.apache.spark.sql.execution.GraftPinnedRDD =>
        assert(g.partitioning.expressions.map(_.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.Attribute].name) ==
          Seq("k"))
      case other => fail(s"expected GraftPinnedRDD, got ${other.getClass}")
    }
    // values unchanged (the map(_.copy()) defensive copy is load-
    // bearing: caching UnsafeRows without it aliases every row)
    assert(pinned.orderBy("k", "v").collect().toSeq ==
           df.orderBy("k", "v").collect().toSeq)
    // and the pinned frame co-locates in a join, like pin's
    val (other, _) = graft.ops.Sweep.pin(
      (1 to 200).map(i => (i % 40L, i * 2L)).toDF("k", "vb"), Seq("k"), 4)
    val joined = pinned.hint("merge").join(other, "k")
    joined.collect()
    val ex = "Exchange hashpartitioning".r.findAllMatchIn(
      joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head).length
    assert(ex == 0, "pinCounted frame must co-locate like pin's")
    graft.ops.Staging.releaseAll()
  }

  test("pin refuses ambiguous or missing key names (mis-declaration guard)") {
    val df = (1 to 100).map(i => (i % 10L, i.toLong)).toDF("k", "v")
    // missing name: loud, not a silent wrong declaration
    val e = intercept[Exception] {
      org.apache.spark.sql.execution.GraftPartitionedCheckpoint(
        df, Seq("nope"), 4)
    }
    assert(e.getMessage.contains("nope"))
    // duplicate output name: the repartition itself must refuse to
    // resolve the ambiguous column (so no declaration can happen)
    val dup = df.select(col("k"), col("v").as("k"))
    intercept[Exception] {
      org.apache.spark.sql.execution.GraftPartitionedCheckpoint(
        dup, Seq("k"), 4)
    }
    graft.ops.Staging.releaseAll()
  }
}

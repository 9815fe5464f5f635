package org.apache.spark.sql.execution

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Logical scan of a pinned (partitioning-declared, locally
  * checkpointed) RDD — our replacement for rebuilding Spark's
  * [[LogicalRDD]] with a declared partitioning.
  *
  * Why not LogicalRDD: it has NO `doCanonicalize` override, so two
  * occurrences of the same checkpoint in one plan (a self-join, or —
  * the sweep case — one intermediate consumed by both the relaxation
  * join and the merge join) NEVER compare `sameResult` after
  * `DeduplicateRelations` re-instances the duplicate with fresh
  * exprIds. That silently defeats BOTH dedup mechanisms Spark has:
  * CacheManager substitution (a persisted subtree over a checkpoint
  * missed its own cache — r13-r15's staged `keep`/`dist` frames were
  * recomputed once per consumer) and ReuseExchange (two structurally
  * identical repartition seals over a pin each ran their own mapper
  * stage; measured on the r16 chunked k-core: 457 -> 1033 tasks purely
  * from duplicated sweep evaluation). This node canonicalizes output
  * AND declared partitioning positionally, so duplicate instances of
  * the same pin compare equal and every exchange above them reuses.
  *
  * Equality root: the `rdd` reference itself — two pins of different
  * data can never compare equal, because each pin call creates a fresh
  * checkpointed RDD.
  */
case class GraftPinnedRDD(
    output: Seq[Attribute],
    rdd: RDD[InternalRow],
    partitioning: HashPartitioning)
  extends LeafNode with MultiInstanceRelation {

  override def newInstance(): LogicalPlan = {
    val rewrite = output.zip(output.map(_.newInstance())).toMap
    GraftPinnedRDD(
      output.map(rewrite),
      rdd,
      partitioning.transform {
        case a: Attribute => rewrite.getOrElse(a, a)
      }.asInstanceOf[HashPartitioning])
  }

  // positional exprId normalization (what LogicalRelation/
  // InMemoryRelation do and LogicalRDD doesn't): the partitioning is
  // an Expression tree, so it normalizes through the same helper
  override def doCanonicalize(): LogicalPlan =
    GraftPinnedRDD(
      output.map(QueryPlan.normalizeExpressions(_, output)),
      rdd,
      QueryPlan.normalizeExpressions(partitioning, output))

  // same default LogicalRDD uses with no origin stats: never
  // auto-broadcast a pin (its size is unknown to the optimizer)
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = conf.defaultSizeInBytes)
}

/** Physical twin of [[GraftPinnedRDD]] — [[RDDScanExec]] minus its
  * canonicalization gap: output and declared partitioning normalize
  * positionally so ReuseExchange collapses identical exchanges above
  * two instances of the same pin. Rows are the checkpoint's own
  * UnsafeRow copies, so no projection is needed (createUnsafeProjection
  * = false, the localCheckpoint contract). */
case class GraftPinScanExec(
    output: Seq[Attribute],
    rdd: RDD[InternalRow],
    partitioning: HashPartitioning)
  extends LeafExecNode with InputRDDCodegen {

  override val nodeName: String = "GraftPinScan"
  override def outputPartitioning: Partitioning = partitioning
  override def outputOrdering: Seq[SortOrder] = Nil
  override def inputRDD: RDD[InternalRow] = rdd
  override protected val createUnsafeProjection: Boolean = false

  // UI/metrics parity with the RDDScanExec path this node replaced
  // (r16 advice): InputRDDCodegen emits the increment in generated
  // code for any node whose metrics map carries "numOutputRows", so
  // the codegen path is covered by the declaration alone; the
  // interpreted path counts through a map pass.
  override lazy val metrics: Map[String, metric.SQLMetric] = Map(
    "numOutputRows" ->
      metric.SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    rdd.mapPartitionsWithIndexInternal { (_, iter) =>
      iter.map { r => numOutputRows += 1; r }
    }
  }

  override def doCanonicalize(): SparkPlan =
    GraftPinScanExec(
      output.map(QueryPlan.normalizeExpressions(_, output)),
      rdd,
      QueryPlan.normalizeExpressions(partitioning, output))

  override def simpleString(maxFields: Int): String =
    s"GraftPinScan ${output.take(maxFields).mkString("[", ",", "]")} $partitioning"
}

/** Plans [[GraftPinnedRDD]] — injected per session via
  * `experimental.extraStrategies` the first time a pin is declared
  * (idempotent; object identity). */
object GraftPinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GraftPinnedRDD =>
      GraftPinScanExec(g.output, g.rdd, g.partitioning) :: Nil
    case _ => Nil
  }
}

/** Partitioning-preserving eager checkpoint — the one capability
  * Spark 4.1 exposes no public API for.
  *
  * Iterative sweep operators (PageRank, BFS, label propagation, …)
  * stage a degree-annotated adjacency once and join a node-sized rank
  * frame against it every sweep. For that staging to pay off, the
  * consumer side must SEE the adjacency's hash partitioning — but
  * under AQE both `persist()` (the cache boundary reports its
  * partitioning as unknown to downstream ENSURE_REQUIREMENTS
  * planning) and `localCheckpoint(true)` (`LogicalRDD` is created
  * with `UnknownPartitioning(0)`; probed on this Spark build) hide
  * it, so every sweep silently re-exchanged the EDGE frame — the
  * exact shuffle staging exists to avoid, and at 100 TB the dominant
  * per-sweep cost.
  *
  * This object lives in Spark's execution package to reach the
  * internals it needs: it repartitions on the keys with an EXPLICIT
  * partition count (a user-specified count is never coalesced by AQE,
  * so the physical layout is exactly `HashPartitioning(keys, n)`),
  * checkpoints at the RDD level, and scans the checkpoint as a
  * [[GraftPinnedRDD]] with that partitioning DECLARED (and with the
  * canonicalization LogicalRDD lacks — see its scaladoc). The
  * declaration is sound by construction — it only ever states the
  * partitioning the repartition in the same call just produced
  * (mis-declaring a partitioning would silently mis-join, which is
  * why the repartition is fused into this helper rather than taken on
  * trust from the caller). The equivalent public-API route is a
  * bucketed warehouse table — correct at 100 TB for cross-job reuse,
  * absurdly heavy for an in-query staged frame.
  */
object GraftPartitionedCheckpoint {

  /** `df` eagerly checkpointed with layout AND declared partitioning
    * `HashPartitioning(keys, numPartitions)`, plus a row count from
    * the SAME scheduler job: all rows, or with `flagCol` only the rows
    * whose boolean flag is true (nulls count as false). The checkpoint's
    * blocks are the caller's to release (see
    * [[graft.ops.Staging.stageCheckpoint]]).
    *
    * The count is free because the materializing action IS a count. A
    * sweep operator that needs N (every PageRank variant seeds 1/N)
    * gets it from the job that pins the frame — the r14 shape ran
    * `pin(deg)` then `deg.count()`, one whole job re-scanning the
    * just-written blocks for a number the materialization pass already
    * knew (r14 verdict: sweep cost is per-job scheduling, not data
    * movement). The flagged count is the observable for INTEGRAL-state
    * convergence (r16 verdict item 6): a step that stamps a
    * changed-vs-last-sweep flag detects its fixpoint without a second
    * comparison job. The flag column stays in the returned frame.
    *
    * Mirrors Dataset.localCheckpoint(eager=true) at the RDD layer —
    * toRdd.map(_.copy()) (the physical rows are reused UnsafeRows;
    * caching without the copy aliases every row to the last one
    * scanned, silent corruption), RDD-level localCheckpoint, then the
    * counting action. */
  def apply(df: DataFrame, keys: Seq[String], numPartitions: Int,
            flagCol: Option[String] = None): (DataFrame, Long) = {
    require(numPartitions > 0, "need a positive partition count")
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    ensureStrategy(spark)
    graft.ops.Sweep.withoutAqe(spark) {
      val rep = df.repartition(numPartitions, keys.map(col): _*)
        .queryExecution
      val out = rep.analyzed.output
      // every check runs BEFORE the job: a failure after it would leave
      // cached checkpoint blocks that no caller ever registered for
      // release (callers stage only on successful return)
      val declared = HashPartitioning(resolve(keys, out), numPartitions)
      val idx = flagCol.fold(-1) { f =>
        val i = out.indexWhere(_.name == f)
        require(i >= 0 && out.count(_.name == f) == 1,
          s"flag column '$f' must match exactly one output column " +
            s"(${out.map(_.name).mkString(", ")})")
        require(out(i).dataType == org.apache.spark.sql.types.BooleanType,
          s"flag column '$f' must be boolean, is ${out(i).dataType}")
        i
      }
      val rdd = rep.toRdd.map(_.copy())
      rdd.localCheckpoint()
      // one materializing job; the count rides it free
      val counts = rdd.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => {
          var c = 0L
          while (it.hasNext) {
            val r = it.next()
            if (idx < 0 || (!r.isNullAt(idx) && r.getBoolean(idx))) c += 1
          }
          c
        })
      (Dataset.ofRows(spark, GraftPinnedRDD(out, rdd, declared)), counts.sum)
    }
  }

  private def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(GraftPinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GraftPinStrategy

  private def resolve(keys: Seq[String], output: Seq[Attribute])
      : Seq[Attribute] = {
    require(keys.nonEmpty, "need at least one key")
    keys.map { k =>
      // exactly-one match, or refuse: declaring a partitioning on
      // an ambiguous name could state a layout the data does not
      // have, which silently MIS-JOINS (wrong results, not a slow
      // plan). Unreachable via the repartition above (col(k) on a
      // duplicate name already throws AMBIGUOUS_REFERENCE), but
      // the declaration is the dangerous half — guard it directly.
      val matches = output.filter(_.name == k)
      require(matches.size == 1,
        s"key '$k' matches ${matches.size} checkpoint output columns " +
          s"(${output.map(_.name).mkString(", ")}) — refusing to " +
          "declare a partitioning on an ambiguous or missing name")
      matches.head
    }
  }
}

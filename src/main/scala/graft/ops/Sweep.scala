package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared harness for iterative sweep operators (PageRank, BFS/SSSP,
  * label propagation, k-core, HyperBall, connected components): one
  * entry point per job an operator needs, so each operator states only
  * its own relaxation step (r12 verdict #4).
  *
  *  - [[symmetrize]]/[[symmetrizeW]]: both edge orientations in ONE
  *    pass over the input (explode, map-side). The union form every
  *    operator used before r13 read the caller's edge pipeline twice
  *    — for the driver graph queries that duplicated the whole
  *    lineitem⋈orders⋈distinct build into both legs.
  *  - [[pin]]: eager materialization of a sweep-shared frame with its
  *    hash partitioning DECLARED, returning a row count (or flagged-row
  *    count) from the same job. Under AQE both a lazy cache and a
  *    plain localCheckpoint report unknown partitioning downstream
  *    (probed on this Spark build), so sweep joins silently
  *    re-exchanged the EDGE frame every sweep — the exact shuffle
  *    staging exists to avoid, and at 100 TB the dominant per-sweep
  *    cost (edge frame >> node frame). See
  *    [[org.apache.spark.sql.execution.GraftPartitionedCheckpoint]].
  *  - [[fold]]: the chunked sweep loop (a checkpoint every 2-3 sweeps,
  *    repartition seals in between) under a [[Halt]] rule. Its users:
  *    BFS/SSSP, label propagation, k-core, directed PageRank and
  *    connected components (`Dedup.connectedComponents`).
  *  - [[edgeScope]]: pins an operator's edge frame, derives the
  *    scale-adaptive partition count ([[sweepPartitions]]) from its
  *    row count, and runs the operator body inside
  *    [[withShufflePartitions]] at that count. [[scopePinned]] is its
  *    second half, for an operator that acts on the count first.
  *  - [[withoutAqe]]: the scope every pin's materializing job runs in.
  */
object Sweep {

  /** Both orientations of an edge list in one pass: (src, dst) rows. */
  def symmetrize(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** Weighted twin of [[symmetrize]]: (src, dst, w) rows. */
  def symmetrizeW(edges: DataFrame, aCol: String, bCol: String,
                  w: Column): DataFrame =
    edges.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst"), w.as("w")),
        struct(col(bCol).as("src"), col(aCol).as("dst"), w.as("w"))))
      .as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"),
              col("__e.w").as("w"))

  /** Eagerly materialize `df` hash-partitioned on `keys` into `n`
    * partitions with the partitioning declared, so downstream sweep
    * joins co-locate with no re-exchange. Returns the pinned frame and
    * the count its materializing job produced — all rows, or only the
    * rows whose boolean `flag` column is true (r14/r16 fused counts:
    * sweep cost on small graphs is per-job scheduling, so a number
    * the pin already knows never costs a second job). Blocks are
    * registered with [[Staging]] for release; superseded per-sweep
    * pins should be freed with [[Staging.dropCheckpoint]] once their
    * successor is material. */
  def pin(df: DataFrame, keys: Seq[String], n: Int,
          flag: Option[String] = None): (DataFrame, Long) = {
    val (ck, rows) = org.apache.spark.sql.execution
      .GraftPartitionedCheckpoint(df, keys, n, flag)
    Staging.stageCheckpoint(ck)
    (ck, rows)
  }

  /** Target rows per sweep partition for [[sweepPartitions]]. */
  private val PartitionRows = 262144L

  /** Scale-adaptive sweep partition count (r21 — guide §2.2 "fewer,
    * larger partitions"): pins run NON-adaptive by design (see
    * [[withoutAqe]]), so nothing ever coalesced their fixed
    * `spark.sql.shuffle.partitions`-sized exchanges — on a small/
    * sparse graph every sweep stage then schedules a full grid of
    * near-empty tasks (measured at sf0.1: the sweep family runs
    * 25-30% faster at 8 partitions than at 32 on a 1.2M-row edge
    * frame). This is the AQE-coalescing equivalent for the pinned
    * exchanges, derived from the MEASURED edge-frame row count (the
    * first pin's fused count — no extra job), not a constant:
    * `clamp(ceil(rows / PartitionRows), 1,
    * spark.sql.shuffle.partitions)`. The target (256k rows per
    * partition, ~15-50 MB for the narrow node/edge sweep frames) sits
    * in AQE's own advisory band; the cap keeps cluster behavior
    * unchanged — at 100 TB `rows/target` exceeds any session's
    * shuffle.partitions, so the operator runs exactly as before. */
  def sweepPartitions(spark: SparkSession, rows: Long): Int =
    math.min(defaultPartitions(spark).toLong,
      math.max(1L, (rows + PartitionRows - 1) / PartitionRows)).toInt

  /** Pin an operator's edge frame ONCE with a fused count, derive the
    * sweep partition count `np` from the MEASURED edge rows
    * ([[sweepPartitions]]), re-pin at `np` when it differs from the
    * session default, and run `body(edges, np, edgeRows)` inside
    * [[withShufflePartitions]]`(np)`. At 100 TB the clamp makes the
    * two counts equal, so the re-pin never runs and the operator
    * behaves exactly as before; on a small/sparse graph it stops every
    * sweep stage from scheduling a full shuffle.partitions grid of
    * near-empty tasks. Every pin, fold and seal in the body takes
    * `np`, and every exchange planned inside (per-sweep aggregates)
    * inherits it from the scope, so all sweep joins stay co-located —
    * a mixed layout would make EnsureRequirements re-exchange one side
    * of every sweep join. */
  def edgeScope[T](edges: DataFrame, key: String)
                  (body: (DataFrame, Int, Long) => T): T = {
    val (p0, rows) = pin(edges, Seq(key), defaultPartitions(edges.sparkSession))
    scopePinned(p0, key, rows)(body)
  }

  /** [[edgeScope]] for an edge frame the caller already pinned on `key`
    * at [[defaultPartitions]], `rows` being that pin's fused count. It
    * lets an operator decide on the count before any re-pin runs
    * (connected components hands a small graph to the driver). */
  def scopePinned[T](p0: DataFrame, key: String, rows: Long)
                    (body: (DataFrame, Int, Long) => T): T = {
    val spark = p0.sparkSession
    val np = sweepPartitions(spark, rows)
    val e = if (np == defaultPartitions(spark)) p0 else {
      val p = pin(p0, Seq(key), np)._1
      Staging.dropCheckpoint(p0)
      p
    }
    withShufflePartitions(spark, np)(body(e, np, rows))
  }

  /** The session's `spark.sql.shuffle.partitions`: the count an edge
    * frame is first pinned at, and the cap of [[sweepPartitions]]. */
  def defaultPartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** When [[fold]] stops before its sweep budget. Fixed budgets stay
    * the determinism contract (the output is identical either way —
    * that is what makes an early stop sound), but a sweep whose state
    * is integer-exact can DETECT its fixpoint and skip the remaining
    * chunks' scheduler jobs entirely (r16 verdict item 6). The
    * observable is the chunk pin's own fused count, so the per-chunk
    * job count is UNCHANGED; only post-fixpoint chunks disappear.
    * Float-state sweeps (PageRank) must use [[Halt.Budget]]: their
    * residual never hits integral zero. */
  sealed trait Halt
  object Halt {
    /** Run every sweep of the budget. */
    case object Budget extends Halt
    /** MONOTONE SHRINKAGE (k-core peeling): the chunk pin's row count
      * equals the previous pin's count iff no sweep in the chunk
      * removed anything, and a peel that removes nothing is a fixpoint
      * forever. `initRows` (the count fused into the init pin) arms the
      * check from the first chunk. */
    final case class RowsUnchanged(initRows: Long) extends Halt
    /** SYNCHRONOUS RELABELING (label propagation): the step stamps a
      * boolean changed-vs-previous `flag` on each row; zero flagged
      * rows in the chunk's LAST sweep means state(t) == state(t-1), and
      * a synchronous update that reproduced its input reproduces it
      * forever. The flag column remains in the returned frame —
      * callers strip it. */
    final case class NoneFlagged(flag: String) extends Halt
  }

  /** Run `total` sweeps of `step` from `init`, checkpointing every
    * CHUNK of sweeps rather than every sweep (r15 verdict: on small
    * graphs the sweep class's cost is per-job scheduling — each pin is
    * one scheduler job, so halving the pin cadence halves that cost;
    * at 1000 executors each job is a full driver scheduling
    * round-trip), until `halt` says the state reached its fixpoint.
    *
    * Cadence: chunks of 2, except the final chunk absorbs a trailing
    * odd sweep (sizes [2,2,...,2] or [2,...,2,3]; a total <= 3 is one
    * chunk). A trailing singleton pin would spend a whole scheduler
    * job to materialize one lazy sweep — merging it into the prior
    * chunk is free because every intra-chunk intermediate is sealed
    * (below): its consumers (each sweep reads its predecessor 2-3
    * times — relax+merge joins, D-aggregate+mass join, degree
    * aggregate+both semi-joins) evaluate it once, inside the chunk's
    * single pin job, and no extra job is paid.
    * Lineage stays bounded: every chunk roots at the previous
    * checkpoint.
    *
    * Superseded checkpoints are dropped once their successor is
    * material; a lazy (non-checkpoint) `init` is left untouched
    * ([[Staging.dropCheckpoint]] is a no-op for it).
    *
    * Returns the final state, the sweeps run and whether `halt` fired.
    * Under [[Halt.NoneFlagged]] a state that reproduces itself is a
    * fixpoint, so "the halt fired within `total`" is the same test as
    * "some sweep within `total` changed nothing": a loop that must
    * converge within its budget (connected components) throws when
    * `halted` is false. */
  def fold(init: DataFrame, total: Int, keys: Seq[String], n: Int,
           halt: Halt = Halt.Budget)
          (step: DataFrame => DataFrame): Folded = {
    require(total >= 1, "total sweeps must be >= 1")
    // Intra-chunk intermediates are sealed with a repartition(n, keys)
    // EXCHANGE, not a persist: a cached frame is a NARROW dependency,
    // so its multiple consumer stages each embed its compute and the
    // DAGScheduler runs those stages concurrently — the consumers RACE
    // to fill the cache and the sweep is computed once per consumer
    // (measured: q192 tasks 457->1033 with persisted intermediates; an
    // AQE-on persist additionally wraps the cache child in an
    // AdaptiveSparkPlan that spawns its own stage jobs). The
    // repartition makes the intermediate's consumers share an
    // identical exchange subtree, which ReuseExchange collapses to ONE
    // mapper stage whose shuffle files every consumer reads — no race,
    // no recompute, and the hash(keys) layout is exactly what the
    // per-sweep pin's own repartition used to restore, so intra-chunk
    // joins co-locate the same way (shuffle volume is unchanged; the
    // checkpoint write/read and its scheduler job are what disappear).
    val flag = halt match {
      case Halt.NoneFlagged(f) => Some(f)
      case _ => None
    }
    var cur = init
    var prevRows = halt match {
      case Halt.RowsUnchanged(r) => r
      case _ => -1L
    }
    var done = 0
    var converged = false
    while (done < total && !converged) {
      val remaining = total - done
      val take = if (remaining <= 3) remaining else 2
      var x = cur
      for (i <- 1 to take)
        x = if (i < take) step(x).repartition(n, keys.map(col): _*)
            else step(x)
      val (ck, cnt) = pin(x, keys, n, flag)
      Staging.dropCheckpoint(cur)
      cur = ck
      done += take
      converged = halt match {
        case Halt.Budget => false
        case Halt.RowsUnchanged(_) => cnt == prevRows
        case Halt.NoneFlagged(_) => cnt == 0L
      }
      prevRows = cnt
    }
    Folded(cur, done, converged)
  }

  /** What [[fold]] ran: its final `state`, the `sweeps` it took, and
    * whether its [[Halt]] rule fired (never under [[Halt.Budget]]). */
  final case class Folded(state: DataFrame, sweeps: Int, halted: Boolean)

  // r22 (r21 advice): guard against NESTED scopes on the same thread —
  // an inner scope would plan the outer operator's remaining exchanges
  // under the wrong count and silently restore the inner prior. No
  // operator nests today; an embedder composing operators inside a
  // scope fails loudly here instead of serializing its sweeps.
  private val wspActive = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }

  /** Run `body` (a sweep operator's pin/fold phase) with
    * `spark.sql.shuffle.partitions` set to the [[sweepPartitions]]-
    * derived count, restoring the prior value after. Every eager pin
    * and every lazy exchange PLANNED inside the body (the per-sweep
    * mass/label aggregates, intra-chunk seals, terminal pins) then
    * shares ONE partition count, so all sweep joins stay co-located —
    * a mixed layout would make EnsureRequirements re-exchange one side
    * of every sweep join. Session-scoped like [[withoutAqe]]
    * (Verify/Bench drive queries sequentially). */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    require(!wspActive.get,
      "nested withShufflePartitions scopes on one thread — thread the " +
        "partition count explicitly (pin/fold take it) instead of " +
        "relying on ambient session conf")
    wspActive.set(true)
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally {
      spark.conf.set(key, prior)
      wspActive.set(false)
    }
  }

  /** Run `body` (a materializing action whose plan is already fully
    * determined — [[GraftPartitionedCheckpoint]]'s pin pass) with AQE
    * disabled, restoring the prior setting after. Why AQE has nothing
    * to decide ANYWHERE in a pin's plan, including the FIRST pin of a
    * sweep whose upstream reads raw tables (the wrapper covers the
    * whole action, not just the terminal exchange):
    *  - the terminal `repartition(n, key)` is a user-specified count
    *    AQE may not resize;
    *  - later pins' join inputs are prior checkpoint RDDs with
    *    DECLARED partitioning, so they enter joins without a shuffle
    *    stage — and AQE's skew-join split requires shuffle stages on
    *    BOTH sides (it cannot split a cached-RDD partition);
    *  - first-pin upstreams are groupBy AGGREGATES, and AQE has no
    *    skew remedy for aggregate shuffles at all (OptimizeSkewedJoin
    *    is join-only); coalescing an intermediate aggregate exchange
    *    only to re-expand into the fixed-count repartition saves
    *    nothing.
    * What remains is only AQE's cost: one scheduler job per
    * materialized query stage, ×2–3 per pin (measured r15 on the
    * sweep class: q90 16→10 jobs, q121 25→14, q168 22→16, q192 22→13
    * at identical hashes and flat wall — at 1000 executors each job
    * is a full driver scheduling round-trip per sweep), plus the
    * known layout-erasure hazard on cached plans (the r13
    * canChangeCachedPlanOutputPartitioning trap). Terminal sweep
    * plans and their consumers run OUTSIDE the wrapper and keep AQE —
    * joins/aggregations over unknown-size results are where runtime
    * re-planning actually has information to use.
    *
    * Session-scoped config: concurrent queries on the same session
    * during the body would also run non-adaptively (harmless for
    * correctness; Verify/Bench run queries sequentially). */
  def withoutAqe[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prior)
  }
}

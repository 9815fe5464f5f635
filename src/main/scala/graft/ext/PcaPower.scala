package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Top principal direction of an embedding column's SECOND-MOMENT
  * matrix by fixed-budget power iteration — the one-pass linear
  * algebra under embedding whitening / anisotropy diagnostics.
  *
  * The d x d Gram matrix accumulates MAP-SIDE from per-row outer
  * products (the only pass over the data: one scan + one d^2 shuffle
  * of partial sums), then `steps` power iterations
  * x_{t+1} = G x_t / max|G x_t| run on d-sized broadcast frames —
  * never a data-sized shuffle. Like the pinned-sweep PageRank family
  * this is a DEFINED statistic (a fixed step budget from the all-ones
  * start), not an adaptive solver: every per-row product and matvec
  * term is floored to integer nanos before its sum (the cross-cell
  * rule — a float sum is partial-agg-order dependent, a sum of
  * floored integers is not), so the Gram, the iterates, and the
  * max-abs eigenvalue estimate are exact integers end to end and an
  * oracle can replay them bit for bit.
  *
  * Returns (dim, loading_nano, lambda_nano): dim is 1-based, loading
  * is the final iterate normalized to max-abs 1e9, lambda_nano is
  * max|G x| of the last step (the dominant-eigenvalue estimate at
  * max-abs normalization). Scale note: the nano Gram entries are
  * bounded by 1e9 * sum|v_i v_j| — BIGINT holds ~9e9 unit-scale rows;
  * beyond that the accumulator column flips to DECIMAL(38,0), the
  * plan unchanged.
  */
object PcaPower {

  /** ONE string per term (shared with any SQL replay, so every IEEE
    * op runs in the identical order): per-row outer product, matvec
    * product, max-abs renorm. */
  val GramTermNano: String =
    "CAST(floor(1000000000.0 * CAST(vi AS DOUBLE) * CAST(vj AS DOUBLE)) " +
      "AS BIGINT)"
  val MatvecTermNano: String =
    "CAST(floor(CAST(g AS DOUBLE) * CAST(x AS DOUBLE) / 1000000000.0) " +
      "AS BIGINT)"
  val RenormNano: String =
    "CAST(floor(CAST(y AS DOUBLE) * 1000000000.0 / CAST(m AS DOUBLE)) " +
      "AS BIGINT)"

  def topComponent(emb: DataFrame, vecCol: String,
                   steps: Int = 3): DataFrame = {
    require(steps >= 1, "at least one power step")
    val gm = graft.ops.Staging.stage(emb
      .select(col(vecCol).as("__v"))
      .select(col("__v"), posexplode(col("__v")).as(Seq("i0", "vi")))
      .select(col("i0"), col("vi"),
        posexplode(col("__v")).as(Seq("j0", "vj")))
      .select((col("i0") + 1).cast("long").as("i"),
        (col("j0") + 1).cast("long").as("j"),
        expr(GramTermNano).as("t"))
      .groupBy("i", "j").agg(sum("t").as("g")))
    val x0 = gm.select(col("i")).distinct()
      .select(col("i").as("j"), lit(1000000000L).as("x"))
    // Every per-step frame is EAGERLY checkpointed (r21, the
    // BradleyTerry.fit discipline): each matvec output y has TWO
    // consumers (the renorm projection and its max-abs aggregate) and
    // every broadcast(x) re-evaluates its whole upstream chain — lazy,
    // the d-sized iterate lineage re-ran once per consumer,
    // compounding per step (measured: 77 scheduler jobs / 1441 tasks
    // for steps = 3 at sf0.1); a lazy persist() still let the terminal
    // action's concurrent broadcast futures RACE to fill the caches
    // (the Sweep.fold seal hazard — measured 0.7 s × 4 redundant
    // fills). localCheckpoint(true) computes each d-row frame exactly
    // once, values bit-identical; the frames are d rows regardless of
    // corpus size, so the checkpoint is free at any scale.
    def matvec(x: DataFrame): DataFrame = graft.ops.Staging.stageCheckpoint(
      gm.join(broadcast(x), "j")
        .groupBy("i").agg(sum(expr(MatvecTermNano)).as("y"))
        .localCheckpoint(true))
    def renorm(y: DataFrame): DataFrame = graft.ops.Staging.stageCheckpoint(
      y.crossJoin(broadcast(y.agg(max(abs(col("y"))).as("m"))))
        .select(col("i").as("j"), expr(RenormNano).as("x"))
        .localCheckpoint(true))
    val xLast = (1 until steps).foldLeft(x0)((x, _) => renorm(matvec(x)))
    val yLast = matvec(xLast)
    yLast.crossJoin(broadcast(yLast.agg(max(abs(col("y"))).as("m"))))
      .select(col("i").as("dim"), expr(RenormNano).as("loading_nano"),
        col("m").as("lambda_nano"))
  }
}

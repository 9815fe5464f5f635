package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operator kernels.
  *
  * These cover the operator families in SURVEY.md §2 (dedup-keep-last,
  * top-1-per-group, pivot/unpivot, trailing lag averages, top-k,
  * dictionary translation with fallback). Reference semantics:
  * crdcj/FinLogic `src/finlogic/data.py:48-56`, `indicators.py:34-69,
  * 108-116`, `company.py:317-335,425-433` — re-expressed as Spark
  * window/group-by plans rather than the reference's sort+unique scans.
  *
  * Scale notes (100 TB): every kernel shuffles at most once, keyed on
  * the group columns; callers that chain several kernels over the same
  * keys share the exchange (Catalyst reuses the hash partitioning).
  * Orderings are made total by appending tie-break columns, so results
  * are deterministic under any partitioning (SURVEY.md §2.10 trap 7).
  */
object Kernels {

  /** Keep the last row per key group under a total ordering — the
    * window-top-1 form of Polars `sort(...).unique(subset, keep="last")`
    * (reference `data.py:51-52,189-190`, `indicators.py:34-35`).
    *
    * One shuffle on `keys`; no full sort. `order` must be total for
    * determinism — append a unique tie-break column if needed.
    */
  def dedupKeepLast(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** First row per key group under an ascending total ordering. */
  def top1PerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Global top-k: `orderBy(order).limit(k)`. Catalyst plans this as
    * TakeOrderedAndProject — per-partition heaps + a k-row merge on the
    * driver, never a full sort (reference's `rank()` does sort+head,
    * `data.py:197-198`; this is the scale-correct form).
    */
  def topK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Pivot with explicit values (skips Spark's values-discovery job —
    * at 100 TB that extra pass over the fact table matters). Mirrors
    * Polars `pivot(aggregate_function="first")` (`indicators.py:40-44`);
    * input must be pre-deduplicated on (idx, pivotCol) for `first` to be
    * deterministic, as the reference guarantees at `indicators.py:34-35`.
    */
  def pivotFirst(df: DataFrame, idx: Seq[String], pivotCol: String,
                 values: Seq[String], valueCol: String): DataFrame =
    df.groupBy(idx.map(col): _*)
      .pivot(pivotCol, values)
      .agg(first(col(valueCol)))

  /** Unpivot (melt) value columns into (variable, value) rows —
    * Polars `unpivot` (`indicators.py:223-224`); Spark >= 3.4 native. */
  def unpivot(df: DataFrame, idx: Seq[String], valueCols: Seq[String],
              varName: String, valName: String): DataFrame =
    df.unpivot(idx.map(col).toArray, valueCols.map(col).toArray, varName, valName)

  /** Trailing two-period average with lag-1 fallback-to-self:
    * `avg = (x + coalesce(lag(x,1), x)) / 2` per group ordered by
    * `ord` — the annual-average form (reference `indicators.py:47-54`).
    */
  def trailingAvg2(df: DataFrame, keys: Seq[String], ord: Column,
                   cols: Seq[String], prefix: String = "avg_"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord)
    df.select(col("*") +: cols.map(c =>
      ((col(c) + coalesce(lag(col(c), 1).over(w), col(c))) / 2).as(prefix + c)): _*)
  }

  /** Quarterly trailing average: prefer same quarter last year (lag 4),
    * else previous quarter (lag 1), else self (`indicators.py:57-69`).
    */
  def trailingAvg4(df: DataFrame, keys: Seq[String], ord: Column,
                   cols: Seq[String], prefix: String = "avg_"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord)
    df.select(col("*") +: cols.map { c =>
      val prev = coalesce(lag(col(c), 4).over(w), lag(col(c), 1).over(w), col(c))
      ((col(c) + prev) / 2).as(prefix + c)
    }: _*)
  }

  /** Skew-safe equi-join: salt the left (large, skewed) side into
    * `saltBuckets` deterministic sub-keys and replicate the right side
    * once per bucket, so a single hot key spreads across `saltBuckets`
    * tasks instead of one straggler. Use when the right side is too
    * big to broadcast and AQE's skew handling isn't available (e.g.
    * the exchange is reused). Output equals the plain inner join.
    */
  def skewSafeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   saltBuckets: Int): DataFrame = {
    val l = left.withColumn("__salt",
      pmod(xxhash64(left.columns.toIndexedSeq.map(col): _*), lit(saltBuckets.toLong)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    l.join(r, keys :+ "__salt").drop("__salt")
  }

  /** Two-phase SALTED aggregation for skewed group keys — the
    * aggregation sibling of [[skewSafeJoin]] (SURVEY §7.2 step 7's
    * "salted aggregation for 100-TB skew", previously punted to
    * callers at AsOf.scala:20). Rows get a deterministic salt
    * (xxhash64 of the whole row mod `saltBuckets`); phase 1 reduces
    * per (keys, salt) — the hot key's rows spread over `saltBuckets`
    * reducers instead of one straggler — and phase 2 merges the
    * (|groups| × saltBuckets)-row partials per key, a near-free
    * second exchange.
    *
    * When to reach for it: Spark's map-side partial aggregation
    * already tames skew for cheap algebraic aggs when input
    * partitioning is uncorrelated with the key. The salted form wins
    * when that partial layer can't do the heavy lifting — wide
    * per-group state (collect-based aggs, big sketch buffers,
    * high-accuracy percentile digests) or inputs arriving already
    * partitioned/sorted by a correlate of the hot key, where every
    * hot-key map partial still funnels into ONE reducer's merge.
    *
    * `aggs` are (function, inputCol, outName) with function ∈
    * count | sum | min | max | avg ("*" as inputCol for row count).
    * All five split exactly: count/sum merge by sum, min/max by
    * min/max; avg merges as sum-of-sums / sum-of-counts, which for
    * float inputs reassociates the addition order — at ulp level,
    * like any distributed float sum (round before hashing, as every
    * driver query does). Output equals the unsalted
    * `groupBy(keys).agg(...)` row set.
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltBuckets: Int,
                aggs: Seq[(String, String, String)]): DataFrame = {
    require(saltBuckets >= 2, "saltBuckets must be >= 2")
    require(aggs.nonEmpty, "need at least one aggregate")
    val known = Set("count", "sum", "min", "max", "avg")
    aggs.foreach { case (fn, _, _) =>
      require(known(fn), s"unsupported aggregate '$fn' (${known.mkString("/")})")
    }
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*),
           lit(saltBuckets.toLong)))
    val p1 = aggs.zipWithIndex.flatMap { case ((fn, in, _), i) =>
      fn match {
        case "count" =>
          Seq(count(if (in == "*") lit(1) else col(in)).as(s"__p_$i"))
        case "sum" => Seq(sum(col(in)).as(s"__p_$i"))
        case "min" => Seq(min(col(in)).as(s"__p_$i"))
        case "max" => Seq(max(col(in)).as(s"__p_$i"))
        case "avg" => Seq(sum(col(in)).as(s"__p_$i"),
                          count(col(in)).as(s"__pc_$i"))
      }
    }
    val partial = salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(p1.head, p1.tail: _*)
    val p2 = aggs.zipWithIndex.map { case ((fn, _, out), i) =>
      fn match {
        case "count" | "sum" => sum(col(s"__p_$i")).as(out)
        case "min" => min(col(s"__p_$i")).as(out)
        case "max" => max(col(s"__p_$i")).as(out)
        case "avg" =>
          (sum(col(s"__p_$i")) / sum(col(s"__pc_$i"))).as(out)
      }
    }
    partial.groupBy(keys.map(col): _*).agg(p2.head, p2.tail: _*)
  }

  /** Item co-visitation pairs ("users who touched X also touched Y")
    * — the recommender co-occurrence matrix. The pair join is
    * per-user over each user's DISTINCT item set, so the work is
    * Σ_u C(|items_u|, 2): linear in corpus size, but QUADRATIC in one
    * user's activity — a single bot with 10⁵ items contributes 5×10⁹
    * pairs from one key. `maxItemsPerUser` is the occupancy guard for
    * that shape (the EntityRes `maxBlockNames` / Similarity
    * `maxBandBucket` discipline applied to the user key): keep each
    * user's top-N items by `recencyCol` (most recent wins; item id
    * breaks ties — deterministic), bounding pairs per user at
    * C(N, 2). The documented approximation: a capped user's older
    * items drop out of every pair they would have supported —
    * recency-ranked truncation is the standard co-visitation window
    * (recent co-occurrence is the signal recommenders want anyway).
    * With no `recencyCol`, the cap keeps the N lowest item ids (still
    * deterministic, no hidden hash order).
    *
    * Input is EVENT-grained (one row per touch, duplicates fine);
    * distinctness is established here so the cap ranks each (user,
    * item) once. One exchange on the user key serves the distinct,
    * the rank and the self-join; the pair aggregate collapses to
    * ≤ |items|² rows. Returns (item_a, item_b, n_users) with
    * `item_a < item_b`; callers order/limit.
    */
  def covisitPairs(df: DataFrame, userCol: String, itemCol: String,
                   recencyCol: Option[String] = None,
                   maxItemsPerUser: Option[Int] = None): DataFrame = {
    maxItemsPerUser.foreach(n =>
      require(n >= 2, "maxItemsPerUser below 2 generates no pairs"))
    val perItem = recencyCol match {
      case Some(rc) => df.groupBy(col(userCol), col(itemCol))
        .agg(max(col(rc)).as("__rec"))
      case None => df.select(col(userCol), col(itemCol)).distinct()
    }
    val capped = maxItemsPerUser match {
      case Some(n) =>
        val order = recencyCol match {
          case Some(_) => Seq(col("__rec").desc, col(itemCol))
          case None => Seq(col(itemCol))
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(userCol).orderBy(order: _*)
        perItem.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= n)
      case None => perItem
    }
    // staged: the self-join reads the per-user item frame twice.
    // (r21 probe note: a user-repartition pin on the join key — the
    // q42 exploding-join remedy — was tried and REVERTED here: this
    // join's AQE-planned exchanges already run 4-8 adequate
    // partitions at the audit SFs (events carries enough bytes), and
    // forcing the full shuffle grid only added tiny-task overhead —
    // measured q247 1.65 -> 2.7 s, q270 2.0 -> 3.0 s.)
    val ui = Staging.stage(capped.select(col(userCol), col(itemCol)))
    ui.as("x").join(ui.as("y"),
        col(s"x.$userCol") === col(s"y.$userCol") &&
          col(s"x.$itemCol") < col(s"y.$itemCol"))
      .groupBy(col(s"x.$itemCol").as("item_a"),
               col(s"y.$itemCol").as("item_b"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Clamped (floored) running sum per key — inventory / account-
    * balance semantics: `bal_i = max(floor, bal_(i-1) + v_i)` with
    * `bal_0 = floor + 0`. NOT a window function: the clamp makes each
    * step depend on the CLAMPED previous step, not on any prefix
    * aggregate (`max(floor, cumsum)` is a different, wrong series).
    * This is the canonical per-key sequential recurrence, distributed
    * via the secondary-sort pattern: repartition on the key, sort
    * WITHIN partitions on (key, order), then one mapPartitions scan
    * that carries only the current key's balance — constant memory
    * per task at any rows-per-key (a flatMapGroups formulation would
    * buffer whole groups; a driver collect wouldn't distribute).
    * Appends `balance` and `clamped` (did this step hit the floor)
    * to the input columns. Ordering must be total per key or the
    * scan order — and thus the balances — is nondeterministic.
    */
  def clampedRunningSum(df: DataFrame, keyCol: String,
                        orderCols: Seq[String], valueCol: String,
                        floor: Double = 0.0): DataFrame = {
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("balance",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("clamped",
          org.apache.spark.sql.types.BooleanType, nullable = false)))
    val keyIdx = df.schema.fieldIndex(keyCol)
    val valIdx = df.schema.fieldIndex(valueCol)
    df.repartition(col(keyCol))
      .sortWithinPartitions((keyCol +: orderCols).map(col): _*)
      .mapPartitions { rows =>
        var curKey: Any = null
        var haveKey = false
        var bal = floor
        rows.map { r =>
          val k = r.get(keyIdx)
          if (!haveKey || k != curKey) { curKey = k; haveKey = true; bal = floor }
          val raw = bal + r.getDouble(valIdx)
          val clamped = raw < floor
          bal = if (clamped) floor else raw
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ bal :+ clamped)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Cooldown (throttle) filter per key — the alert-suppression /
    * notification-rate-limit operator: a row EMITS iff its time is at
    * least `cooldown` after the previously EMITTED row of its key
    * (the first row always emits). NOT a window function: the gate
    * compares against the last *emitted* time, not the previous row —
    * `lag(t) >= cooldown` is a different, wrong series (a burst of
    * sub-cooldown rows would re-arm on every row). Like
    * [[clampedRunningSum]], the feedback rides the secondary-sort
    * scan: one exchange on the key, in-partition sort, a
    * constant-memory pass carrying only the current key's last-emit
    * time. Appends boolean `emitted`. Ordering must be total per key
    * or the emit set is nondeterministic; times are caller-supplied
    * integers (micros, days — any monotone unit).
    */
  def cooldownFilter(df: DataFrame, keyCol: String, orderCols: Seq[String],
                     timeCol: String, cooldown: Long): DataFrame = {
    require(cooldown >= 0, "cooldown must be non-negative")
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        "emitted", org.apache.spark.sql.types.BooleanType, nullable = false))
    val keyIdx = df.schema.fieldIndex(keyCol)
    val timeIdx = df.schema.fieldIndex(timeCol)
    df.repartition(col(keyCol))
      .sortWithinPartitions((keyCol +: orderCols).map(col): _*)
      .mapPartitions { rows =>
        var curKey: Any = null
        var haveKey = false
        var lastEmit = 0L
        var haveEmit = false
        rows.map { r =>
          val k = r.get(keyIdx)
          if (!haveKey || k != curKey) {
            curKey = k; haveKey = true; haveEmit = false
          }
          val t = r.getLong(timeIdx)
          val emit = !haveEmit || t >= lastEmit + cooldown
          if (emit) { lastEmit = t; haveEmit = true }
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ emit)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Dual-rule sessionizer — idle gap AND hard span cap: a row starts
    * a NEW session iff it is more than `gap` past the previous row of
    * its key, OR joining the current session would stretch its total
    * span past `maxSpan` (the first row of a key always starts one).
    * The gap-only sessionizer (q23's window form) misses the second
    * rule every analytics stack eventually adds: a steady drip of
    * sub-gap events chains one "session" across days — the cap bounds
    * every session's span, which downstream per-session aggregates
    * (and any state store keyed on session) rely on. NOT a window
    * function: the cap compares against the running session START —
    * a value the split decision itself feeds back into (same
    * recurrence class as [[cooldownFilter]]); `lag()` cannot express
    * it. One exchange on the key, in-partition secondary sort, a
    * constant-memory pass carrying (session start, previous time).
    * Appends long `session_start` (the session's first row time —
    * a deterministic session id within the key). Ordering must be
    * total per key; times are caller-supplied integers.
    */
  def cappedSessionize(df: DataFrame, keyCol: String, orderCols: Seq[String],
                       timeCol: String, gap: Long, maxSpan: Long): DataFrame = {
    require(gap >= 0 && maxSpan >= 0, "gap and maxSpan must be non-negative")
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        "session_start", org.apache.spark.sql.types.LongType, nullable = false))
    val keyIdx = df.schema.fieldIndex(keyCol)
    val timeIdx = df.schema.fieldIndex(timeCol)
    df.repartition(col(keyCol))
      .sortWithinPartitions((keyCol +: orderCols).map(col): _*)
      .mapPartitions { rows =>
        var curKey: Any = null
        var haveKey = false
        var sessStart = 0L
        var prev = 0L
        rows.map { r =>
          val k = r.get(keyIdx)
          val t = r.getLong(timeIdx)
          if (!haveKey || k != curKey) {
            curKey = k; haveKey = true; sessStart = t
          } else if (t - prev > gap || t - sessStart > maxSpan) {
            sessStart = t
          }
          prev = t
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ sessStart)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Holt's linear (double-exponential) smoothing per key — the
    * trend-aware sibling of the plain EWMA (q139):
    * `level_t = α·y_t + (1−α)·(level_{t−1} + trend_{t−1})`,
    * `trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}`,
    * seeded `level_1 = y_1, trend_1 = 0`. Like [[clampedRunningSum]],
    * the feedback (the smoothed trend feeds the next level) is NOT a
    * window frame over any prefix aggregate, so it rides the same
    * secondary-sort scan: one exchange on the series key, an
    * in-partition sort, a constant-memory pass per task. Series
    * COUNT scales out across executors; series LENGTH streams through
    * the scan. The fp op ORDER is part of the contract — the oracle's
    * recursive CTE replays `α·y + (1−α)·(l+b)` then `β·(l′−l) +
    * (1−β)·b` with textually identical expressions, so every level
    * and trend is bit-identical across engines. Appends `level` and
    * `trend`. Ordering must be total per key.
    */
  def holtLinear(df: DataFrame, keyCol: String, orderCols: Seq[String],
                 valueCol: String, alpha: Double, beta: Double): DataFrame = {
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("level",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("trend",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
    val keyIdx = df.schema.fieldIndex(keyCol)
    val valIdx = df.schema.fieldIndex(valueCol)
    df.repartition(col(keyCol))
      .sortWithinPartitions((keyCol +: orderCols).map(col): _*)
      .mapPartitions { rows =>
        var curKey: Any = null
        var haveKey = false
        var l = 0.0
        var b = 0.0
        rows.map { r =>
          val k = r.get(keyIdx)
          val y = r.getDouble(valIdx)
          if (!haveKey || k != curKey) {
            curKey = k; haveKey = true; l = y; b = 0.0
          } else {
            val lNew = alpha * y + (1 - alpha) * (l + b)
            b = beta * (lNew - l) + (1 - beta) * b
            l = lNew
          }
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ l :+ b)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Croston's method (Croston 1972 — the intermittent-demand
    * forecasting standard) per series: two exponential smoothers, one
    * over the NONZERO demand sizes, one over the inter-demand
    * intervals, stepped only on demand periods; the per-period
    * forecast is size/interval. State machine per (ordered) series
    * row:
    *   - first nonzero y: size = y, interval = rn (gap from series
    *     start — the classic init), remember rn
    *   - later nonzero y: size' = a*y + (1-a)*size,
    *     interval' = a*(rn - lastRn) + (1-a)*interval
    *   - zero y: carry (outputs repeat the last state)
    * Outputs are NULL before the first demand (no state exists yet).
    * Same secondary-sort scan shape as [[holtLinear]]: series count
    * scales out, each series is one constant-memory pass, and the
    * oracle replays the identical op order as a recursive CTE
    * (interpolate `alpha` and `1 - alpha` VERBATIM into its text so
    * both engines smooth with the same doubles). */
  def crostonForecast(df: DataFrame, keyCol: String, orderCols: Seq[String],
                      valueCol: String, alpha: Double): DataFrame = {
    val clash = Seq("demand_level", "interval_level", "forecast")
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"crostonForecast reserves output columns ${clash.mkString(", ")} — rename them upstream")
    val b = 1 - alpha
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("demand_level",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("interval_level",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("forecast",
          org.apache.spark.sql.types.DoubleType, nullable = true)))
    val keyIdx = df.schema.fieldIndex(keyCol)
    val valIdx = df.schema.fieldIndex(valueCol)
    df.repartition(col(keyCol))
      .sortWithinPartitions((keyCol +: orderCols).map(col): _*)
      .mapPartitions { rows =>
        var curKey: Any = null
        var haveKey = false
        var rn = 0L
        var seen = false
        var z = 0.0
        var p = 0.0
        var lastRn = 0L
        rows.map { r =>
          val k = r.get(keyIdx)
          if (!haveKey || k != curKey) {
            curKey = k; haveKey = true; rn = 0L; seen = false
          }
          rn += 1
          val y = r.getDouble(valIdx)
          if (y > 0.0) {
            if (!seen) { z = y; p = rn.toDouble; seen = true }
            else {
              z = alpha * y + b * z
              p = alpha * (rn - lastRn).toDouble + b * p
            }
            lastRn = rn
          }
          val out: Seq[Any] =
            if (seen) Seq(z, p, z / p) else Seq(null, null, null)
          org.apache.spark.sql.Row.fromSeq(r.toSeq ++ out)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Greedy MAXIMUM NON-OVERLAPPING interval selection per key — the
    * classic activity-selection algorithm (sort by end, keep every
    * interval whose start clears the last kept end), which the
    * exchange argument proves OPTIMAL for max cardinality, so the
    * per-key kept-count is a well-defined statistic (capacity
    * planning's "how many jobs fit serially"), not a heuristic.
    * Touching intervals (start == previous end) are kept — the
    * half-open [start, end) convention. The scan order is
    * (end, start, tieCol), so both engines replay the identical
    * selection; adds a `kept` boolean. Same secondary-sort shape as
    * [[holtLinear]]: keys scale out, one constant-memory pass per
    * key. */
  def maxNonOverlap(df: DataFrame, keyCol: String, startCol: String,
                    endCol: String, tieCol: String): DataFrame = {
    require(!df.columns.contains("kept"),
      "maxNonOverlap reserves the output column kept — rename it upstream")
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        "kept", org.apache.spark.sql.types.BooleanType, nullable = false))
    val keyIdx = df.schema.fieldIndex(keyCol)
    val sIdx = df.schema.fieldIndex(startCol)
    val eIdx = df.schema.fieldIndex(endCol)
    df.repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(endCol), col(startCol),
        col(tieCol))
      .mapPartitions { rows =>
        var curKey: Any = null
        var haveKey = false
        var lastEnd = Long.MinValue
        rows.map { r =>
          val k = r.get(keyIdx)
          if (!haveKey || k != curKey) {
            curKey = k; haveKey = true; lastEnd = Long.MinValue
          }
          val kept = r.getLong(sIdx) >= lastEnd
          if (kept) lastEnd = r.getLong(eIdx)
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ kept)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** IEEE-754 float division under Spark's default ANSI mode (which
    * throws on /0): x/0 -> +-Inf, 0/0 -> NaN — the semantics eager
    * columnar engines (and the reference's Polars kernels) give.
    * NULL in either operand propagates NULL (SQL/Polars semantics),
    * never Inf/NaN.
    */
  def ieeeDivide(num: Column, den: Column): Column =
    when(num.isNull || den.isNull, lit(null).cast("double"))
      .when(den =!= 0.0, num / den)
      .otherwise(
        when(num === 0.0, lit(Double.NaN))
          .otherwise(when(num > 0, lit(Double.PositiveInfinity))
            .otherwise(lit(Double.NegativeInfinity))))

  /** Dictionary translation as a broadcast left join with a prefixed
    * fallback for missing keys — the distributed form of the
    * reference's Python dict + `replace_strict` (`company.py:425-433`),
    * for a dictionary held as a frame. The dict side stays distributed
    * (broadcast), so this holds at any fact-table scale as long as the
    * dictionary itself is small. FinLogic's Company instead looks its
    * names up in the language table collected once per FinData.
    */
  def translate(df: DataFrame, dict: DataFrame, keyCol: String,
                dictKey: String, dictVal: String,
                outCol: String, fallback: Column): DataFrame = {
    val d = dict.select(col(dictKey).as("__k"), col(dictVal).as("__v"))
    df.join(broadcast(d), col(keyCol) === col("__k"), "left")
      .withColumn(outCol, coalesce(col("__v"), fallback))
      .drop("__k", "__v")
  }

  /** Column profile (the Deequ-style validation table): one row per
    * listed column with row/null/distinct counts and min/max as
    * strings — ONE pass over the data (all metrics in a single
    * aggregate). `exact = true` uses exact countDistinct, which
    * expands the pass by a factor of |cols| via Spark's Expand — the
    * exactness price, fine at audit scales; `exact = false` is the
    * 100 TB mode: `approx_count_distinct` (HyperLogLog++, ~2% rsd)
    * keeps the aggregate a genuine 1× scan with NO Expand — each
    * column's sketch is one fixed-size buffer through the partial
    * aggregate, the swap the scaladoc used to only promise. Keep
    * doubles out of `cols` unless the caller rounds first:
    * float→string formatting is engine-specific (the one profile
    * metric a cross-engine oracle can't hash).
    */
  def profile(df: DataFrame, cols: Seq[String],
              exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = cols.flatMap { c =>
      val nd =
        if (exact) countDistinct(col(c))
        else approx_count_distinct(col(c), rsd = 0.02)
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
          nd.as(s"__nd_$c"),
          min(col(c)).cast("string").as(s"__mn_$c"),
          max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val perCol = cols.map { c =>
      struct(lit(c).as("column"), col("__n").as("n_rows"),
             col(s"__nn_$c").as("n_null"), col(s"__nd_$c").as("n_distinct"),
             col(s"__mn_$c").as("min_value"), col(s"__mx_$c").as("max_value"))
    }
    one.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  /** Data-quality expectation suite (Deequ/Great-Expectations style):
    * each rule is (name, boolean Column); the result is one row per
    * rule with total rows, violation count (rule false OR null — a
    * null predicate means the rule could not be established, which a
    * quality gate must count against the data, not silently pass),
    * and the 6dp violation rate. ONE aggregate pass for the whole
    * suite — rules are just conditional-sum columns, so the scan cost
    * is |rules|-independent and the pass pipelines with the scan at
    * 100 TB. `groupCols` turns the global gate into the per-tenant /
    * per-source quality report (one row per group per rule) with the
    * same single pass — one hash exchange on the group key. Pair with
    * [[profile]]: profile describes, expectations judge.
    */
  def expectations(df: DataFrame, rules: Seq[(String, Column)],
                   groupCols: Seq[String] = Nil): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    // internal agg columns are indexed POSITIONALLY (__v_0, __v_1, …)
    // and the caller's rule name only ever appears as a string literal
    // in the output `rule` field — a name containing dots, backticks
    // or spaces can't break col() resolution, and duplicate names
    // can't create ambiguous columns (ADVICE r11)
    val aggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"__v_$i")
    }
    val nAgg = count(lit(1)).as("__n")
    val base =
      if (groupCols.isEmpty) df.agg(nAgg, aggs: _*)
      else df.groupBy(groupCols.map(col): _*).agg(nAgg, aggs: _*)
    val perRule = rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"), col("__n").as("n_rows"),
             col(s"__v_$i").as("n_violations"),
             when(col("__n") > 0,
               round(col(s"__v_$i").cast("double") / col("__n"), 6))
               .otherwise(lit(0.0)).as("violation_rate"))
    }
    base.select(groupCols.map(col) :+ explode(array(perRule: _*)).as("e"): _*)
      .select(groupCols.map(col) ++ Seq(col("e.rule"), col("e.n_rows"),
        col("e.n_violations"), col("e.violation_rate")): _*)
  }

  /** Globally dense 0-based index (`outCol`: Long) in `orderCol`
    * order — the scalable form of `row_number() OVER (ORDER BY c)`.
    *
    * A global window collapses to ONE partition (the classic 100 TB
    * killer); this instead range-partitions on the key, sorts within
    * each partition (parallel), and assigns offsets with
    * `zipWithIndex`'s count-per-partition pass. The index depends
    * only on the total order, not on where range bounds fall, so it
    * is deterministic under any partitioning PROVIDED `orderCol` is
    * unique (ties would be ordered arbitrarily — callers pass a key
    * column).
    *
    * The sorted frame is STAGED before the zip: zipWithIndex runs a
    * count job before its map pass, and without the persist both
    * would recompute the range-sort — the sort is paid once, the
    * count pass populates the cache, the zip pass reads it back
    * (released by the harness via Staging.releaseAll). RDD zip is
    * deliberate: dense global numbering is per-partition imperative
    * logic no Catalyst operator expresses without the
    * single-partition window.
    */
  /** Grouped quantiles with an exactness switch — the [[profile]]
    * `exact = false` pattern for the percentile family (q149 robust
    * stats, q175 winsorization, q198 latency percentiles).
    *
    * `exact = true` routes through Spark's `percentile` — the
    * (n−1)·p interpolated value, bit-matching DuckDB's
    * `quantile_cont`. That aggregate is a TypedImperativeAggregate
    * that BUFFERS EVERY GROUP VALUE in executor memory: fine at
    * audit scales (the driver rows stay on it — their oracles need
    * the interpolated exact value), an OOM at 100 TB on heavy
    * groups. `exact = false` is the scale mode: fixed-width
    * histogram counters ([[graft.ext.Sketches.histCounters]] — purely
    * additive, one map-side-collapsing exchange, counter table
    * bounded by range/width per group) interpolated by
    * [[graft.ext.Sketches.histQuantiles]]. The estimate lands within
    * one bucket `width` of the exact value — callers pick `width` as
    * the precision they can bill for (cents-grid data: width 1.0
    * means ±$1 on a distribution summary). Both paths return
    * (groupCol, p, q_est·6dp) rows so a query swaps modes without
    * reshaping.
    */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     ps: Seq[Double], exact: Boolean = true,
                     width: Double = 1.0): DataFrame = {
    require(ps.nonEmpty, "need at least one probe")
    require(ps.forall(p => p > 0.0 && p <= 1.0), "probes must be in (0, 1]")
    if (exact) {
      val aggs = ps.zipWithIndex.map { case (p, i) =>
        expr(s"percentile($valueCol, $p)").as(s"__q_$i") }
      val per = ps.zipWithIndex.map { case (p, i) =>
        struct(lit(p).as("p"), round(col(s"__q_$i"), 6).as("q_est")) }
      df.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
        .select(col(groupCol), explode(array(per: _*)).as("__e"))
        .select(col(groupCol), col("__e.p"), col("__e.q_est"))
    } else {
      graft.ext.Sketches.histQuantiles(
        graft.ext.Sketches.histCounters(df, groupCol, valueCol, width),
        groupCol, width, ps)
    }
  }

  /** Wide-form [[groupQuantiles]]: one row per group, one named
    * column per probe — the shape the robust-stats family consumes
    * (q149 median/MAD, q175 winsorization bands, q198 latency
    * percentiles join their probes back against the data, so they
    * want columns, not (p, q_est) rows). `probes` maps each p to its
    * output column name.
    *
    * `exact = true` (the driver rows — their oracles need the
    * interpolated value) emits Spark's `percentile` UNROUNDED, so a
    * caller that previously inlined `expr("percentile(...)")` swaps
    * in with bit-identical results. `exact = false` is the 100 TB
    * mode: the additive-histogram estimate within one bucket `width`
    * of exact (see [[groupQuantiles]] — same engine, pivoted wide;
    * 6dp-rounded like every sketch output). KernelsSpec pins the two
    * modes within `width` of each other on real data.
    */
  def groupQuantilesWide(df: DataFrame, groupCol: String, valueCol: String,
                         probes: Seq[(Double, String)],
                         exact: Boolean = true,
                         width: Double = 1.0): DataFrame = {
    require(probes.nonEmpty, "need at least one probe")
    require(probes.map(_._2).distinct.size == probes.size,
      "probe output names must be distinct")
    if (exact) {
      val aggs = probes.map { case (p, name) =>
        expr(s"percentile($valueCol, $p)").as(name) }
      df.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
    } else {
      val long = groupQuantiles(df, groupCol, valueCol, probes.map(_._1),
        exact = false, width = width)
      val aggs = probes.map { case (p, name) =>
        max(when(col("p") === lit(p), col("q_est"))).as(name) }
      long.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
    }
  }

  def denseIndex(df: DataFrame, orderCol: String, outCol: String): DataFrame =
    denseIndex(df, Seq(col(orderCol)), outCol)

  /** Multi-column total-order form: callers whose downstream depends
    * on the rank ASSIGNMENT among equal values (quantile bucketing,
    * RFM quintiles — q219) must pass a tie-breaking key; the
    * single-column overload is only safe where ties are
    * order-invariant (q182's Gini sum). */
  def denseIndex(df: DataFrame, orderCols: Seq[Column],
                 outCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    require(orderCols.nonEmpty, "need at least one order column")
    val sorted = Staging.stage(
      df.repartitionByRange(orderCols: _*).sortWithinPartitions(orderCols: _*))
    val schema = sorted.schema.add(outCol, LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** 2-D skyline (Pareto frontier): the rows not dominated under
    * (minimize `minCol`, maximize `maxCol`) — dominator has
    * `minCol' <= minCol`, `maxCol' >= maxCol`, at least one strict.
    * The multi-objective "best trade-offs" operator (cheapest part
    * per capability level, fastest config per cost band).
    *
    * Never the O(n²) dominance join: after collapsing to distinct
    * (min, max) value pairs with a member count (skyline membership
    * is a property of the PAIR), the frontier is a single ordered
    * sweep — sort by (min asc, max desc); a pair survives iff its
    * `maxCol` strictly exceeds every earlier pair's (any earlier pair
    * has minCol strictly smaller, or equal minCol with strictly
    * larger maxCol — both dominate unless our max is higher).
    *
    * The sweep distributes as a two-phase prefix max, never a global
    * single-partition window: range-partition + sort within
    * partitions (parallel), one mapPartitions pass carrying the
    * running max (constant memory, emits each pair's
    * local-prefix-max and its partition id), then a partitions-sized
    * summary frame provides each partition's cross-partition prefix
    * via a tiny window, broadcast back. Rows whose pair is on the
    * frontier survive with their count. Returns
    * (minCol, maxCol, n_rows) — exact integers/input values only,
    * no float contract. Null pairs are excluded (no dominance order).
    */
  /** Distributed INCLUSIVE prefix sums of Long `valueCols` over a
    * total `orderCols` order — the cumulative-scan primitive behind
    * ECDFs, KS statistics, rank sums (AUC) and cumulative-share
    * curves. NEVER a single-partition global window: the
    * [[skyline2d]] two-phase shape — range partition + in-partition
    * sort, ONE sequential scan per partition carrying the running
    * sums, then per-partition totals (≤ #partitions rows) prefixed by
    * a tiny window and broadcast back as offsets. Callers should
    * pre-aggregate to one row per distinct key (this keeps the scan
    * deterministic without tie-breaks and the frame bounded by
    * distinct keys, not corpus rows). Appends `<c>_cum` per value
    * column; every output is exact integer arithmetic.
    */
  def prefixSum(df: DataFrame, orderCols: Seq[Column],
                valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(orderCols.nonEmpty && valueCols.nonEmpty,
      "need order and value columns")
    val ranged = Staging.stage(
      df.repartitionByRange(orderCols: _*)
        .sortWithinPartitions(orderCols: _*))
    val vIdx = valueCols.map(ranged.schema.fieldIndex).toArray
    val sweptSchema = StructType(ranged.schema.fields ++
      (valueCols.map(c => StructField(s"${c}_cum", LongType)) :+
        StructField("__pid", IntegerType, nullable = false)))
    val swept = Staging.stage(ranged.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val run = new Array[Long](vIdx.length)
      rows.map { r =>
        var i = 0
        while (i < vIdx.length) { run(i) += r.getLong(vIdx(i)); i += 1 }
        Row.fromSeq(r.toSeq ++ run.toSeq :+ pid)
      }
    }(org.apache.spark.sql.Encoders.row(sweptSchema)))
    // per-partition totals: ≤ #partitions rows — the tiny window is
    // fine (totals re-sum the RAW columns, so negative values are
    // safe; max-of-cum would not be)
    val totAggs = valueCols.map(c => sum(col(c)).as(s"__t_$c"))
    val ptot = swept.groupBy("__pid").agg(totAggs.head, totAggs.tail: _*)
    val w = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = ptot.select(col("__pid") +:
      valueCols.map(c =>
        coalesce(sum(col(s"__t_$c")).over(w), lit(0L)).as(s"__o_$c")): _*)
    swept.join(broadcast(offs), "__pid")
      .select(df.columns.map(col) ++
        valueCols.map(c => (col(s"${c}_cum") + col(s"__o_$c"))
          .as(s"${c}_cum")): _*)
  }

  /** Exclusive running MAX in a total order — [[prefixSum]]'s sibling
    * for the "high-water mark so far" family (event-time lateness vs
    * a processing-order watermark, record-breaking detection, peak
    * tracking): appends `<valueCol>_prevmax` = max of `valueCol` over
    * all STRICTLY EARLIER rows (null for the global first row). Same
    * two-phase shape as [[prefixSum]]: range-partition on the order,
    * one in-partition constant-memory sweep emitting the
    * before-this-row max, then per-partition totals (≤ #partitions
    * rows) combine through a tiny window and broadcast back — never a
    * global single-partition window over the data. */
  def prefixMax(df: DataFrame, orderCols: Seq[Column],
                valueCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(orderCols.nonEmpty, "need at least one order column")
    val out = s"${valueCol}_prevmax"
    val ranged = Staging.stage(
      df.repartitionByRange(orderCols: _*)
        .sortWithinPartitions(orderCols: _*))
    val vIdx = ranged.schema.fieldIndex(valueCol)
    val sweptSchema = StructType(ranged.schema.fields ++ Seq(
      StructField(out, LongType, nullable = true),
      StructField("__pid", IntegerType, nullable = false)))
    val swept = Staging.stage(ranged.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var any = false
      var run = 0L
      rows.map { r =>
        val prev: Any = if (any) run else null
        val v = r.getLong(vIdx)
        if (!any || v > run) { run = v; any = true }
        Row.fromSeq(r.toSeq :+ prev :+ pid)
      }
    }(org.apache.spark.sql.Encoders.row(sweptSchema)))
    val ptot = swept.groupBy("__pid").agg(max(col(valueCol)).as("__t"))
    val w = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = ptot.select(col("__pid"), max(col("__t")).over(w).as("__o"))
    swept.join(broadcast(offs), "__pid")
      .select(df.columns.map(col) :+
        // greatest() skips nulls: first row of a later partition takes
        // the prior partitions' max; the global first row stays null
        greatest(col(out), col("__o")).as(out): _*)
  }

  def skyline2d(df: DataFrame, minCol: String, maxCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val pairs = df.filter(col(minCol).isNotNull && col(maxCol).isNotNull)
      .groupBy(col(minCol).as("__mn"), col(maxCol).cast("double").as("__mx"))
      .agg(count(lit(1)).as("n_rows"))
    val ranged = Staging.stage(
      pairs.repartitionByRange(col("__mn").asc, col("__mx").desc)
        .sortWithinPartitions(col("__mn").asc, col("__mx").desc))
    val sweptSchema = StructType(ranged.schema.fields ++ Seq(
      StructField("__pid", IntegerType, nullable = false),
      StructField("__prev_max", DoubleType, nullable = true)))
    val mxIdx = ranged.schema.fieldIndex("__mx")
    val swept = Staging.stage(ranged.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var runMax = Double.NegativeInfinity
      var any = false
      rows.map { r =>
        val prev: Any = if (any) runMax else null
        val v = r.getDouble(mxIdx)
        if (!any || v > runMax) { runMax = v; any = true }
        Row.fromSeq(r.toSeq :+ pid :+ prev)
      }
    }(org.apache.spark.sql.Encoders.row(sweptSchema)))
    // per-partition max: ≤ #partitions rows — the tiny window is fine
    val pmax = swept.groupBy("__pid").agg(max("__mx").as("__pm"))
    val w = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = pmax.select(col("__pid"), max(col("__pm")).over(w).as("__before"))
    swept.join(broadcast(prefix), "__pid")
      .filter(col("__mx") > coalesce(greatest(col("__prev_max"), col("__before")),
                                     lit(Double.NegativeInfinity)))
      .select(col("__mn").as(minCol), col("__mx").as(maxCol), col("n_rows"))
  }
}

package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Graphs

class GraphsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank: star center outranks leaves; mass is conserved") {
    // undirected star: c - l1..l4
    val edges = Seq(("c", "l1"), ("c", "l2"), ("c", "l3"), ("c", "l4"))
      .toDF("a", "b")
    val pr = Graphs.pageRank(edges, "a", "b", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("pr")).toMap
    assert(pr.size == 5)
    val leaves = pr.filter(_._1 != "c").values.toSeq
    assert(leaves.forall(v => pr("c") > v))
    // every leaf sees the identical (symmetric) neighborhood
    assert(leaves.forall(v => math.abs(v - leaves.head) < 1e-12))
    // PageRank distributes total mass 1 across nodes (undirected
    // graphs have no dangling leak)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: a regular graph stays uniform at any iteration count") {
    // 4-cycle: every node degree 2 -> uniform is the fixed point
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "1"))
      .toDF("a", "b")
    for (it <- Seq(1, 4)) {
      val pr = Graphs.pageRank(edges, "a", "b", iterations = it)
        .collect().map(_.getAs[Double]("pr"))
      assert(pr.length == 4)
      assert(pr.forall(v => math.abs(v - 0.25) < 1e-12), s"it=$it: ${pr.toSeq}")
    }
  }

  test("pageRank: degree column reports the symmetric degree") {
    val edges = Seq(("c", "l1"), ("c", "l2"), ("l1", "c")).toDF("a", "b")
    val deg = Graphs.pageRank(edges, "a", "b", iterations = 1)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("degree")).toMap
    // duplicate/reversed edges collapse in the symmetric distinct
    assert(deg == Map("c" -> 2L, "l1" -> 1L, "l2" -> 1L))
  }

  test("triangles: each triangle exactly once, normalization handles dups/reversals/loops") {
    // triangle 1-2-3 plus a dangling edge; edges arrive messy:
    // reversed, duplicated, and with a self-loop
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 4L))
      .toDF("u", "v")
    val tri = Graphs.triangles(edges, "u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tri.toSeq == Seq((1L, 2L, 3L)))
    // square without a diagonal has no triangle
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    assert(Graphs.triangles(square, "u", "v").count() == 0)
    // K4 has exactly binom(4,3) = 4 triangles, each once
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong))
      .toDF("u", "v")
    val t4 = Graphs.triangles(k4, "u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(t4 == Set((1L,2L,3L), (1L,2L,4L), (1L,3L,4L), (2L,3L,4L)))
    graft.ops.Staging.releaseAll()
  }

  test("triangles: degree orientation finds the identical triangle set (random graphs)") {
    // any total order enumerates each triangle exactly once — the
    // degree comparator must produce the same set as the id one
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 12 + trial * 4
      val edges = (for {
        a <- 0 until n; b <- 0 until n
        if a < b && rnd.nextDouble() < 0.3
      } yield (a.toLong, b.toLong)).toDF("u", "v")
      val byId = Graphs.triangles(edges, "u", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val byDeg = Graphs.triangles(edges, "u", "v", orientByDegree = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(byDeg == byId, s"trial $trial: degree orientation diverged")
      assert(byId.forall { case (a, b, c) => a < b && b < c },
        "output stays id-sorted in both modes")
    }
    // hub-shaped worst case: low-id hub connected to everything plus
    // a chain among leaves — the exact shape the degree swap tames
    val hub = ((1 to 10).map(i => (0L, i.toLong)) ++
      (1 until 10).map(i => (i.toLong, (i + 1).toLong))).toDF("u", "v")
    val a = Graphs.triangles(hub, "u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Graphs.triangles(hub, "u", "v", orientByDegree = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b && a.size == 9)
    graft.ops.Staging.releaseAll()
  }

  test("pageRankDirected: dangling mass redistributed, hand-computed 3-node chain") {
    // A -> B -> C; C is a sink. N=3, d=0.85, one sweep from uniform:
    //   D = pr(C) = 1/3
    //   pr'(A) = 0.15/3 + 0.85*(0   + (1/3)/3)
    //   pr'(B) = 0.15/3 + 0.85*(1/3 + (1/3)/3)
    //   pr'(C) = same as B (mass from B's single out-edge)
    val edges = Seq(("A", "B"), ("B", "C")).toDF("s", "t")
    val one = Graphs.pageRankDirected(edges, "s", "t", iterations = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getAs[Double]("pr")))).toMap
    val base = (1.0 - 0.85) / 3.0
    val third = 1.0 / 3.0
    assert(math.abs(one("A")._2 - (base + 0.85 * (third / 3.0))) < 1e-15)
    assert(math.abs(one("B")._2 - (base + 0.85 * (third + third / 3.0))) < 1e-15)
    assert(math.abs(one("C")._2 - (base + 0.85 * (third + third / 3.0))) < 1e-15)
    // out-degrees: sink reports 0 (left join keeps its row)
    assert(one.view.mapValues(_._1).toMap == Map("A" -> 1L, "B" -> 1L, "C" -> 0L))
    // mass is CONSERVED across sweeps — the property the dangling
    // term exists to protect (without it the sink leaks ~d*D per
    // sweep); also check a multi-sink fan shape
    for (it <- Seq(2, 4)) {
      val pr = Graphs.pageRankDirected(edges, "s", "t", iterations = it)
        .collect().map(_.getAs[Double]("pr"))
      assert(math.abs(pr.sum - 1.0) < 1e-9, s"it=$it leaked mass: ${pr.sum}")
    }
    val fan = Seq(("r", "x"), ("r", "y"), ("r", "z")).toDF("s", "t")
    val fanPr = Graphs.pageRankDirected(fan, "s", "t", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("pr")).toMap
    assert(math.abs(fanPr.values.sum - 1.0) < 1e-9)
    // the three sinks are symmetric
    assert(math.abs(fanPr("x") - fanPr("y")) < 1e-15 &&
      math.abs(fanPr("y") - fanPr("z")) < 1e-15)
    graft.ops.Staging.releaseAll()
  }

  test("personalizedPageRank: hand-computed chain, mass conserved, dangling recycles to seeds") {
    // A -> B -> C (C a sink), seeds = {A}, |S| = 1, d = 0.85.
    //   init: A=1, B=0, C=0
    //   sweep1: D=pr(C)=0 -> A=(0.15+0)/1=0.15, B=0.85*1=0.85, C=0
    //   sweep2: D=0      -> A=0.15, B=0.85*0.15, C=0.85*0.85
    //   sweep3: D=0.7225 -> A=(0.15+0.85*0.7225)/1, B=0.85*0.15,
    //                       C=0.85*0.1275
    val edges = Seq(("A", "B"), ("B", "C")).toDF("s", "t")
    val seeds = Seq("A").toDF("node")
    def run(it: Int) =
      Graphs.personalizedPageRank(edges, "s", "t", seeds, iterations = it)
        .collect().map(r => r.getString(0) ->
          ((r.getBoolean(1), r.getAs[Double]("pr")))).toMap
    val three = run(3)
    assert(three("A")._1 && !three("B")._1 && !three("C")._1)
    assert(three("A")._2 == (1 - 0.85) + 0.85 * (0.85 * 0.85))
    assert(three("B")._2 == 0.85 * ((1 - 0.85) + 0.85 * 0.0))
    assert(three("C")._2 == 0.85 * (0.85 * ((1 - 0.85) + 0.85 * 0.0)))
    // mass conserved (the dangling-to-seed recycling closes the walk)
    for (it <- Seq(1, 2, 4))
      assert(math.abs(run(it).values.map(_._2).sum - 1.0) < 1e-9)
    // a seed outside the graph is ignored; empty intersection refused
    val withGhost = Seq("A", "GHOST").toDF("node")
    assert(Graphs.personalizedPageRank(edges, "s", "t", withGhost,
      iterations = 1).collect().map(_.getAs[Double]("pr")).sum > 0.999)
    intercept[IllegalArgumentException] {
      Graphs.personalizedPageRank(edges, "s", "t",
        Seq("GHOST").toDF("node"), iterations = 1).collect()
    }
    graft.ops.Staging.releaseAll()
  }

  test("pageRankDirected: marginal jobs per sweep stay pinned (folded dangling pass)") {
    // r11 verdict item 6: D is a filter-aggregate over the statically
    // flagged rank frame (no anti-join, no nested outdeg broadcast)
    // and shares one broadcast with N — 5 -> 4 marginal jobs per
    // extra sweep (the literal sentinel-row fold measured 6; see the
    // pageRankDirected scaladoc).
    // Pin the MARGINAL job count per extra sweep so a lineage
    // regression (e.g. re-checkpointing the input, which doubled the
    // count once) turns this red.
    val sc = spark.sparkContext
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "A"), ("A", "D"))
      .toDF("s", "t") // D is a sink
    // AQE materializes every exchange stage as its own job, which
    // drowns the signal; count plain jobs (the production 100 TB read
    // on job count is the AQE-off shape: action + broadcast jobs)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def jobsFor(group: String, iterations: Int): Int = {
      sc.setJobGroup(group, group)
      try {
        Graphs.pageRankDirected(edges, "s", "t", iterations).collect()
      } finally sc.clearJobGroup()
      graft.ops.Staging.releaseAll()
      // the status store is fed asynchronously; wait for it to settle
      var last = -1; var cur = sc.statusTracker.getJobIdsForGroup(group).length
      while (cur != last) {
        Thread.sleep(200)
        last = cur; cur = sc.statusTracker.getJobIdsForGroup(group).length
      }
      cur
    }
    try {
      val j1 = jobsFor("prd_sweeps_1", 1)
      val j3 = jobsFor("prd_sweeps_3", 3)
      val perSweep = (j3 - j1) / 2.0
      assert(perSweep <= 4.0,
        s"expected <= 4 marginal jobs per sweep, measured $perSweep ($j1 -> $j3)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("pageRank: exactly one node-frame exchange per sweep; adjacency never re-shuffled") {
    // The r13 sweep contract: the adjacency is a partitioning-declared
    // checkpoint, the rank frame's aggregate output is alias-tracked
    // onto the join key, so the ONLY exchange per sweep is the mass
    // aggregate's node-sized shuffle. A regression (cache boundary
    // hiding the partitioning again, or a rename breaking alias
    // tracking) re-shuffles the EDGE frame per sweep and this count
    // jumps.
    val rnd = new scala.util.Random(11)
    val edges = (1 to 300)
      .map(_ => (rnd.nextInt(60).toString, rnd.nextInt(60).toString))
      .filter(e => e._1 != e._2).distinct.toDF("a", "b")
    // the public pageRank returns a terminal pin (a bare checkpoint
    // scan — nothing to inspect); the lazy variant IS that pin's plan.
    // r21: the operator pins at the scale-adaptive partition count and
    // materializes under withShufflePartitions(np) — plan the lazy
    // frame under the same count (any test-sized edge count derives
    // np = 1), as pageRank itself does, or EnsureRequirements
    // re-exchanges the mismatched pin side.
    // r22 (r21 advice): derive np from the SAME row count the operator
    // itself measures — the symmetrized+deduped edge frame (~2x the
    // input edges) — not from edges.count(); the two only agreed here
    // because the small fixture clamps both to 1, and a larger fixture
    // would plan the lazy fold under a mismatched count and fail the
    // exchange-count assert spuriously.
    val np = graft.ops.Sweep.sweepPartitions(spark,
      graft.ops.Sweep.symmetrize(edges, "a", "b").distinct().count())
    val df = Graphs.pageRankLazy(edges, "a", "b", iterations = 3,
      damping = 0.85, dedupEdges = true)
    val plan = graft.ops.Sweep.withShufflePartitions(spark, np) {
      df.collect()
      // the AQE toString appends the pre-execution "Initial Plan" —
      // count exchanges in the FINAL (executed) section only
      df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
    }
    val nEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).length
    graft.ops.Staging.releaseAll()
    assert(nEx == 3, s"expected 3 exchanges (one per sweep), got $nEx in:\n$plan")
    // r21: the per-sweep adjacency⋈rank join is SHUFFLED-HASH (build
    // the node-sized rank side, stream the pinned edge frame
    // unsorted) — the SMJ form sorted the edge frame every sweep
    // (measured q192 isolated 9.4 -> 4.6-5.6 s from the same swap in
    // kCore's peels; this pins the strategy for the shared sweep
    // shape). No sort-merge join and no per-sweep edge Sort may
    // reappear.
    assert(plan.contains("ShuffledHashJoin"),
      s"expected ShuffledHashJoin sweep joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"sweep joins regressed to SortMergeJoin in:\n$plan")
    // and the public form's contract: consumers see hash(node)
    // partitioning declared on the pinned result
    val pinned = Graphs.pageRank(edges, "a", "b", iterations = 3)
    val part = pinned.queryExecution.optimizedPlan match {
      case g: org.apache.spark.sql.execution.GraftPinnedRDD => g.partitioning
      case other => fail(s"expected GraftPinnedRDD root, got ${other.getClass}")
    }
    graft.ops.Staging.releaseAll()
    part match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        assert(h.expressions.map(_.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.Attribute].name) == Seq("node"))
      case other => fail(s"expected declared HashPartitioning, got $other")
    }
  }

  test("pageRankWeighted: w≡1 equals the unweighted pageRank; mass conserves") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
      .toDF("x", "y")
    val unweighted = Graphs.pageRank(edges, "x", "y", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val weighted = Graphs.pageRankWeighted(
        edges.withColumn("w", lit(1L)), "x", "y", "w", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    graft.ops.Staging.releaseAll()
    assert(weighted.keySet == unweighted.keySet)
    weighted.foreach { case (n, p) =>
      assert(math.abs(p - unweighted(n)) < 1e-12, s"node $n differs")
    }
    assert(math.abs(weighted.values.sum - 1.0) < 1e-9)
  }

  test("pageRankWeighted: heavier edges pull rank (hand-checkable 3-node path)") {
    // path x - y - z with weight(x,y) = 9, weight(y,z) = 1: x must
    // outrank z (y sends 90% of its mass along the heavy edge)
    val edges = Seq(("x", "y", 9L), ("y", "z", 1L)).toDF("a", "b", "w")
    val pr = Graphs.pageRankWeighted(edges, "a", "b", "w", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    graft.ops.Staging.releaseAll()
    assert(pr("x") > pr("z"))
  }

  test("labelPropagation: a triangle converges to one community in 2 sync rounds") {
    // K3 {x,y,z}: round 1 -> x:'y' (tie y/z -> min), y:'x', z:'x';
    // round 2 -> all 'x' (hand-computed sync updates)
    val edges = Seq(("x", "y"), ("y", "z"), ("x", "z")).toDF("a", "b")
    val out = Graphs.labelPropagation(edges, "a", "b", 2)
      .orderBy("node").collect().map(r => (r.getString(0), r.getString(1)))
    graft.ops.Staging.releaseAll()
    assert(out.toSeq == Seq(("x", "x"), ("y", "x"), ("z", "x")))
  }

  test("labelPropagation: star graph follows the deterministic sync oscillation") {
    // r1: hub adopts min leaf label, leaves adopt 'h';
    // r2: hub adopts 'h' (all leaves say 'h'), leaves adopt hub's r1
    // label 'l1' — deterministic, hand-computed
    val edges = Seq(("h", "l1"), ("h", "l2"), ("h", "l3")).toDF("a", "b")
    val out = Graphs.labelPropagation(edges, "a", "b", 2)
      .orderBy("node").collect().map(r => (r.getString(0), r.getString(1)))
    graft.ops.Staging.releaseAll()
    assert(out.toSeq ==
      Seq(("h", "h"), ("l1", "l1"), ("l2", "l1"), ("l3", "l1")))
  }

  test("bfsHops: path graph hand case — min distance, radius cut, multi-seed min") {
    // path a-b-c-d-e plus isolated edge f-g; seeds {a}
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
                    ("f", "g")).toDF("u", "v")
    val seeds = Seq("a").toDF("node")
    val got = Graphs.bfsHops(edges, "u", "v", seeds, "node", maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.ops.Staging.releaseAll()
    // e (4 hops) and f/g (unreachable) are absent: the radius cut
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
    // two seeds: every node takes the MIN over seeds; seed e pulls
    // d to 1 even though it is 3 from a
    val got2 = Graphs.bfsHops(edges, "u", "v",
        Seq("a", "e").toDF("node"), "node", maxHops = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.ops.Staging.releaseAll()
    assert(got2 == Map("a" -> 0L, "b" -> 1L, "c" -> 2L,
                       "d" -> 1L, "e" -> 0L))
  }

  test("ssspWeighted: cheap detour beats direct edge; w≡1 equals bfsHops") {
    // a-b costs 10 direct, but a-c-b costs 2; parallel a-b edge keeps
    // the cheaper weight
    val edges = Seq(("a", "b", 10L), ("a", "b", 12L),
                    ("a", "c", 1L), ("c", "b", 1L)).toDF("u", "v", "w")
    val got = Graphs.ssspWeighted(edges, "u", "v", "w",
        Seq("a").toDF("node"), "node", maxSweeps = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.ops.Staging.releaseAll()
    assert(got == Map("a" -> 0L, "b" -> 2L, "c" -> 1L))
    // unit weights reduce to BFS hop counts
    val rnd = new scala.util.Random(3)
    val re = (1 to 60).map(_ =>
      (rnd.nextInt(20).toString, rnd.nextInt(20).toString))
      .filter { case (u, v) => u != v }.distinct
    val seeds = Seq("0").toDF("node")
    val viaSssp = Graphs.ssspWeighted(
        re.map { case (u, v) => (u, v, 1L) }.toDF("u", "v", "w"),
        "u", "v", "w", seeds, "node", maxSweeps = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.ops.Staging.releaseAll()
    val viaBfs = Graphs.bfsHops(re.toDF("u", "v"), "u", "v",
        seeds, "node", maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.ops.Staging.releaseAll()
    assert(viaSssp == viaBfs)
  }

  test("EntityRes.resolve: blocked JW matches cluster; cross-block twins never pair") {
    // block 'acme': 1/2 near-identical (jw >= 0.9), 3 unrelated;
    // block 'zeta': 4 has the SAME name as 1 but a different block,
    // so it must not join 1's cluster (blocking is a hard boundary)
    val df = Seq(
      (1L, "acme corp holdings", "acme"),
      (2L, "acme corp holding", "acme"),
      (3L, "completely different words", "acme"),
      (4L, "acme corp holdings", "zeta"),
      (5L, "acme corp holdngs", "zeta")).toDF("id", "name", "blk")
    val got = graft.ext.EntityRes.resolve(df, "id", "name",
        blockCol = org.apache.spark.sql.functions.col("blk"),
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    graft.ops.Staging.releaseAll()
    // {1,2} cluster under min-label 1; {4,5} cluster under 4; 3 absent
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("kCore: K4 core survives, pendant chain and triangle peel away") {
    // K4 {1,2,3,4} (degree 3 each) + pendant path 4-5-6 + separate
    // triangle {7,8,9} (degree 2)
    val k4 = for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a, b)
    val extra = Seq((4, 5), (5, 6), (7, 8), (8, 9), (7, 9))
    val edges = (k4 ++ extra).map { case (a, b) => (a.toLong, b.toLong) }
      .toDF("u", "v")
    val core = Graphs.kCore(edges, "u", "v", k = 3, sweeps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.ops.Staging.releaseAll()
    // symmetric edge list of exactly K4: 4*3 directed pairs
    assert(core.length == 12)
    assert(core.map(_._1).distinct.sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // at k=2, the triangle also survives but the pendant chain dies
    val core2 = Graphs.kCore(edges, "u", "v", k = 2, sweeps = 3)
      .collect().map(_.getLong(0)).distinct.sorted.toSeq
    graft.ops.Staging.releaseAll()
    assert(core2 == Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L))
  }

  test("kCore/labelPropagation: integral early stop — identical output, post-fixpoint chunks skipped") {
    // r16 verdict item 6: integer-state sweeps detect their fixpoint
    // from the count fused into each chunk pin's own job. Output must
    // be IDENTICAL to the blind fixed budget (that's what makes the
    // stop sound); the observable saving is the scheduler-job count —
    // a 20-sweep budget on an early-converging graph must run exactly
    // the jobs of the 4-sweep budget it converges inside.
    val sc = spark.sparkContext
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def jobsFor(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      graft.ops.Staging.releaseAll()
      var last = -1; var cur = sc.statusTracker.getJobIdsForGroup(group).length
      while (cur != last) {
        Thread.sleep(200)
        last = cur; cur = sc.statusTracker.getJobIdsForGroup(group).length
      }
      cur
    }
    try {
      // K4 + pendant chain + triangle: k=3 peeling is a fixpoint
      // after sweep 1, detected at chunk 2 (count unchanged)
      val k4 = for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a, b)
      val extra = Seq((4, 5), (5, 6), (7, 8), (8, 9), (7, 9))
      val edges = (k4 ++ extra).map { case (a, b) => (a.toLong, b.toLong) }
        .toDF("u", "v")
      def core(sweeps: Int) =
        Graphs.kCore(edges, "u", "v", k = 3, sweeps = sweeps)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cShort = core(4)
      var cLong: Set[(Long, Long)] = null
      val jc4 = jobsFor("kcore_b4") { core(4) }
      val jc20 = jobsFor("kcore_b20") { cLong = core(20) }
      assert(cLong == cShort, "early-stopped 20-sweep core must equal 4-sweep")
      assert(jc20 == jc4,
        s"20-sweep budget must stop at the 4-sweep job count ($jc4), ran $jc20")

      // triangle LPA: labels(2) == labels(3), zero changes detected in
      // chunk 2's last sweep
      val tri = Seq(("x", "y"), ("y", "z"), ("x", "z")).toDF("a", "b")
      def lpa(it: Int) =
        Graphs.labelPropagation(tri, "a", "b", it)
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val lShort = lpa(4)
      var lLong: Set[(String, String)] = null
      val jl4 = jobsFor("lpa_b4") { lpa(4) }
      val jl20 = jobsFor("lpa_b20") { lLong = lpa(20) }
      assert(lLong == lShort && lShort ==
        Set(("x", "x"), ("y", "x"), ("z", "x")))
      assert(jl20 == jl4,
        s"20-iteration LPA must stop at the 4-iteration job count ($jl4), ran $jl20")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bfsHops: matches driver-side BFS on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 40
    val edgeSeq = (1 to 120).map { _ =>
      (rnd.nextInt(n).toString, rnd.nextInt(n).toString) }
      .filter { case (u, v) => u != v }.distinct
    val seedSeq = Seq("0", "1")
    val adj = edgeSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    // reference BFS, 3 sweeps of full relaxation
    var dist = seedSeq.map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val relaxed = dist.toSeq.flatMap { case (u, h) =>
        adj.getOrElse(u, Set.empty).map(_ -> (h + 1)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
    }
    val got = Graphs.bfsHops(edgeSeq.toDF("u", "v"), "u", "v",
        seedSeq.toDF("node"), "node", maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.ops.Staging.releaseAll()
    assert(got == dist)
  }

  test("hyperBallCensus == HLL over the exact balls (reference replay); nf monotone") {
    // path 1-2-3-4-5 plus a disconnected pair 6-7; seeds in both
    // components so the census mixes growing and saturated balls
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"),
      ("6", "7")).toDF("a", "b")
    val seeds = Seq("1", "6").toDF("node")
    val got = Graphs.hyperBallCensus(edges, "a", "b", seeds, "node",
        sweeps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    graft.ops.Staging.releaseAll()
    // reference: exact BFS balls, the same md5 bucket/rho registers,
    // the same exact-integer fold, the same float sequence
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val adj = (Seq(("1","2"),("2","3"),("3","4"),("4","5"),("6","7"))
      .flatMap { case (u, v) => Seq(u -> v, v -> u) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(v: String, t: Int): Set[String] =
      (0 until t).foldLeft(Set(v))((b, _) => b ++ b.flatMap(adj(_)))
    def estMilli(members: Set[String]): Long = {
      val regs = Array.fill(64)(0)
      for (u <- members) {
        val h = md5hex(u)
        val bucket = (java.lang.Long.parseLong(h.substring(0, 2), 16) % 64).toInt
        val w = java.lang.Long.parseLong(h.substring(2, 13), 16)
        val rho = if (w == 0L) 45
          else 45 - java.lang.Long.toBinaryString(w).length
        if (rho > regs(bucket)) regs(bucket) = rho
      }
      val sInt = regs.map(r => math.pow(2.0, (45 - r).toDouble).toLong).sum
      val zeros = regs.count(_ == 0)
      val raw = 0.709 * 4096.0 * 35184372088832.0 / sInt.toDouble
      val est = if (raw <= 160.0 && zeros > 0)
        64.0 * math.log(64.0 / zeros.toDouble) else raw
      math.floor(1000.0 * est).toLong
    }
    val expected = (0 to 3).map(t =>
      (t.toLong, 2L, Seq("1", "6").map(s => estMilli(ball(s, t))).sum))
    assert(got == expected, s"got $got expected $expected")
    // the neighborhood function never shrinks (balls only grow and
    // HLL max-union is monotone)
    assert(got.map(_._3) == got.map(_._3).sorted)
  }

  test("sweep family: scheduler jobs per call stay pinned (table over every operator)") {
    // One row per sweep operator (plus connected components, which
    // shares the pin): the listener-counted jobs of one call, build
    // included, collected on the spec fixtures at the session's own
    // settings (AQE on, 4 shuffle partitions). Pins, fused counts,
    // chunk cadence and early stops all show up here, so a refactor of
    // the shared harness that adds or drops a job turns this red.
    // cc-driver and personalizedPageRank take their gate/seed counts
    // from their pins' own jobs. While each ran a separate count they
    // took 4 and 11 jobs: cc-driver's count() over its 4-partition pin
    // was two jobs under AQE (the aggregate's shuffle stage plus the
    // result), the seed count over a 1-partition pin needed no shuffle.
    // cc-sweeps: the edge pin, the re-pin at sweepPartitions' count,
    // one chunk pin (its fused flag count halts the fold) and the
    // collect.
    val sc = spark.sparkContext
    val star = Seq(("c", "l1"), ("c", "l2"), ("c", "l3"), ("c", "l4"))
      .toDF("a", "b")
    val chain = Seq(("A", "B"), ("B", "C")).toDF("s", "t")
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("f", "g")).toDF("u", "v")
    val weighted = Seq(("a", "b", 10L), ("a", "b", 12L), ("a", "c", 1L),
      ("c", "b", 1L)).toDF("u", "v", "w")
    val tri = Seq(("x", "y"), ("y", "z"), ("x", "z")).toDF("a", "b")
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a, b)) ++
      Seq((4, 5), (5, 6), (7, 8), (8, 9), (7, 9))
    val core = k4.map { case (a, b) => (a.toLong, b.toLong) }.toDF("u", "v")
    val hb = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"),
      ("6", "7")).toDF("a", "b")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val seedA = Seq("a").toDF("node")
    val cases: Seq[(String, () => Unit, Int)] = Seq(
      ("pageRank", () => Graphs.pageRank(star, "a", "b", 5).collect(), 6),
      ("pageRankWeighted", () => Graphs.pageRankWeighted(
        weighted, "u", "v", "w", 3).collect(), 6),
      ("pageRankDirected", () => Graphs.pageRankDirected(
        chain, "s", "t", 3).collect(), 10),
      ("personalizedPageRank", () => Graphs.personalizedPageRank(
        chain, "s", "t", Seq("A").toDF("node"), 3).collect(), 10),
      ("bfsHops", () => Graphs.bfsHops(path, "u", "v", seedA, "node", 3)
        .collect(), 5),
      ("ssspWeighted", () => Graphs.ssspWeighted(
        weighted, "u", "v", "w", seedA, "node", 3).collect(), 5),
      ("labelPropagation", () => Graphs.labelPropagation(tri, "a", "b", 4)
        .collect(), 5),
      ("kCore", () => Graphs.kCore(core, "u", "v", 3, 5).collect(), 5),
      ("hyperBallCensus", () => Graphs.hyperBallCensus(
        hb, "a", "b", Seq("1", "6").toDF("node"), "node", 3).collect(), 14),
      ("cc-driver", () => graft.ext.Dedup.connectedComponentsWithSweeps(
        pairs)._1.collect(), 2),
      ("cc-sweeps", () => graft.ext.Dedup.connectedComponentsWithSweeps(
        pairs, smallGraphThreshold = 0)._1.collect(), 4))
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    sc.addSparkListener(listener)
    val measured = try cases.map { case (name, run, _) =>
      val group = s"sweep_jobs_$name"
      sc.setJobGroup(group, group)
      try run() finally sc.clearJobGroup()
      graft.ops.Staging.releaseAll()
      org.apache.spark.ListenerDrain.drain(sc)
      name -> Option(jobs.get(group)).map(_.intValue).getOrElse(0)
    } finally sc.removeSparkListener(listener)
    val expected = cases.map { case (name, _, n) => name -> n }
    assert(measured == expected,
      "per-call job counts moved:\n" + measured.zip(expected).collect {
        case ((n, got), (_, want)) if got != want => s"  $n: $want -> $got"
      }.mkString("\n"))
  }
}

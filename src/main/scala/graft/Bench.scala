package graft

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

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
  * WATCHDOG (rounds 5 AND 6 each voided the entire artifact when one
  * query hung — rc=1/rc=124, zero timings recorded): every query runs
  * on a daemon worker thread with a hard time box
  * (SPARK_GRAFT_QUERY_TIMEOUT seconds, default 120). On expiry the
  * query's job group is cancelled, -1 is recorded, and the run moves
  * on — a dead run still names its killer. Per-query lines print to
  * stderr as they complete so a killed process leaves a readable
  * trail. A query that timed out in run 1 is skipped in run 2 (its
  * cancelled jobs may still be draining; re-running would contaminate
  * neighbors and cost another full timeout for a known-dead query).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // cap plan-string work (see GraftSession) — a lineage bug then
      // costs truncated strings, not GiB driver allocations. r21: 32 KB
      // (was 1 MB) — with the UI off the string goes nowhere, yet
      // SQLExecution renders it for every execution event and AQE
      // re-renders per replan; q379's cached-heavy plan rendered 8
      // MB-scale strings per bench pass (measured WARNs). Truncation
      // bounds the rendering work itself; plans/ artifacts come from
      // Explain sessions, which don't set this cap.
      .config("spark.sql.maxPlanStringLength", (1 << 15).toString)
      // NOTE: each testdata parquet is a single row group, so scan
      // stages are inherently one task here regardless of
      // maxPartitionBytes — the serial scan+project prefix of each
      // query is a testdata artifact, not a plan property (cluster
      // inputs arrive in many splits/row groups).
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: JVM/codegen/reader, not part of any timing. The upper()
    // call forces Spark 4's ICU CollationAwareUTF8String class init
    // (it scans the full classpath for ICU data — tens of seconds on
    // a fat unmanaged-jars classpath) out of the first measured query
    // that touches a case-mapping expression.
    spark.range(1000000).selectExpr("sum(id)", "max(upper('warm'))").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // r21 (r20 verdict item 5): a handful of UNMEASURED small queries
    // before pass 1 so the first measured pass doesn't absorb the bulk
    // of first-use JIT/codegen/shuffle-machinery warm-up — r20's
    // run_totals were 1.50x apart purely from pass-1 warm-up + host
    // noise, inflating the driver's best-of-2 headline. The warm-up
    // set spans the common physical-operator classes (hash aggregate,
    // SMJ/BHJ joins, window, sort, exploded arrays, parquet scan of
    // each major table); it runs through the same noop sink and its
    // staged frames are released, so nothing persists into the timed
    // region. Timing methodology (2 full passes, per-query min, noop
    // sink) is UNCHANGED.
    // r22 (r21 verdict item 6): the r21 warm-up set missed the heavy
    // physical classes — the graph sweep pin/fold machinery
    // (GraftPartitionedCheckpoint + shuffled-hash sweep joins:
    // q178 runs pageRankWeighted end to end) and the IVF parquet
    // write/read + streaming-engine init (q321 exercises partitioned
    // parquet write, MemoryStream micro-batches and index load) — so
    // the driver's pass 1 still absorbed their first-use cost
    // (driver run_totals 1.41x apart). Both additions are UNMEASURED
    // and write only to fresh Scratch temp dirs (no state survives
    // into the timed region; Staging released after each).
    for (w <- Seq("q01_pricing_summary", "q04_rank_segments",
                  "q14_trailing_avg", "q62_top_ngrams", "q92_hll_distinct",
                  "q178_textrank_keywords", "q321_ann_stream_append"))
      SparkEntry.queries.get(w).foreach { fn =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Exception => () } // warm-up must never kill the run
        finally graft.ops.Staging.releaseAll()
      }
    // Load phase: materialize the memoized FinData caches the §2.10
    // composite queries (q48-q51) share, mirroring the reference's own
    // load()/query split (its load_data() runs before any query and
    // BASELINE's "interactive" contract assumes loaded RAM tables).
    // Per-query timings then measure the queries, not the shared load.
    graft.queries.FinComposite.mapped(spark, sfDir)

    // Failed queries report -1 (not their partial wall time) so a
    // regression can't masquerade as a fast run.
    // Dev aid: SPARK_GRAFT_QUERIES=q64,q69 restricts the run to the
    // named prefixes. An artifact run MUST cover the full list, so a
    // set filter is shouted to stderr and stamped into the JSON line
    // ("filtered") — a partial artifact self-identifies instead of
    // silently posing as the full suite.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSeq)
    only.foreach { f =>
      System.err.println(
        s"[bench] WARNING: SPARK_GRAFT_QUERIES=${f.mkString(",")} is set — " +
          "this run covers a SUBSET of the suite and is NOT a valid artifact")
    }
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "120").toLong
    // single daemon worker: queries still run one-at-a-time; a hung
    // query's thread is abandoned (cancelJobGroup interrupts its jobs)
    // and a fresh worker takes over so the suite keeps moving
    var worker = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "bench-query"); t.setDaemon(true); t
    }
    val timedOut = scala.collection.mutable.Set[String]()
    def runOnce(run: Int): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
        .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          if (timedOut(name)) false
          else {
            val group = s"bench-$name-$run"
            val task = worker.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = {
                // job group is thread-local: set it on the worker so
                // cancelJobGroup reaches this query's jobs and no others
                spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
                try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
                finally spark.sparkContext.clearJobGroup()
              }
            })
            try { task.get(timeoutSec, TimeUnit.SECONDS); true }
            catch {
              case _: TimeoutException =>
                spark.sparkContext.cancelJobGroup(group)
                task.cancel(true)
                // the old worker may be stuck driver-side (analysis,
                // not a job) — shut it down NOW (interrupts the
                // abandoned thread so it can't contend with the next
                // query's timing) and continue on a fresh one
                worker.shutdownNow()
                worker = Executors.newSingleThreadExecutor { r =>
                  val t = new Thread(r, "bench-query"); t.setDaemon(true); t
                }
                timedOut += name
                System.err.println(s"[bench] $name TIMED OUT after ${timeoutSec}s (recorded -1)")
                false
              case e: java.util.concurrent.ExecutionException =>
                System.err.println(s"[bench] $name failed: ${e.getCause.getMessage}")
                false
              case _: InterruptedException =>
                // the BENCH thread was interrupted mid-wait (stray
                // signal, test harness). Crashing here would void the
                // whole artifact — the exact failure the watchdog
                // exists to prevent — so cancel this query, record -1,
                // clear the flag and keep the suite moving.
                spark.sparkContext.cancelJobGroup(group)
                task.cancel(true)
                Thread.interrupted()
                System.err.println(s"[bench] $name interrupted (recorded -1)")
                false
            }
          }
        val secs = (System.nanoTime() - t0) / 1e9
        // Staged per-query persists are released between queries so no
        // MEMORY_AND_DISK blocks leak across measurements.
        graft.ops.Staging.releaseAll()
        if (ok) System.err.println(f"[bench] run$run $name%-28s ${secs}%8.2f s")
        name -> (if (ok) secs else -1.0)
      }
    val run1 = runOnce(1)
    val run2 = runOnce(2)
    val results = run1.zip(run2).map { case ((name, a), (_, b)) =>
      // min of the successful runs; -1 only if BOTH runs failed
      name -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }
    // JSON string escaping: query names are code-controlled, but
    // SPARK_GRAFT_QUERIES is user input interpolated into the artifact
    // — an embedded quote/backslash must not break the JSON line
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    def tot(r: Seq[(String, Double)]) = r.map(_._2).filter(_ >= 0).sum
    val runTotals = s"[${tot(run1)},${tot(run2)}]"
    val filtered = only.map(f => s""","filtered":${jstr(f.mkString(","))}""").getOrElse("")
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

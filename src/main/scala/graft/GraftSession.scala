package graft

import org.apache.spark.sql.SparkSession

/** Recommended session construction for the engine: sensible local
  * shuffle parallelism, AQE (runtime coalescing, broadcast
  * conversion, skew-join splitting), UTC, a generated-class cache that
  * holds the engine's working set, and the native function
  * registrations. A user of the reference library switching to this
  * engine starts here.
  */
object GraftSession {

  /** Bound of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, keyed by the generated
    * source). Spark's default of 100 is smaller than one working set
    * of this engine, and Guava splits the bound over 4 LRU segments
    * (25 entries each at 100), so a workload that touches more classes
    * than a segment holds evicts, then recompiles, the classes its next
    * call needs. Entries held after a `perfbench` run's timed phase
    * at this bound: 339 for the FinLogic workload (set-up, a warm-up
    * and two sessions), 183 for the iterative query set. The 12 timed
    * queries of the iterative set compile 420 classes at 100, 38 at 300
    * (75 per segment, still evicting) and 28 at 1000; a warm FinLogic
    * session compiles 17-25 classes instead of 153-155, only those
    * whose source carries a value new to the call. The cache costs
    * only what it holds: about 6 MiB more heap on the FinLogic
    * workload, 2 MiB on the iterative set.
    *
    * A static conf: Spark reads it once, when the JVM first generates
    * code, so it is ignored when set on an existing session, or on any
    * session once the JVM has generated code.
    */
  val CodegenCacheEntries = 1000

  def builder(master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Defense-in-depth (round 6 postmortem): cap plan-string
      // rendering at 1 MB so a future lineage bug degrades to
      // truncated debug strings instead of GiB-scale driver
      // allocations. NOT a fix for lineage growth — iterative
      // operators must checkpoint (see Dedup.connectedComponents).
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)

  /** Build (or reuse) the session and register the graft SQL
    * functions. */
  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    graft.functions.GraftFunctions.ensureRegistered(spark)
    spark
  }
}

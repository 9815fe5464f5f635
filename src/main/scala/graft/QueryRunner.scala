package graft

import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, ExecutorService, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Staging

/** What one run of a query did: wall seconds; the jobs, stages and
  * tasks that ran under its job group; and, unless it finished, why
  * not (a `TimeoutException` when the time box expired, else the
  * cause it failed with). */
final case class QueryRecord(name: String, seconds: Double, jobs: Long, stages: Long,
                             tasks: Long, failure: Option[Throwable]) {
  def ok: Boolean = failure.isEmpty
  def timedOut: Boolean = failure.exists(_.isInstanceOf[TimeoutException])
}

/** The one query loop of the mains (Bench, Verify, Explain): each
  * query runs, built and consumed by one action, on a single daemon
  * worker thread under a hard time box, in its own job group, and
  * `Staging.releaseAll` follows every run, so no staged frame or
  * checkpoint leaks into the next query.
  *
  * WATCHDOG (two early rounds each voided a whole bench artifact when
  * one query hung): on expiry the query's job group is cancelled and
  * the worker is shut down now — it may be stuck driver-side, in
  * analysis rather than a job, and interrupting it keeps it off the
  * next query's timing — and a fresh worker takes over. If the
  * calling thread is interrupted mid-wait, the query is cancelled, the
  * flag cleared, and the loop goes on: crashing would void the run.
  *
  * Jobs, stages and tasks are attributed by a local property set
  * beside the job group ([[QueryRunner.QueryKey]]), so a cancelled
  * query still draining cannot inflate its neighbour's counts. Threads
  * the query starts inherit the property, so a streaming query's
  * micro-batch jobs count too: they run under the stream's own job
  * group. The bus is drained before a record is returned. Tasks are
  * those of completed stages; skipped stages count nothing.
  */
final class QueryRunner(spark: SparkSession, sfDir: String) {
  private val sc = spark.sparkContext
  private val groups = new ConcurrentHashMap[String, Array[AtomicLong]]() // jobs, stages, tasks
  private val stages = new ConcurrentHashMap[Int, Array[AtomicLong]]()
  private val runs = new AtomicLong
  private var worker = newWorker()

  sc.addSparkListener(new SparkListener {
    private def counts(p: java.util.Properties) =
      Option(p).flatMap(p => Option(p.getProperty(QueryRunner.QueryKey))).flatMap(g => Option(groups.get(g)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      counts(e.properties).foreach(_(0).incrementAndGet())
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      counts(e.properties).foreach(stages.put(e.stageInfo.stageId, _))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.remove(e.stageInfo.stageId)).foreach { c =>
        c(1).incrementAndGet(); c(2).addAndGet(e.stageInfo.numTasks)
      }
  })

  private def newWorker(): ExecutorService = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "graft-query"); t.setDaemon(true); t
  }

  /** Run `action(fn(spark, sfDir))` under a `timeoutSec` time box. */
  def run(name: String, fn: QueryRunner.Query, timeoutSec: Long = QueryRunner.timeoutSec)(
      action: DataFrame => Unit): QueryRecord = {
    val group = s"graft-$name-${runs.incrementAndGet()}"
    val counts = Array.fill(3)(new AtomicLong)
    groups.put(group, counts)
    val t0 = System.nanoTime()
    val task = worker.submit(new Callable[Unit] {
      def call(): Unit = {
        // both are thread-local: set them on the worker so a cancel and
        // the counts reach this query's jobs and no others
        sc.setJobGroup(group, name, interruptOnCancel = true)
        sc.setLocalProperty(QueryRunner.QueryKey, group)
        try action(fn(spark, sfDir))
        finally { sc.clearJobGroup(); sc.setLocalProperty(QueryRunner.QueryKey, null) }
      }
    })
    val failure =
      try { task.get(timeoutSec, TimeUnit.SECONDS); None }
      catch {
        case _: TimeoutException =>
          // and future jobs: a query still being built when the box
          // expires submits its job after the cancel, and plain
          // cancelJobGroup leaves that job holding the cores
          sc.cancelJobGroupAndFutureJobs(group); task.cancel(true)
          worker.shutdownNow(); worker = newWorker()
          Some(new TimeoutException(s"timed out after ${timeoutSec}s"))
        case e: ExecutionException => Some(e.getCause)
        case e: InterruptedException =>
          sc.cancelJobGroupAndFutureJobs(group); task.cancel(true); Thread.interrupted()
          Some(e)
      }
    val seconds = (System.nanoTime() - t0) / 1e9
    Staging.releaseAll()
    ListenerDrain.drain(sc)
    groups.remove(group)
    stages.values.removeIf(_ eq counts) // stages of a cancelled job never complete
    QueryRecord(name, seconds, counts(0).get, counts(1).get, counts(2).get, failure)
  }
}

object QueryRunner {
  type Query = (SparkSession, String) => DataFrame

  /** Local property naming the run whose counts a job goes to. */
  val QueryKey = "graft.query"

  /** Per-query time box, `SPARK_GRAFT_QUERY_TIMEOUT` seconds. */
  def timeoutSec: Long = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "120").toLong

  /** Name prefixes from `SPARK_GRAFT_ONLY` (comma-separated; none when unset). */
  def only: Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** The engine's session at `SPARK_GRAFT_CPUS` cores and shuffle
    * partitions, else `defaultCpus`. */
  def session(defaultCpus: Int): SparkSession.Builder = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt)
    GraftSession.builder(s"local[$cpus]", cpus)
  }

  /** The queries whose name starts with one of `prefixes` (every query
    * when there are none), in name order; a full name is its own
    * prefix. A prefix that matches no query is an error. */
  def select(prefixes: Seq[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val unmatched = prefixes.filterNot(p => all.exists(_._1.startsWith(p)))
    require(unmatched.isEmpty, s"no query name starts with: ${unmatched.mkString(", ")}")
    all.filter { case (name, _) => prefixes.isEmpty || prefixes.exists(name.startsWith) }
  }

  /** A JSON string literal: backslash, quote and every control char
    * escaped — a tab in builder-authored SQL or a quote in a user's
    * prefix list must not break a reader's JSON parse. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

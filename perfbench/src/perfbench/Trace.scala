package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and layer counters, taken from outside the program.
  *
  * Spans are recorded around the benchmark's own calls into the
  * program (op -> build / exec / release; session -> API call -> build
  * / exec). Counters come from a `SparkListener` (scheduler, executor
  * and storage events) and a `QueryExecutionListener` (Catalyst phase
  * times from `qe.tracker`). Both listeners count only while a traced
  * op runs; the listener bus is drained at each traced op's edges, so
  * every event of the op is counted in that op and no other.
  *
  * Jobs carry the innermost open span's name as a local property, so a
  * job started while a "build" span is open counts as a build job.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  @volatile private var counting = false
  private val c = Array.fill(Counter.values.size)(new AtomicLong)
  private def add(k: Counter.Value, v: Long): Unit = c(k.id).addAndGet(v)

  // job intervals (epoch ms) for busy / no-job time; guarded by `this`
  private val jobStart = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  // live RDD blocks and their bytes, for the cache peak
  private val blocks = mutable.Map[String, Long]()
  private var cached = 0L
  private var cachedPeak = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (counting) {
      add(Counter.jobs, 1)
      val phase = Option(e.properties).map(_.getProperty(PhaseProp)).orNull
      if (phase == "build") add(Counter.buildJobs, 1)
      Trace.this.synchronized { jobStart(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => if (counting) intervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (counting) {
      add(Counter.stages, 1)
      add(Counter.tasks, e.stageInfo.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (counting && e.taskMetrics != null) {
        val m = e.taskMetrics
        add(Counter.runMs, m.executorRunTime)
        add(Counter.cpuNs, m.executorCpuTime)
        add(Counter.gcMs, m.jvmGCTime)
        add(Counter.shuffleWrite, m.shuffleWriteMetrics.bytesWritten)
        add(Counter.shuffleRead, m.shuffleReadMetrics.totalBytesRead)
        add(Counter.spill, m.diskBytesSpilled)
        add(Counter.input, m.inputMetrics.bytesRead)
        add(Counter.output, m.outputMetrics.bytesWritten)
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) Trace.this.synchronized {
        val id = b.blockId.name
        val size = b.memSize + b.diskSize
        val before = blocks.getOrElse(id, 0L)
        if (b.storageLevel.isValid && size > 0) {
          if (!blocks.contains(id) && counting) add(Counter.blocksWritten, 1)
          blocks(id) = size
        } else blocks.remove(id)
        cached += blocks.getOrElse(id, 0L) - before
        if (counting) cachedPeak = cachedPeak.max(cached)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (counting) phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (counting) phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
      add(Counter.analysisMs, ms("analysis"))
      add(Counter.optimizeMs, ms("optimization"))
      add(Counter.planMs, ms("planning"))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def drain(): Unit = org.apache.spark.BusAccess.drain(spark.sparkContext)

  /** Runs `body` with counting on; returns its counter deltas, the
    * busy milliseconds inside [t0, t1] and the cached-bytes peak. */
  def counted[T](body: => T): (T, Map[String, Double]) = {
    drain()
    val before = c.map(_.get)
    synchronized { intervals.clear(); cachedPeak = cached }
    counting = true
    val t0 = System.currentTimeMillis()
    val r = try body finally {
      val t1 = System.currentTimeMillis()
      drain()
      counting = false
      lastBusyMs = synchronized(unionMs(intervals.toSeq, t0, t1))
    }
    val delta = Counter.values.toSeq.map(k => k.toString -> (c(k.id).get - before(k.id)).toDouble)
    (r, (delta :+ ("busyMs" -> lastBusyMs.toDouble) :+
      ("cachePeakBytes" -> synchronized(cachedPeak).toDouble)).toMap)
  }
  private var lastBusyMs = 0L
}

object Trace {
  val PhaseProp = "perfbench.phase"

  object Counter extends Enumeration {
    val jobs, buildJobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead,
      spill, input, output, blocksWritten, analysisMs, optimizeMs, planMs = Value
  }

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = s0.max(end); val e = e0.min(hi)
      if (e > s) { total += e - s; end = e }
    }
    total
  }
}

/** One span: a named interval on the client thread, with its parent
  * and the op it belongs to. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Records spans on the client thread when `on`; otherwise only runs
  * the body, so an untraced op pays nothing. Sets the innermost span's name as the job local property
  * that [[Trace]] reads. */
final class Spans(spark: SparkSession) {
  @volatile var on = false
  val done = mutable.ArrayBuffer[Span]()
  private var next = 0
  private val stack = new ThreadLocal[List[(Int, Int, String)]] {
    override def initialValue() = Nil
  }

  def apply[T](op: Int, name: String)(body: => T): T =
    if (!on) body else record(op, name, body)

  private def record[T](op: Int, name: String, body: => T): T = {
    val sc = spark.sparkContext
    val prevPhase = sc.getLocalProperty(Trace.PhaseProp)
    sc.setLocalProperty(Trace.PhaseProp, name)
    val parent = stack.get().headOption.map(_._1).getOrElse(-1)
    val id = synchronized { next += 1; next }
    stack.set((id, op, name) :: stack.get())
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      sc.setLocalProperty(Trace.PhaseProp, prevPhase)
      synchronized { done += Span(id, parent, op, name, t0, t1) }
    }
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One op: its body, timed as the op's latency, and its release step,
  * which runs after it and counts in throughput but not in latency.
  * Both get the op id, for spans. */
final case class Op(name: String, body: Int => Unit, release: Int => Unit = _ => ())

/** One workload: untimed set-up (inputs, warm-up), then
  * an op sequence that the timed phase runs in whole cycles. */
trait Workload {
  def setup(run: Runner): Unit
  /** Ops per cycle. */
  def cycle: Int
  def op(i: Int): Op
  /** Whole cycles the timed phase runs: a count fixed by `seconds`
    * alone. With a deadline, or a count taken from a measured cycle, a
    * slow host changed how many ops a run timed, and later ops run
    * faster than earlier ones. */
  def passes(seconds: Double): Int
  /** Untimed, after the timed phase: leaves the outputs to check. */
  def finish(): Unit = ()
  /** Facts and check inputs for the result file. */
  def report: Map[String, Any]
}

/** Runs ops one at a time on a worker thread, each under its own job
  * group and time box, so a hung op is cancelled and named instead of
  * voiding the run. */
final class Runner(spark: SparkSession, val spans: Spans, timeoutS: Long) {
  private def newWorker(): ExecutorService = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
  }
  private var worker = newWorker()
  private var nextId = 0

  /** Runs `op`; returns (op id, latency seconds, failure cause). */
  def apply(op: Op): (Int, Double, Option[String]) = {
    nextId += 1
    val id = nextId
    val group = s"perfbench-$id"
    val task = worker.submit(new Callable[Double] {
      def call(): Double = {
        spark.sparkContext.setJobGroup(group, op.name, interruptOnCancel = true)
        try spans(id, "op") {
          val t0 = System.nanoTime()
          op.body(id)
          val latency = (System.nanoTime() - t0) / 1e9
          spans(id, "release")(op.release(id))
          latency
        } finally spark.sparkContext.clearJobGroup()
      }
    })
    try (id, task.get(timeoutS, TimeUnit.SECONDS), None)
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        task.cancel(true)
        worker.shutdownNow()
        worker = newWorker()
        (id, timeoutS.toDouble, Some(s"timed out after ${timeoutS}s"))
      case e: ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        (id, Double.NaN, Some(s"${c.getClass.getName}: ${String.valueOf(c.getMessage).take(300)}"))
    }
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = a("out")
    val nproc = Runtime.getRuntime.availableProcessors
    // Half the cores: with local[nproc] the client, JIT and GC threads
    // and the tasks together outnumber the cores, and a run measured
    // how the host scheduled them (see perfbench/README.md).
    val cores = math.max(1, nproc / 2)

    val spark = graft.GraftSession.builder(master = s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)

    val spans = new Spans(spark)
    // registered before set-up, so the cache peak counts set-up's blocks
    val trace = if (traced) Some(new Trace(spark)) else None
    val run = new Runner(spark, spans, timeoutS = 60)
    val wl: Workload = workload match {
      case "fin_interactive" => new FinWorkload(spark, spans, seed, s"$out/fin")
      case w => new QueryWorkload(spark, spans, w, seed, a("data"), s"$out/results")
    }
    // No heap reading between set-up and the timed phase: its full
    // collections would wake Spark's cleaner, which then frees set-up's
    // shuffles and broadcasts while the first timed ops run, and the
    // heap after set-up was below the heap after the timed phase in
    // each of 60 runs measured.
    wl.setup(run)

    // Timed phase. A traced run times twice the cycles, alternating
    // untraced and traced ones (U T T U U T ...): a traced op records
    // spans and counts its listener events, an untraced one neither, so
    // the run's tracing overhead compares ops of the same JVM and time.
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val t0 = System.nanoTime()
    val nOps = wl.passes(seconds) * wl.cycle * (if (traced) 2 else 1)
    for (i <- 0 until nOps) {
      val op = wl.op(i)
      val tracedOp = traced && Set(1, 2)(i / wl.cycle % 4)
      spans.on = tracedOp
      val ((id, s, err), counts) = trace match {
        case Some(t) if tracedOp => t.counted(run(op))
        case _ => (run(op), Map.empty[String, Double])
      }
      ops += Map("i" -> i, "id" -> id, "name" -> op.name, "s" -> s, "error" -> err.orNull,
        "traced" -> tracedOp, "counts" -> counts)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val heapEnd = heapAfterGcMb()
    wl.finish()

    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "timed_s" -> wallS,
      "heap_end_mb" -> heapEnd,
      "nproc" -> nproc, "cores" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_conf" -> spark.sparkContext.getConf.getAll.toMap,
      "ops" -> ops.toSeq,
      "spans" -> spans.done.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
    ) ++ wl.report
    Files.write(Paths.get(s"$out/result.json"), Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Heap in use after full collections, in MiB. Collections repeat
    * until the reading stops falling: Spark's cleaner threads free more
    * once a collection has found their objects unreachable. */
  private def heapAfterGcMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (prev, cur, n) = (Double.MaxValue, used(), 1)
    while (cur < prev - 1.0 && n < 5) { Thread.sleep(200); prev = cur; cur = used(); n += 1 }
    cur
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

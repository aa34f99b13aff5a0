package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Cumulative engine counters, fed by a listener the benchmark registers
  * on its own session. A span reads them at its start and end; the
  * difference is the work the span caused. */
final class Counters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val spillBytes = new AtomicLong
  val shuffleBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def snapshot(): Array[Long] = Array(jobs.get, tasks.get, taskCpuNs.get,
    gcMs.get, spillBytes.get, shuffleBytes.get)
}

object Counters {
  /** Field names of a [[Counters.snapshot]] delta, as reported per layer. */
  val names: Seq[String] =
    Seq("jobs", "tasks", "task_cpu_s", "gc_s", "spill_mb", "shuffle_mb")

  /** Converts a raw snapshot delta to the reported units. */
  def scaled(d: Array[Long]): Seq[Double] = Seq(
    d(0).toDouble, d(1).toDouble, d(2) / 1e9, d(3) / 1e3,
    d(4) / 1048576.0, d(5) / 1048576.0)
}

/** One timed call into a layer: its name, the span that caused it, wall
  * time and the counter deltas over its interval. */
final case class Span(id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long, counters: Seq[Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, [[span]] just runs its body: the
  * untraced run pays nothing. Enabled, each span drains the listener
  * bus at both ends so its counter deltas are complete; that drain is
  * part of the tracing overhead the traced run reports. Spans are
  * written out once, when the run ends. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private var sc: SparkContext = _
  private var counters: Counters = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 1
  private var muted = false

  /** Registers a fresh counter listener on `context` (called for every
    * session the run creates). */
  def attach(context: SparkContext): Unit = {
    sc = context
    counters = new Counters
    context.addSparkListener(counters)
  }

  def drain(): Unit = if (sc != null && !sc.isStopped) PerfbenchBus.drain(sc)

  /** Runs `body` with span recording off, so a traced run can time
    * untraced passes beside traced ones. */
  def quiet[T](body: => T): T = {
    val was = muted
    muted = true
    try body finally muted = was
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled || muted) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      drain()
      val c0 = counters.snapshot()
      val t0 = System.nanoTime()
      stack.push(id)
      try body
      finally {
        stack.pop()
        val t1 = System.nanoTime()
        drain()
        val c1 = counters.snapshot()
        spans.synchronized {
          spans += Span(id, parent, name, t0, t1,
            Counters.scaled(c1.zip(c0).map { case (a, b) => a - b }))
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Layer metrics from every span named `name`: the median of its wall
    * time as `<name>.s` (`Claims.read_s` for a dotted name such as
    * `Claims.read`), and the median of each counter delta as
    * `<name>.<counter>`. */
  def layer(name: String): Seq[(String, Double)] = {
    val ss = all.filter(_.name == name)
    val timeKey = if (name.contains('.')) s"${name}_s" else s"$name.s"
    if (ss.isEmpty) Seq.empty
    else (timeKey -> Stats.median(ss.map(_.seconds))) +:
      Counters.names.indices.map(i =>
        s"$name.${Counters.names(i)}" -> Stats.median(ss.map(_.counters(i))))
  }

  /** Spans as JSON lines sharing this run's id. */
  def toJsonLines: Seq[String] = all.map { s =>
    val cs = Counters.names.zip(s.counters)
      .map { case (k, v) => "\"" + k + "\":" + Json.num(v) }.mkString(",")
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},$cs}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default), 0 on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toArray
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

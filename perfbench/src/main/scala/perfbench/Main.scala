package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload run measured and checked. `e2e` holds the
  * end-to-end metrics, `layers` the per-layer ones (traced runs). */
final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
                         e2e: Map[String, Double], layers: Map[String, Double])

/** Run-wide state: arguments, paths under the benchmark's work directory,
  * the tracer and the current session. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val tracer: Tracer, home: String) {
  val work: String = s"$home/.work"
  val data: String = s"$home/data/sf0.01"
  var spark: SparkSession = _
  /** Wall time of each `Sessions.local` call (no span: the listener is
    * attached to the session it creates). */
  val sessionStarts = mutable.ArrayBuffer.empty[Double]

  /** Stops the current session, if any, and starts a fresh one with the
    * benchmark's listener attached. Spark's scratch space comes from
    * SPARK_LOCAL_DIRS, which run.py points into the work directory. */
  def newSession(): Unit = {
    if (spark != null) {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
    val t0 = System.nanoTime()
    spark = graft.Sessions.local(extra = Map(
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.sql.streaming.numRecentProgressUpdates" -> "10000"))
    sessionStarts += elapsed(t0)
    tracer.attach(spark.sparkContext)
  }

  /** Runs the workload's set-up `reps` times, each in a fresh session,
    * and returns the median wall time; the last set-up's state is kept. */
  def setUp(reps: Int = 3)(prepare: () => Unit): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      newSession()
      prepare()
      (System.nanoTime() - t0) / 1e9
    }
    phase(s"set-up x$reps: ${ts.map(t => f"$t%.2f").mkString(" ")} s")
    Stats.median(ts)
  }

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Deletes a file tree if it exists. */
  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => Files.delete(q))
      finally st.close()
    }

  private val born = System.nanoTime()

  /** Notes on stderr how far into the run a phase ended. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${elapsed(born)}%7.2f s  $name")

  /** Full materialization as graft.Bench does it (a hash of every
    * column folded into one aggregate), plus the row count. */
  def materialize(df: DataFrame): Long = countAndHash(df).collect().head.getLong(0)

  def countAndHash(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(c => col(s"`$c`")): _*)).as("h"))
      .agg(count(lit(1)), bit_xor(col("h")))
}

object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "batch-train" -> FraudBatch.train,
    "stream" -> StreamFraud.run,
    "registry" -> Registry.run)

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --home DIR --workload NAME --seed N " +
      "--seconds S --trace 0|1 | --home DIR --pin-registry")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap ++
      argv.filter(_ == "--pin-registry").map(_ -> "1")
    val home = opts.getOrElse("--home", usage("--home is required"))
    if (opts.contains("--pin-registry")) {
      Registry.pin(new Ctx("registry", 0L, 0.0, new Tracer(false, "pin"), home))
      return
    }
    val workload = opts.getOrElse("--workload", usage("--workload is required"))
    val run = Workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val seed = opts.get("--seed").flatMap(_.toLongOption).getOrElse(usage("--seed N"))
    val seconds = opts.get("--seconds").flatMap(_.toDoubleOption).getOrElse(usage("--seconds S"))
    val traced = opts.getOrElse("--trace", "0") == "1"
    val runId = s"$workload-s$seed-t${if (traced) 1 else 0}-${System.currentTimeMillis}"
    val ctx = new Ctx(workload, seed, seconds, new Tracer(traced, runId), home)
    Files.createDirectories(Paths.get(ctx.work, "runs"))

    val host0 = Host.snapshot()
    val outcome =
      try run(ctx)
      catch { case e: Throwable =>
        e.printStackTrace()
        Outcome(1, 1, Seq(s"run threw ${e.getClass.getName}: ${e.getMessage}"), Map.empty, Map.empty)
      }
    val rssMb = Host.peakRssMb()
    if (ctx.spark != null) ctx.spark.stop()
    val host1 = Host.snapshot()

    // A traced run reports every layer; one the workload never calls
    // did no work, so it reads 0.
    val wanted = if (traced) Metrics.perLayer else Metrics.endToEnd
    val values = if (traced) Metrics.perLayer.map(_.name -> 0.0).toMap ++
                   outcome.layers + ("Sessions.local_s" -> Stats.median(ctx.sessionStarts.toSeq))
                 else outcome.e2e + ("peak_rss_mb" -> rssMb)
    val missing = wanted.map(_.name).filterNot(values.contains)
    val problems = outcome.problems ++
      (if (outcome.failed == 0 && missing.nonEmpty) Seq(s"metrics not measured: ${missing.mkString(",")}")
       else Nil)
    val correct = problems.isEmpty && outcome.failed == 0

    val record = Json.obj(Seq(
      "run" -> Json.str(runId), "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> traced.toString,
      "host" -> Host.record(host0, host1),
      "problems" -> problems.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(values.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    val recordPath = Paths.get(ctx.work, "runs", s"$runId.json")
    Files.writeString(recordPath, record + "\n")
    if (traced)
      Files.write(Paths.get(ctx.work, "runs", s"$runId.spans.jsonl"),
        ctx.tracer.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))

    System.err.println(s"[perfbench] host ${Host.record(host0, host1)}")
    if (host0.load1 > host0.nproc)
      System.err.println(s"[perfbench] WARNING: run started with loadavg ${host0.load1} " +
        s"above nproc ${host0.nproc}; its timings are suspect")
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    wanted.foreach { m =>
      println(f"${m.name}%-40s ${values.getOrElse(m.name, Double.NaN)}%14.6f ${m.unit}")
    }
    val metrics = Json.obj(wanted.map { m =>
      m.name -> Json.obj(Seq("value" -> Json.num(values.getOrElse(m.name, 0.0)),
        "unit" -> Json.str(m.unit)))
    })
    println(Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> math.max(1L, outcome.attempted).toString,
      "failed" -> outcome.failed.toString, "metrics" -> metrics)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Host facts recorded with every run: cores, the session width
  * override, heap, load average at start and end, and CPU time stolen by
  * other guests during the run. */
object Host {
  final case class Snap(nproc: Int, load1: Double, stealS: Double, atMs: Long)

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** CPU time the hypervisor gave to other guests, summed over CPUs
    * (the `steal` column of /proc/stat, in 1/100 s). */
  def stealSeconds(): Double =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100.0
    catch { case _: Throwable => -1.0 }

  def snapshot(): Snap = Snap(Runtime.getRuntime.availableProcessors, loadavg(),
    stealSeconds(), System.currentTimeMillis)

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }

  def record(a: Snap, b: Snap): String = Json.obj(Seq(
    "nproc" -> a.nproc.toString,
    "spark_graft_cpus" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "")),
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
    "loadavg_start" -> Json.num(a.load1), "loadavg_end" -> Json.num(b.load1),
    "loaded_start" -> (a.load1 > a.nproc).toString,
    "steal_s" -> Json.num(b.stealS - a.stealS),
    "wall_s" -> Json.num((b.atMs - a.atMs) / 1e3)))
}

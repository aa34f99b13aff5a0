package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `registry`: a family- and cost-stratified sample of the registered
  * queries on the benchmark's corpus, run in a seeded order, each fully
  * materialized as graft.Bench does it, with the durable indexes built
  * in set-up.
  *
  * `registry.tsv` pins, per query, its package family, its row count on
  * the corpus and a reference time used only to stratify the sample.
  * `--pin-registry` regenerates it. */
object Registry {
  final case class Pin(name: String, family: String, rows: Long, seconds: Double,
                       indexes: Seq[String])

  /** Queries slower than this in the pin run are left out of the sample:
    * one of them would take a whole run. */
  val MaxPinnedSeconds = 3.0

  /** Sample size: one query per this many seconds of `--seconds`. A run
    * runs each query `WarmPasses + TimedPasses` times, at about 0.55 s
    * each on 4 cores, so the timed passes take about `--seconds`
    * × 0.75. */
  val SecondsPerQuery = 1.5

  /** Untimed passes over the sample before the timed ones: a query's
    * second run is still 15–25 % slower than its third and later ones
    * (class loading, JIT, whole-stage code generation). */
  val WarmPasses = 2

  /** Timed passes over the sample; a query's time is its median over
    * them. */
  val TimedPasses = 2

  /** Seed of the stratified draw. */
  val SampleSeed = 42L

  /** The durable indexes, as graft.Bench builds them: directory prefix
    * under the index root, snapshot table, and the build. */
  val Indexes: Seq[(String, String, (SparkSession, String) => Unit)] = Seq(
    ("dedup-", "documents.parquet", (s, d) => { graft.dedup.DedupQueries.corpusIndex(s, d); () }),
    ("ivf3-", "embeddings.parquet", (s, d) => { graft.sim.SimilarityQueries.ivfIndex(s, d); () }),
    ("spangrams-", "documents.parquet", (s, d) => { graft.text.Scrub.spanGramIndex(s, d); () }),
    ("ivfapp-", "embeddings.parquet", (s, d) => { graft.sim.SimilarityQueries.ivfAppendedIndex(s, d); () }),
    ("clusters-", "documents.parquet", (s, d) => { graft.dedup.DedupQueries.clusterAssignmentTable(s, d); () }),
    (s"kmeans${graft.sim.KMeans.Iters}-", "embeddings.parquet", (s, d) => { graft.sim.KMeans.centroidsTable(s, d); () }),
    ("pairs-", "documents.parquet", (s, d) => { graft.dedup.DedupQueries.verifiedPairsTable(s, d); () }),
    ("semdrops-", "embeddings.parquet", (s, d) => { graft.sim.SimilarityQueries.semanticDropsTable(s, d); () }),
    ("jlivf-", "embeddings.parquet", (s, d) => { graft.sim.JlIvf.jlIvfIndex(s, d); () }),
    ("rrfcand2-", "embeddings.parquet", (s, d) => { graft.sim.RankFusion.rrfCandidatesTable(s, d); () }))

  def pinFile(ctx: Ctx): Path = Paths.get(ctx.work).getParent.resolve("registry.tsv")

  def loadPins(ctx: Ctx): Seq[Pin] =
    Files.readAllLines(pinFile(ctx)).toArray.map(_.toString)
      .filterNot(l => l.startsWith("#") || l.isBlank).toSeq
      .map(_.split("\t")).map(f => Pin(f(0), f(1), f(2).toLong, f(3).toDouble,
        f(4).split(",").toSeq.filter(_ != "-")))

  def family(name: String): String =
    SparkEntry.packs.find(_.queries.contains(name))
      .map(_.getClass.getPackage.getName.stripPrefix("graft.")).getOrElse("?")

  /** Deletes and rebuilds the durable indexes whose directory prefix is
    * in `only` (all of them by default), each in its own span. */
  private def buildIndexes(ctx: Ctx, only: String => Boolean = _ => true): Unit =
    Indexes.filter(i => only(i._1.stripSuffix("-"))).foreach { case (prefix, table, build) =>
      val loc = graft.ops.DurableIndex.root
        .resolve(prefix + graft.ops.DurableIndex.snapshotTag(ctx.data, table))
      ctx.deleteTree(loc)
      ctx.tracer.span("DurableIndex.build") { build(ctx.spark, ctx.data) }
    }

  /** `k` queries (at least one per family): each family gets one slot,
    * the other slots are shared among families in proportion to their
    * size, and each family's queries are sorted by pinned time and cut
    * into as many runs of neighbours as it has slots, one query drawn
    * per run. */
  def sample(pins: Seq[Pin], k: Int, seed: Long): Seq[Pin] = {
    val rng = new java.util.Random(seed)
    val byFamily = pins.groupBy(_.family).toSeq.sortBy(_._1)
    val rest = math.max(0, k - byFamily.size)
    val exact = byFamily.map { case (f, ps) => f -> rest.toDouble * ps.size / pins.size }
    val floor = exact.map { case (f, x) => f -> x.toInt }.toMap
    val extra = exact.sortBy { case (f, x) => (-(x - x.toInt), f) }
      .take(rest - floor.values.sum).map(_._1).toSet
    byFamily.flatMap { case (f, ps) =>
      val slots = math.min(ps.size, 1 + floor(f) + (if (extra(f)) 1 else 0))
      val sorted = ps.sortBy(p => (p.seconds, p.name)).toIndexedSeq
      (0 until slots).map { s =>
        val lo = s * sorted.size / slots
        val hi = (s + 1) * sorted.size / slots
        sorted(lo + rng.nextInt(hi - lo))
      }
    }
  }

  def run(ctx: Ctx): Outcome = {
    val pins = loadPins(ctx).filter(_.seconds <= MaxPinnedSeconds)
    val k = math.round(ctx.seconds / SecondsPerQuery).toInt
    // the set is one fixed stratified draw; the seed orders it, so every
    // seed measures the same queries and only the run's noise differs
    val chosen = new scala.util.Random(ctx.seed).shuffle(sample(pins, k, SampleSeed))
    // a run starts from an empty index root, so nothing a query persists
    // carries over from an earlier run; set-up builds what the sample uses
    ctx.deleteTree(graft.ops.DurableIndex.root)
    val needed = chosen.flatMap(_.indexes).toSet
    ctx.phase(s"sample: ${chosen.map(_.name).mkString(" ")}")
    val setup = ctx.setUp() { () => buildIndexes(ctx, needed) }
    // untimed warm-up over the same queries, all of them before any is
    // timed, since which query pays for shared class loading and JIT
    // depends on the order
    for (_ <- 1 to WarmPasses; pin <- chosen) {
      try ctx.materialize(SparkEntry.queries(pin.name)(ctx.spark, ctx.data))
      catch { case _: Throwable => () } // the timed pass reports it
      ctx.spark.catalog.clearCache()
    }
    ctx.phase("warm-up passes")
    val t = ctx.tracer
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val problems = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    for (_ <- 1 to TimedPasses; pin <- chosen) {
      val fn = SparkEntry.queries(pin.name)
      val t0 = System.nanoTime()
      try {
        val rows = t.span("SparkEntry") {
          val df = t.span("SparkEntry.build") { fn(ctx.spark, ctx.data) }
          val m = ctx.countAndHash(df)
          t.span("SparkEntry.plan") { if (t.enabled) m.queryExecution.executedPlan }
          t.span("SparkEntry.exec") { m.collect().head.getLong(0) }
        }
        times.getOrElseUpdate(pin.name, mutable.ArrayBuffer.empty) += ctx.elapsed(t0)
        if (rows != pin.rows) {
          failed += 1
          problems += s"${pin.name}: $rows rows, pinned ${pin.rows}"
        }
      } catch { case e: Throwable =>
        failed += 1
        problems += s"${pin.name} threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      ctx.spark.catalog.clearCache()
    }
    ctx.phase(s"$TimedPasses timed passes over ${chosen.size} queries")
    val ts = times.values.map(v => Stats.median(v.toSeq)).toSeq
    val spans = t.all
    def perQuery(name: String, i: Int): Double =
      Stats.median(spans.filter(_.name == name).map(_.counters(i)))
    val layers = if (!t.enabled) Map.empty[String, Double] else {
      t.layer("SparkEntry") ++ t.layer("DurableIndex.build") ++ Seq(
        "SparkEntry.build_s" -> Stats.median(spans.filter(_.name == "SparkEntry.build").map(_.seconds)),
        "SparkEntry.eager_jobs" -> perQuery("SparkEntry.build", 0),
        "SparkEntry.plan_s" -> Stats.median(spans.filter(_.name == "SparkEntry.plan").map(_.seconds)),
        "SparkEntry.exec_s" -> Stats.median(spans.filter(_.name == "SparkEntry.exec").map(_.seconds)),
        "op_tail_s" -> Stats.quantile(ts, 0.9),
        "trace.op_p50_s" -> Stats.median(ts))
    }.toMap
    Outcome(attempted = TimedPasses * chosen.size, failed = failed, problems = problems.toSeq,
      e2e = Map("setup_s" -> setup,
        "op_p50_s" -> Stats.median(ts),
        "throughput_per_s" -> ts.size / ts.sum),
      layers = layers)
  }

  /** Runs every registered query twice and writes `registry.tsv`. The
    * first pass runs each query on an empty index root, to record which
    * durable indexes it builds; the second runs them all with every
    * index built, as a run does, and gives the pinned time. A query
    * whose row count differs between the passes, or that throws, is
    * written as a comment and never sampled. */
  def pin(ctx: Ctx): Unit = {
    ctx.newSession()
    val root = graft.ops.DurableIndex.root
    def once(name: String): Either[String, (Long, Double)] = {
      val t0 = System.nanoTime()
      try Right((ctx.materialize(SparkEntry.queries(name)(ctx.spark, ctx.data)), ctx.elapsed(t0)))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(200)) }
      finally ctx.spark.catalog.clearCache()
    }
    def present(): Seq[String] = {
      val dirs = if (!Files.exists(root)) Nil else {
        val st = Files.list(root)
        try st.iterator().asScala.map(_.getFileName.toString).toList finally st.close()
      }
      Indexes.map(_._1).filter(p => dirs.exists(_.startsWith(p)))
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    val first = names.map { n =>
      // a fresh session too: the old one still lists the deleted files
      ctx.deleteTree(root)
      ctx.newSession()
      val r = once(n)
      n -> (r, present())
    }.toMap
    ctx.deleteTree(root)
    buildIndexes(ctx)
    val lines = names.map { n =>
      (first(n)._1, once(n)) match {
        case (Right((r1, _)), Right((r2, s))) if r1 == r2 =>
          val deps = first(n)._2.map(_.stripSuffix("-"))
          f"$n\t${family(n)}\t$r2\t$s%.3f\t${if (deps.isEmpty) "-" else deps.mkString(",")}"
        case (a, b) => s"# $n\tunstable or failing: $a / $b".replace("\n", " ")
      }
    }
    val header = Seq(
      "# Registered queries on the benchmark corpus: name, package family, row count,",
      "# seconds in the pin run (used only to stratify the sample), durable indexes used.",
      "# Regenerate with: python3 perfbench/run.py --pin-registry")
    Files.write(pinFile(ctx), (header ++ lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    System.err.println(s"[perfbench] pinned ${lines.count(!_.startsWith("#"))} of ${names.size} queries")
  }

}

package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.fraud.{Claims, FraudModel, FraudPipeline, RuleEngine}
import graft.ml.Trainer
import graft.streaming.StreamingFraud
import graft.streaming.StreamingFraud.ClaimEvent

/** `stream`: claims in event-time order flow through
  * `StreamingFraud.withRuleTags` and then `scoreStream`.
  *
  * Open loop first: a generator thread offers claims at `Rate` per
  * second on a fixed schedule, whatever the query does, and each claim's
  * latency runs from when it was due to when its micro-batch reached the
  * sink. Then `Drains` backlogs of `Backlog` claims are offered one at a
  * time, each all at once, and the median drain rate is reported. */
object StreamFraud {
  val Rate = 4000.0
  val OpenShare = 0.5
  val Backlog = 32000
  val Drains = 7
  val WarmClaims = 2000
  /** Untimed after set-up: micro-batches of `WarmClaims` claims, then
    * backlogs of `Backlog`. */
  val WarmBatches = 4
  val WarmDrains = 1
  val ModelSample = 2000
  /** Generator tick: claims due within one tick are added together. */
  val TickMs = 20L

  /** Output rows of one micro-batch and when the sink received them. */
  final case class Batch(id: Long, rows: Array[Row], atNs: Long)

  def run(ctx: Ctx): Outcome = {
    val openClaims = (Rate * ctx.seconds * OpenShare).toInt
    val warmSizes = Seq.fill(WarmBatches)(WarmClaims) ++ Seq.fill(WarmDrains)(Backlog)
    val warmed = WarmClaims + warmSizes.sum
    var claims: Array[Claim] = null
    var input: MemoryStream[ClaimEvent] = null
    var query: StreamingQuery = null
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

    def emitted: Long = batches.asScala.map(_.rows.length.toLong).sum
    def offer(cs: Array[Claim]): Unit = input.addData(cs.toIndexedSeq.map(event))
    def awaitEmitted(n: Long): Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (emitted < n && System.nanoTime() < deadline && query.isActive) Thread.sleep(2)
      if (emitted < n) throw new IllegalStateException(s"stream emitted $emitted of $n claims")
    }

    // each set-up starts a new query from an empty checkpoint
    val checkpoint = java.nio.file.Paths.get(ctx.work, "stream-checkpoint")
    val setup = ctx.setUp() { () =>
      batches.clear()
      ctx.deleteTree(checkpoint)
      val spark = ctx.spark
      import spark.implicits._
      val base = ClaimsGen.loadBase(spark, ctx.data)
      claims = ClaimsGen.generate(base, warmed + openClaims + Drains * Backlog, ctx.seed)
        .sortBy(_.epochDay)
      // the model and both thresholds are fitted on a sample, as a
      // deployment would fit them before the stream starts
      val sampleCsv = s"${ctx.work}/stream-sample.csv"
      ClaimsGen.writeCsv(ClaimsGen.generate(base, ModelSample, ctx.seed + 1), sampleCsv)
      val sample = Claims.readCsv(spark, sampleCsv)
      val model = FraudPipeline.train(spark, sample, Trainer.Config(epochs = 1))
      val highClaim = RuleEngine.p99Amount(sample)
      val mlThreshold = threshold(ctx, sample, model)
      // one source partition per core: by default every addData call
      // becomes its own partition, so tick size would set the task count
      input = MemoryStream[ClaimEvent](spark, spark.sparkContext.defaultParallelism)
      query = StreamingFraud
        .scoreStream(StreamingFraud.withRuleTags(input.toDS(), highClaim), model, mlThreshold)
        .writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          val rows = df.collect()
          batches.add(Batch(id, rows, System.nanoTime()))
          ()
        }
        .option("checkpointLocation", checkpoint.toString)
        .start()
      offer(claims.take(WarmClaims))
      awaitEmitted(WarmClaims)
    }

    // a fresh query's first micro-batches, and its first backlog, run
    // slower than later ones (JIT, code generation); without this warm-up
    // the open loop and the drains would time how far the query had
    // warmed up
    warmSizes.foldLeft(WarmClaims) { (from, n) =>
      offer(claims.slice(from, from + n))
      awaitEmitted(from + n)
      from + n
    }
    ctx.phase("warm-up batches")

    // open loop: claim i is due at t0 + i / Rate
    val open = claims.slice(warmed, warmed + openClaims)
    val firstOpenBatch = batches.asScala.map(_.id).max + 1
    val lags = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def due(i: Int): Long = t0 + (i / Rate * 1e9).toLong
    val generator = new Thread(() => {
      var i = 0
      while (i < open.length) {
        val now = System.nanoTime()
        if (now < due(i)) Thread.sleep(math.min(TickMs, (due(i) - now) / 1000000L + 1))
        else {
          val upTo = math.min(open.length, ((now - t0) / 1e9 * Rate).toInt + 1)
          lags += (now - due(i)) / 1e9
          offer(open.slice(i, upTo))
          i = upTo
        }
      }
    }, "perfbench-generator")
    ctx.tracer.span("StreamingFraud") {
      generator.start()
      generator.join()
      awaitEmitted(warmed + openClaims)
    }
    ctx.phase("open loop")
    val openBatches = batches.asScala.toSeq.filter(_.id >= firstOpenBatch).sortBy(_.id)
    val latencies = new Array[Double](open.length)
    var k = 0
    openBatches.foreach { b =>
      b.rows.indices.foreach { _ =>
        if (k < latencies.length) latencies(k) = (b.atNs - due(k)) / 1e9
        k += 1
      }
    }

    // backlog drains
    val drainRates = (0 until Drains).map { d =>
      val from = warmed + openClaims + d * Backlog
      val d0 = System.nanoTime()
      offer(claims.slice(from, from + Backlog))
      awaitEmitted(from + Backlog)
      Backlog / ctx.elapsed(d0)
    }
    query.processAllAvailable()

    ctx.phase("drain")
    val progress = query.recentProgress.toSeq
    query.stop()
    val problems = check(claims, batches.asScala.toSeq, progress.map(_.stateOperators
      .map(_.numRowsDroppedByWatermark).sum).sum)
    val openProgress = progress.filter(p => p.batchId >= firstOpenBatch &&
      p.numInputRows > 0 && p.batchId < firstOpenBatch + openBatches.size)
    def dur(key: String) = Stats.median(openProgress.map(p =>
      p.durationMs.asScala.get(key).map(_.toDouble).getOrElse(0.0) / 1e3))
    val state = progress.flatMap(_.stateOperators)
    val layers = ctx.tracer.layer("StreamingFraud").toMap ++ Map(
      "StreamingFraud.batch_s" -> dur("triggerExecution"),
      "StreamingFraud.add_batch_s" -> dur("addBatch"),
      "StreamingFraud.batches" -> openBatches.size.toDouble,
      "StreamingFraud.state_commit_s" -> Stats.median(state.map(_.commitTimeMs / 1e3)),
      "StreamingFraud.state_rows" -> state.map(_.numRowsTotal.toDouble).max,
      "StreamingFraud.state_mb" -> state.map(_.memoryUsedBytes / 1048576.0).max,
      "StreamingFraud.dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "gen.lag_s" -> Stats.quantile(lags.toSeq, 0.99),
      "op_tail_s" -> Stats.quantile(latencies.toSeq, 0.99),
      "trace.op_p50_s" -> Stats.median(latencies.toSeq))
    Outcome(attempted = claims.length, failed = 0, problems = problems,
      e2e = Map("setup_s" -> setup,
        "op_p50_s" -> Stats.median(latencies.toSeq),
        "throughput_per_s" -> Stats.median(drainRates)),
      layers = if (ctx.tracer.enabled) layers else Map.empty)
  }

  private def event(c: Claim): ClaimEvent =
    ClaimEvent(c.name, c.aadhaar, c.amount, c.subsidy, new Timestamp(c.epochDay * 86400000L))

  /** mean + 2σ of the sample's reconstruction errors: the fitted
    * threshold `scoreStream` takes. */
  private def threshold(ctx: Ctx, sample: DataFrame, model: FraudModel): Double = {
    val feats = graft.fraud.FeaturePipeline.transform(sample, model.params,
      fixedOrigin = Some(model.params.trainDateOrigin))
    val r = FraudPipeline.withReconstructionError(ctx.spark, feats, model.net)
      .agg(avg("ReconstructionError"), stddev_pop("ReconstructionError")).head()
    r.getDouble(0) + 2.0 * r.getDouble(1)
  }

  /** Every offered claim comes out exactly once (as a multiset of its
    * five input fields), with a known FraudType, and no row was dropped
    * by the watermark on this in-order input. */
  private def check(claims: Array[Claim], batches: Seq[Batch], dropped: Long): Seq[String] = {
    val want = Oracle.histogram(claims.map(c => s"${c.name}|${c.aadhaar}|${c.amount}|${c.subsidy}|${c.date}"))
    val rows = batches.flatMap(_.rows)
    val got = Oracle.histogram(rows.map(r =>
      s"${r.getString(0)}|${r.getLong(1)}|${r.getDouble(2)}|${r.getString(3)}|${r.getString(4)}"))
    val known = Set("Normal", "Suspicious", "DuplicateAadhaar;", "HighClaimAmount;",
      "FrequentClaims;")
    val badTypes = rows.map(_.getString(6))
      .filterNot(t => t == "Normal" || t == "Suspicious" ||
        t.split(";").forall(p => known(p + ";")))
    Seq(
      (got == want, s"emitted ${rows.size} rows (${got.size} distinct), offered ${claims.length} " +
        s"(${want.size} distinct): not exactly once"),
      (dropped == 0, s"$dropped rows dropped by the watermark on in-order input"),
      (badTypes.isEmpty, s"unknown FraudType values: ${badTypes.distinct.take(3).mkString(",")}"))
      .collect { case (false, msg) => msg }
  }
}

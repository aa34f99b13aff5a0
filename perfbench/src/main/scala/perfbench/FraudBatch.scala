package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.fraud.{Claims, FeaturePipeline, FraudModel, FraudPipeline, RuleEngine}
import graft.ml.{MLP, Trainer}

/** `batch-train`, the paper's self-scoring run: ingest, rules,
  * features, distributed training, scoring, sink. One pass goes from the
  * claims CSV to a complete written result; the run times passes until
  * its time is up. */
object FraudBatch {
  /** Claims per pass and training epochs. */
  val TrainClaims = 10000
  val Epochs = 5
  /** Untimed passes before the timed ones. */
  val WarmPasses = 5
  /** Timed passes per second of `--seconds` (a warm pass takes about
    * 1.5 s on 4 cores). */
  val PassesPerSecond: Double = 1 / 1.5

  val GoldenColumns: Seq[String] = Seq(
    "Name", "Aadhaar", "ClaimAmount", "SubsidyType", "Date",
    "ReconstructionError", "FraudType")

  /** Runs `WarmPasses` untimed passes (JIT and code generation keep
    * making passes faster for about five of them; a run that timed them
    * would measure how far its JVM had warmed up), then a fixed number
    * of timed passes, `PassesPerSecond` per second of `ctx.seconds` (at
    * least four). Passes keep getting a little faster for dozens of
    * passes; a fixed count, not a time limit, keeps the timed passes at
    * the same point of that curve on a slow host and a fast one. A
    * traced run alternates untraced and traced passes, so it can report
    * what tracing costs, and probes each layer after every traced pass.
    * The last pass's output is checked against the oracle.
    *
    * The claims are written as one CSV part file per core, so the scan
    * and every training epoch run one task per core. */
  def train(ctx: Ctx): Outcome = {
    val in = s"${ctx.work}/batch-train-claims"
    val out = s"${ctx.work}/batch-train-out"
    var claims: Array[Claim] = null
    val setupS = ctx.setUp() { () =>
      val base = ClaimsGen.loadBase(ctx.spark, ctx.data)
      val all = ClaimsGen.generate(base, TrainClaims, ctx.seed)
      val parts = ctx.spark.sparkContext.defaultParallelism
      claims = ClaimsGen.writeCsvParts(ctx.spark, all, in, parts)
    }
    val t = ctx.tracer
    val cfg = Trainer.Config(epochs = Epochs)
    def pass(): FraudModel = {
      val claimsDf = Claims.readCsv(ctx.spark, in)
      val model = t.span("Trainer") { FraudPipeline.trainDistributed(ctx.spark, claimsDf, cfg) }
      val scored = t.span("FraudPipeline.score") { FraudPipeline.score(ctx.spark, claimsDf, model) }
      t.span("Claims.write") { Claims.writeCsv(scored, out) }
      model
    }

    val warmS = (1 to WarmPasses).map { _ =>
      val w0 = System.nanoTime()
      t.quiet(pass())
      ctx.elapsed(w0)
    }
    ctx.phase(s"warm-up passes: ${warmS.map(v => f"$v%.2f").mkString(" ")} s")
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    var model: FraudModel = null
    val timedPasses = math.max(4, math.round(ctx.seconds * PassesPerSecond).toInt)
    var i = 0
    while (i < timedPasses) {
      val withSpans = t.enabled && i % 2 == 1
      val p0 = System.nanoTime()
      model = if (withSpans) t.span("pass")(pass()) else t.quiet(pass())
      (if (withSpans) traced else plain) += ctx.elapsed(p0)
      if (withSpans) probe(ctx, in, model)
      i += 1
    }
    ctx.phase(s"passes: ${(plain ++ traced).map(v => f"$v%.2f").mkString(" ")} s")
    val untrained = MLP.init(model.net.dims, cfg.seed)
    val learnt = meanError(claims, model, model.net) < meanError(claims, model, untrained)
    val problems = checkOutput(ctx, out, claims, model) ++ checkFit(claims, model) ++
      (if (learnt) Nil else Seq("training did not lower the mean reconstruction error"))
    ctx.phase("checks")
    val p50 = Stats.median(plain.toSeq)
    val layers = if (!t.enabled) Map.empty[String, Double] else {
      val udf = t.all.filter(_.name == "FraudPipeline.udf").map(_.seconds)
        .zip(t.all.filter(_.name == "FraudPipeline.scan").map(_.seconds))
        .map { case (a, b) => a - b }
      (Seq("Claims.read", "Claims.write", "RuleEngine", "FeaturePipeline.fit",
        "FeaturePipeline.transform", "FraudPipeline.score").flatMap(t.layer(_)) ++
        trainerMetrics(ctx, model.net, claims.length) ++
        Seq("FraudPipeline.udf_s" -> Stats.median(udf),
          "op_tail_s" -> plain.max,
          "trace.op_p50_s" -> Stats.median(traced.toSeq),
          "trace.overhead_s" -> (Stats.median(traced.toSeq) - p50))).toMap
    }
    Outcome(attempted = plain.size + traced.size, failed = 0, problems = problems,
      e2e = Map("setup_s" -> setupS, "op_p50_s" -> p50,
        "throughput_per_s" -> claims.length / p50),
      layers = layers)
  }

  /** Per-layer probes on cached inputs, so each span holds one layer's
    * own work: the CSV scan, the rule windows, the feature fit and
    * transform, and the feature scan with and without the autoencoder
    * UDF. */
  private def probe(ctx: Ctx, csv: String, model: FraudModel): Unit = {
    val t = ctx.tracer
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df.cache(); ctx.materialize(df); df }
    val claims = t.span("Claims.read") { keep(Claims.readCsv(ctx.spark, csv)) }
    t.span("RuleEngine") { ctx.materialize(RuleEngine.withRuleTags(claims)) }
    t.span("FeaturePipeline.fit") { FeaturePipeline.fit(claims) }
    val feats = t.span("FeaturePipeline.transform") {
      keep(FeaturePipeline.transform(claims, model.params).select("features"))
    }
    t.span("FraudPipeline.scan") { ctx.materialize(feats) }
    t.span("FraudPipeline.udf") {
      ctx.materialize(FraudPipeline.withReconstructionError(ctx.spark, feats, model.net)
        .select("ReconstructionError"))
    }
    cached.foreach(_.unpersist(blocking = true))
  }

  /** Trainer metrics from the traced passes' `Trainer` spans, each one
    * `FraudPipeline.trainDistributed` call (feature fit and transform,
    * then `Trainer.fitDistributed`); the operation count is rows ×
    * epochs × 6 × weights (a multiply-add is two operations; backward
    * costs twice the forward pass). */
  private def trainerMetrics(ctx: Ctx, net: MLP, rows: Int): Map[String, Double] = {
    val t = ctx.tracer
    val ls = t.layer("Trainer").toMap
    if (ls.isEmpty) ls
    else {
      val macs = net.dims.sliding(2).map(d => d(0).toLong * d(1)).sum
      val s = ls("Trainer.s")
      ls ++ Map("Trainer.epoch_s" -> s / Epochs,
        "Trainer.gflop_per_s" -> rows.toDouble * Epochs * 6 * macs / s / 1e9)
    }
  }

  /** Output checks: row count, the golden 7-column schema, and the
    * FraudType histogram against the oracle. Rule tags must match
    * exactly; `Suspicious` may differ by two rows, since the threshold's
    * mean and σ are summed in another order than the oracle's. */
  private def checkOutput(ctx: Ctx, out: String, input: Array[Claim], model: FraudModel): Seq[String] = {
    val df = ctx.spark.read.option("header", "true").csv(out)
    val problems = mutable.ArrayBuffer.empty[String]
    if (df.columns.toSeq != GoldenColumns)
      problems += s"output columns ${df.columns.mkString(",")} != ${GoldenColumns.mkString(",")}"
    val got = df.groupBy("FraudType").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = got.values.sum
    if (rows != input.length) problems += s"output has $rows rows, input ${input.length}"
    val want = Oracle.histogram(Oracle.fraudTypes(input, Oracle.ruleTags(input), model))
    (got.keySet ++ want.keySet).foreach { k =>
      val (g, w) = (got.getOrElse(k, 0L), want.getOrElse(k, 0L))
      val slack = if (k == "Suspicious" || k == "Normal") 2 else 0
      if (math.abs(g - w) > slack) problems += s"FraudType $k: $g rows, oracle says $w"
    }
    problems.toSeq
  }

  /** The fitted encoding must equal the oracle's statement of it. */
  private def checkFit(claims: Array[Claim], model: FraudModel): Seq[String] = {
    val p = model.params
    val (am, as) = Oracle.meanStd(claims.map(_.amount))
    val origin = claims.map(_.epochDay).min
    val (dm, ds) = Oracle.meanStd(claims.map(c => (c.epochDay - origin).toDouble))
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val cats = claims.map(_.subsidy).distinct.sorted.toSeq
    Seq(
      (p.categories == cats, s"categories ${p.categories} != $cats"),
      (close(p.amountMean, am) && close(p.amountStd, as), "amount mean/std differ from the oracle"),
      (close(p.daysMean, dm) && close(p.daysStd, ds), "days mean/std differ from the oracle"),
      (p.trainDateOrigin.toLocalDate.toEpochDay == origin, "date origin differs from the oracle"))
      .collect { case (false, msg) => msg }
  }

  private def meanError(claims: Array[Claim], model: FraudModel, net: MLP): Double = {
    val origin = claims.map(_.epochDay).min
    val errs = Oracle.features(claims, model.params, origin).map(Oracle.reconstructionError(net, _))
    errs.sum / errs.length
  }
}

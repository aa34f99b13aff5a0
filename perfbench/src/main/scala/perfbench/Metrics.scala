package perfbench

/** A reported metric: name, unit, and which direction is better. */
final case class Metric(name: String, unit: String, better: String)

/** The metric catalogue. `BENCHMARK.json` lists the same names. */
object Metrics {
  /** Measured with tracing off, on every workload. `op` is the
    * workload's unit of work: a pipeline pass (batch-train),
    * one claim from due to emitted (stream), one query
    * (registry). The tail of `op` is a per-layer metric: with the few
    * samples a run holds it spreads too much between runs to carry a
    * bound. */
  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("op_p50_s", "s", "lower"),
    Metric("throughput_per_s", "1/s", "higher"),
    Metric("peak_rss_mb", "MB", "lower"))

  /** Layers timed by a span, each with its counter deltas. */
  val countedLayers: Seq[String] = Seq(
    "Claims.read", "Claims.write", "RuleEngine", "FeaturePipeline.fit",
    "FeaturePipeline.transform", "Trainer", "FraudPipeline.score",
    "StreamingFraud", "SparkEntry", "DurableIndex.build")

  private def unitOf(name: String): (String, String) =
    if (name.endsWith("gflop_per_s")) ("GFLOP/s", "higher")
    else if (name.endsWith("_s") || name.endsWith(".s")) ("s", "lower")
    else if (name.endsWith("_mb")) ("MB", "lower")
    else ("count", "lower")

  val perLayer: Seq[Metric] = {
    val counted = countedLayers.flatMap { l =>
      (if (l.contains('.')) s"${l}_s" else s"$l.s") +: Counters.names.map(c => s"$l.$c")
    }
    val named = Seq(
      "Sessions.local_s", "FraudPipeline.udf_s", "Trainer.epoch_s", "Trainer.gflop_per_s",
      "StreamingFraud.batch_s", "StreamingFraud.add_batch_s", "StreamingFraud.batches",
      "StreamingFraud.state_commit_s", "StreamingFraud.state_rows", "StreamingFraud.state_mb",
      "StreamingFraud.dropped_by_watermark", "gen.lag_s",
      "SparkEntry.build_s", "SparkEntry.eager_jobs", "SparkEntry.plan_s", "SparkEntry.exec_s",
      "op_tail_s", "trace.op_p50_s", "trace.overhead_s")
    (counted ++ named).map { n =>
      val (u, b) = unitOf(n)
      Metric(n, u, b)
    }
  }
}

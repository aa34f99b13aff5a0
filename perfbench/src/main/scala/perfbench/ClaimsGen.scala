package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.input_file_name

/** One generated claim. The amount is held in cents so that the CSV text
  * and the double Spark parses back from it are the same number. */
final case class Claim(name: String, aadhaar: Long, cents: Long,
                       subsidy: String, epochDay: Int) {
  def amount: Double = cents / 100.0
  def date: String = LocalDate.ofEpochDay(epochDay.toLong).toString
  def csv: String = s"$name,$aadhaar,${cents / 100}.${"%02d".format(cents % 100)},$subsidy,$date"
}

/** Seeded claims generator over the corpus's `orders × customer`.
  *
  * Each claim is a sampled order of a customer in one of several replicas
  * of the customer base (a replica renames the customer and gives it its
  * own Aadhaar, so the corpus scales without repeating keys). On top of
  * that, fixed shares of the rows are rewritten so that each of the four
  * rules fires on every seed:
  *  - shared Aadhaar (1 %): another customer's name on this Aadhaar;
  *  - multi Aadhaar (1 %): this customer's name on a fresh Aadhaar;
  *  - repeat within 7 days (2 %): an earlier claim again, 0–7 days later;
  *  - high amount (0.5 %): the amount times 20.
  */
object ClaimsGen {
  val Header = "Name,Aadhaar,ClaimAmount,SubsidyType,Date"

  final case class Base(custName: Array[String], custSegment: Array[String],
                        orderCust: Array[Int], orderCents: Array[Long],
                        orderDay: Array[Int])

  def loadBase(spark: SparkSession, dataDir: String): Base = {
    val cust = spark.read.parquet(s"$dataDir/customer.parquet")
      .selectExpr("c_custkey", "c_name", "c_mktsegment").collect()
      .sortBy(_.getLong(0))
    val index = cust.map(_.getLong(0)).zipWithIndex.toMap
    val orders = spark.read.parquet(s"$dataDir/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey",
        "cast(round(o_totalprice * 100) as bigint)",
        "cast(unix_date(cast(o_orderdate as date)) as int)")
      .collect().sortBy(_.getLong(0))
    Base(cust.map(_.getString(1)), cust.map(_.getString(2)),
      orders.map(r => index(r.getLong(1))), orders.map(_.getLong(2)),
      orders.map(_.getInt(3)))
  }

  def generate(base: Base, n: Int, seed: Long): Array[Claim] = {
    val rng = new java.util.Random(seed)
    val nOrders = base.orderCust.length
    val nCust = base.custName.length
    val replicas = math.max(1, (n + nOrders - 1) / nOrders)
    def name(c: Int, r: Int) = s"${base.custName(c)}-$r"
    def aadhaar(c: Int, r: Int) = 100000000000L + r * 1000000L + c
    val out = new Array[Claim](n)
    var i = 0
    while (i < n) {
      val o = rng.nextInt(nOrders)
      val r = rng.nextInt(replicas)
      val c = base.orderCust(o)
      val cents = math.max(1L, (base.orderCents(o) * (0.8 + 0.4 * rng.nextDouble())).round)
      val plain = Claim(name(c, r), aadhaar(c, r), cents, base.custSegment(c), base.orderDay(o))
      val u = rng.nextDouble()
      out(i) =
        if (u < 0.01) plain.copy(name = name(rng.nextInt(nCust), r))
        else if (u < 0.02) plain.copy(aadhaar = 900000000000L + i)
        else if (u < 0.04 && i > 0) {
          val prev = out(rng.nextInt(i))
          prev.copy(epochDay = prev.epochDay + rng.nextInt(8))
        } else if (u < 0.045) plain.copy(cents = plain.cents * 20)
        else plain
      i += 1
    }
    out
  }

  /** Writes `claims` as `parts` CSV files, in order, into directory
    * `dir`, and returns them in the order a Spark scan of `dir` yields
    * them: the scan takes larger files first, and the pipeline breaks
    * rule ties by that order. Each file must be one scan partition. */
  def writeCsvParts(spark: SparkSession, claims: Array[Claim], dir: String,
                    parts: Int): Array[Claim] = {
    Files.createDirectories(Paths.get(dir))
    val chunks = claims.grouped((claims.length + parts - 1) / parts).toArray
    chunks.zipWithIndex.foreach { case (c, k) => writeCsv(c, f"$dir/part-$k%05d.csv") }
    val order = spark.read.text(dir).select(input_file_name()).rdd
      .mapPartitionsWithIndex((p, rows) => rows.take(1).map(r => p -> r.getString(0)))
      .collect().sortBy(_._1).map(_._2)
    require(order.length == chunks.length && order.distinct.length == order.length,
      s"expected one scan partition per file, got ${order.mkString(", ")}")
    order.flatMap(f => chunks("part-(\\d+)\\.csv$".r.findFirstMatchIn(f).get.group(1).toInt))
  }

  def writeCsv(claims: Array[Claim], path: String): Unit = {
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    try {
      w.write(Header); w.newLine()
      claims.foreach { c => w.write(c.csv); w.newLine() }
    } finally w.close()
  }
}

/** Independent in-process statement of what the batch pipeline must
  * output for a claims table, used only to check the program. It
  * restates the four rules and the autoencoder's forward pass in plain
  * loops rather than calling the library. */
object Oracle {

  /** Rule tags per claim, in the pipeline's fixed tag order. */
  def ruleTags(cs: Array[Claim]): Array[String] = {
    val n = cs.length
    val namesPerAadhaar = mutable.HashMap.empty[Long, mutable.Set[String]]
    val aadhaarsPerName = mutable.HashMap.empty[String, mutable.Set[Long]]
    cs.foreach { c =>
      namesPerAadhaar.getOrElseUpdate(c.aadhaar, mutable.HashSet.empty) += c.name
      aadhaarsPerName.getOrElseUpdate(c.name, mutable.HashSet.empty) += c.aadhaar
    }
    // exact percentile with linear interpolation, as Spark's `percentile`
    val sorted = cs.map(_.amount).sorted
    val pos = (n - 1) * 0.99
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    val p99 = if (lo == hi || sorted(lo) == sorted(hi)) sorted(lo)
              else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
    // frequent: previous claim of the same Aadhaar (date, then input order)
    val frequent = new Array[Boolean](n)
    cs.indices.groupBy(i => cs(i).aadhaar).valuesIterator.foreach { idx =>
      val ord = idx.sortBy(i => (cs(i).epochDay, i))
      ord.sliding(2).foreach {
        case Seq(a, b) => frequent(b) = cs(b).epochDay - cs(a).epochDay <= 7
        case _ =>
      }
    }
    Array.tabulate(n) { i =>
      val c = cs(i)
      val t = (if (namesPerAadhaar(c.aadhaar).size > 1) "DuplicateAadhaar;" else "") +
        (if (aadhaarsPerName(c.name).size > 1) "MultiAadhaar;" else "") +
        (if (c.amount > p99) "HighClaimAmount;" else "") +
        (if (frequent(i)) "FrequentClaims;" else "")
      if (t.isEmpty) "Normal" else t
    }
  }

  /** Feature rows as the fitted encoding defines them: z-scored amount,
    * z-scored days since `origin`, one-hot subsidy type. */
  def features(cs: Array[Claim], p: graft.fraud.FeatureParams, origin: Int): Array[Array[Double]] =
    cs.map { c =>
      val days = (c.epochDay - origin).toDouble
      Array((c.amount - p.amountMean) / p.amountStd, (days - p.daysMean) / p.daysStd) ++
        p.categories.map(k => if (k == c.subsidy) 1.0 else 0.0)
    }

  /** Mean squared reconstruction error of one row through the dense
    * ReLU net (the operation order of the library's forward pass, so the
    * result is the same double). */
  def reconstructionError(net: graft.ml.MLP, x: Array[Double]): Double = {
    var cur = x
    net.layers.foreach { l =>
      cur = Array.tabulate(l.b.length) { j =>
        var s = l.b(j)
        var i = 0
        while (i < l.w(j).length) { s += l.w(j)(i) * cur(i); i += 1 }
        if (l.relu && s < 0) 0.0 else s
      }
    }
    if (net.outputSigmoid) cur = cur.map(v => 1.0 / (1.0 + math.exp(-v)))
    var s = 0.0
    var i = 0
    while (i < x.length) { val d = x(i) - cur(i); s += d * d; i += 1 }
    s / x.length
  }

  def meanStd(xs: Array[Double]): (Double, Double) = {
    val m = xs.sum / xs.length
    (m, math.sqrt(xs.map(v => (v - m) * (v - m)).sum / xs.length))
  }

  /** Expected FraudType per claim: the rule tag if any rule fired, else
    * `Suspicious` above the mean + 2σ reconstruction-error threshold of
    * the scored table, else `Normal`. */
  def fraudTypes(cs: Array[Claim], tags: Array[String],
                 model: graft.fraud.FraudModel): Array[String] = {
    val origin = cs.map(_.epochDay).min
    val err = features(cs, model.params, origin).map(reconstructionError(model.net, _))
    val (m, s) = meanStd(err)
    val thr = m + 2.0 * s
    Array.tabulate(cs.length) { i =>
      if (tags(i) != "Normal") tags(i) else if (err(i) > thr) "Suspicious" else "Normal"
    }
  }

  def histogram(xs: Iterable[String]): Map[String, Long] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
}

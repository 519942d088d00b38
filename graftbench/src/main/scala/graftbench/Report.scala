package graftbench

import scala.collection.mutable

/** Order statistics over one run's samples. */
object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Geometric mean: the typical latency of a fixed mix of operations
    * whose kinds differ in cost by an order of magnitude. Every sample
    * counts, so it is steadier than the median of one short round, whose
    * value jumps between whichever kinds sit in the middle. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of no samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** The tail percentile the run can support: the highest percentile
    * with at least ten samples beyond it, never below the median (with
    * fewer than 21 samples the "tail" is the median). */
  def tailPercentile(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)

  /** Tracing overhead: traced over untraced geometric-mean latency − 1.
    * The traced phase runs between two untraced ones, so JIT warm-up
    * drift largely cancels. */
  def overhead(untraced: Seq[Double], traced: Seq[Double]): Metric =
    Metric(if (untraced.isEmpty || traced.isEmpty) 0.0
           else geomean(traced) / geomean(untraced) - 1, "ratio")
}

/** The timed phase's loop: whole rounds back to back, each round a
  * fixed mix of operations, so every run measures the same mix whatever
  * the seed or the speed. Rounds start until `seconds` have elapsed,
  * and the round in progress then runs to its end. Returns the elapsed
  * seconds. */
object Rounds {
  def run(seconds: Double)(round: Int => Unit): Double = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var r = 0
    while (r == 0 || elapsed < seconds) {
      round(r)
      r += 1
    }
    elapsed
  }
}

/** One named figure with its unit. */
final case class Metric(value: Double, unit: String)

/** Minimal JSON writer: the benchmark's stdout is parsed by machines, so
  * every document it prints is one line of plain JSON. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def apply(v: Any): String = v match {
    case null              => "null"
    case s: String         => str(s)
    case b: Boolean        => b.toString
    case i: Int            => i.toString
    case l: Long           => l.toString
    case d: Double         => num(d)
    case f: Float          => num(f.toDouble)
    case Metric(value, u)  => s"""{"value":${num(value)},"unit":${str(u)}}"""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_]   => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_]      => o.map(apply).getOrElse("null")
    case other             => str(other.toString)
  }
}

/** What one workload run hands back to [[Main]]. `endToEnd` holds the
  * figures every workload reports under the names in BENCHMARK.json;
  * `named` holds the same run's figures under the workload-specific
  * names (query_p50_ms, batch_p50_s, ...); `layers` the traced run's
  * per-layer figures. */
final class RunResult {
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val named = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def wrong(what: String): Unit = { failed += 1; mismatches += what }
}

/** SHA-256 over a stream of strings, for the input and ranking digests
  * that make a seed's inputs and answers comparable across runs. */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(s: String): Digest = {
    md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(0.toByte)
    this
  }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
}

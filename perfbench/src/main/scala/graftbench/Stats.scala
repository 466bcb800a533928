package graftbench

/** Pure helpers of the harness: percentiles and the seeded load
  * generators. Nothing here touches Spark, so the tests pin them. */
object Stats {

  /** Linear-interpolated percentile (`q` in [0, 1]) of unsorted
    * values; NaN for an empty input. */
  def percentile(values: Seq[Double], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"percentile $q outside [0, 1]")
    if (values.isEmpty) Double.NaN
    else {
      val s = values.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(values: Seq[Double]): Double = percentile(values, 0.5)

  /** Harrell–Davis estimate of the `q` quantile: every order statistic
    * weighted by a Beta((n+1)q, (n+1)(1−q)) density over its rank
    * interval. On a few dozen latencies drawn from a mix of fast and
    * slow requests it moves far less from run to run than the one or
    * two order statistics `percentile` interpolates between. */
  def hdQuantile(values: Seq[Double], q: Double): Double = {
    require(q > 0.0 && q < 1.0, s"quantile $q outside (0, 1)")
    if (values.size <= 1) values.headOption.getOrElse(Double.NaN)
    else {
      val s = values.sorted
      val n = s.size
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      def cdf(x: Double) =
        org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
    }
  }

  /** Apdex score of request latencies against target `t` (ms): a
    * request within `t` counts 1, one within 4t counts 1/2, a slower or
    * failed one (pass +Inf) counts 0; NaN for no requests */
  def apdex(latencies: Seq[Double], t: Double): Double =
    if (latencies.isEmpty) Double.NaN
    else latencies.map(l => if (l <= t) 1.0 else if (l <= 4 * t) 0.5 else 0.0)
      .sum / latencies.size

  def mean(values: Seq[Double]): Double =
    if (values.isEmpty) Double.NaN else values.sum / values.size

  /** Zipf(s) over ranks 0 until n: rank r is drawn with probability
    * proportional to 1 / (r + 1)^s. The draw consumes one double from
    * the caller's generator, so a seeded generator gives a seeded
    * sequence. */
  final class Zipf(val n: Int, val s: Double) {
    require(n > 0, "Zipf needs at least one rank")
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(rnd: java.util.Random): Int = rankAt(rnd.nextDouble())

    /** the rank whose cumulative mass first reaches `u` */
    def rankAt(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }

    /** `k` stratified draws in seeded order: draw j is taken from the
      * j-th of k equal slices of the distribution, so every batch holds
      * each popularity band in its expected share — only the order and
      * the place inside each slice are random */
    def stratified(k: Int, rnd: java.util.Random): IndexedSeq[Int] = {
      val draws = (0 until k).map(j => rankAt((j + rnd.nextDouble()) / k))
      scala.util.Random.javaRandomToRandom(rnd).shuffle(draws)
    }
  }

  /** Arrival offsets (seconds from phase start) of a Poisson process
    * of `rate` per second over `seconds`, conditioned on its expected
    * count: round(rate * seconds) arrivals, each uniform on the window
    * and sorted — the exact law of Poisson arrival times given their
    * count. Fixing the count keeps the offered load identical across
    * seeds while the spacing stays memoryless. */
  def poissonSchedule(rate: Double, seconds: Double,
                      rnd: java.util.Random): Array[Double] = {
    val n = math.max(1, math.round(rate * seconds).toInt)
    Array.fill(n)(rnd.nextDouble() * seconds).sorted
  }
}

package graftbench

import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.jdk.CollectionConverters._

import graft.cube.{GraftSql, QueryService}

/** `dashboard`: read-only serving, open loop: requests on a seeded
  * Poisson schedule to a small pool of worker threads calling
  * `QueryService.run(cached = true)`. Texts are drawn Zipf-skewed from
  * a seeded universe four times the size of graft's 64-entry result
  * cache, a tenth of the traffic from pushdown shapes no cuboid
  * covers. */
object Dashboard {
  val Orders = 15000
  val RoutedTexts = 288
  val PushdownTexts = 32
  /** every PushdownEvery-th request is a pushdown text: a tenth of the
    * traffic, the same share in every phase */
  val PushdownEvery = 10
  /** a placeholder skew, not a measured one (see the README) */
  val ZipfS = 1.5
  val Workers = 3
  /** offered rates (requests per second): the reported rate, then a
    * burst far past capacity that counts only if a change lets the
    * server absorb it */
  val Rates = Seq(4.0, 60.0)
  /** share of the measured time each rate runs */
  val RateShare = Seq(0.97, 0.03)
  /** the hottest texts, warmed (planned, routed, cached) before timing:
    * every template twice over, 88.5% of the routed traffic at ZipfS */
  val WarmTexts = 24
  /** served texts checked against the oracle after timing */
  val CheckedTexts = 8

  /** the universe is the workload's dashboard, the same in every run;
    * the run's seed draws the data, the arrivals, the requests and the
    * oracle sample, so runs differ in what a seed should vary and not
    * in which dashboard they serve */
  val UniverseSeed = 1L

  final class Universe(seed: Long) {
    private val r = new java.util.Random(seed)
    val routed = Queries.universe(Queries.Routed, RoutedTexts, r)
    val pushdown = Queries.universe(Queries.Pushdown, PushdownTexts, r)
    private val zr = new Stats.Zipf(RoutedTexts, ZipfS)
    private val zp = new Stats.Zipf(PushdownTexts, ZipfS)
    /** `n` requests: every PushdownEvery-th a pushdown text, the rest
      * routed, each kind Zipf-drawn by stratified sampling so every
      * phase holds its expected share of hot and cold texts */
    def draw(n: Int, rnd: java.util.Random): IndexedSeq[Queries.Text] = {
      val nPush = n / PushdownEvery
      val push = zp.stratified(nPush, rnd).iterator
      val rest = zr.stratified(n - nPush, rnd).iterator
      (0 until n).map(i =>
        if (i % PushdownEvery == PushdownEvery - 1 && push.hasNext)
          pushdown(push.next())
        else routed(rest.next()))
    }
  }

  /** one open-loop phase: `rate` requests per second for `seconds` */
  def phase(b: Bench, server: Server, uni: Universe, rate: Double,
            seconds: Double, traced: Boolean, tag: String,
            served: ConcurrentHashMap[String, Array[org.apache.spark.sql.Row]])
      : OpenLoop.Phase = {
    val rnd = new java.util.Random(b.args.seed * 31 + tag.hashCode)
    val offsets = Stats.poissonSchedule(rate, seconds, rnd)
    val texts = uni.draw(offsets.length, rnd).map(_.sql)
    OpenLoop.run(b, server, rate, offsets, texts, Workers, traced, tag) { r =>
      if (r.error.isEmpty) served.putIfAbsent(r.text, r.rows)
    }
  }

  def run(b: Bench, t0: Long): Unit = {
    val (spark, sf) = (b.spark, b.sf)
    b.stage("datagen")(Data.writeStar(spark, sf, b.args.seed, Orders))
    GraftSql.registerView(spark, sf)
    // the merged realization serves no dashboard text; traced runs
    // build it for its per-layer numbers
    b.stage("build")(b.buildStar(merge = b.args.trace))
    val uni = new Universe(UniverseSeed)
    // warm: the hottest texts fill the result cache, and since ranks
    // cycle through the templates every template is planned
    val warm = uni.routed.take(WarmTexts) ++
      uni.pushdown.take(Queries.Pushdown.size)
    val pool = Executors.newFixedThreadPool(Workers)
    val warmed = warm.zipWithIndex.map { case (t, i) =>
      pool.submit(() => QueryService.run(spark, sf, t.sql, s"warm-$i"))
    }
    b.stage("warm")(warmed.foreach(_.get()))
    pool.shutdown()
    b.e2e("setup_s") = (System.nanoTime() - t0) / 1e9

    val server = new Server(spark, sf, b.tracer)
    val served = new ConcurrentHashMap[String, Array[org.apache.spark.sql.Row]]()
    val secs = b.args.seconds
    val phases =
      if (!b.args.trace) Rates.indices.map(i =>
        phase(b, server, uni, Rates(i), secs * RateShare(i), traced = false,
          s"r$i", served))
      else {
        // untraced then traced, both at the reported rate
        b.listening(on = false)
        val u = phase(b, server, uni, Rates.head, secs / 2,
          traced = false, "u", served)
        b.listening(on = true)
        val cache0 = GraftSql.resultCacheStats
        val t = phase(b, server, uni, Rates.head, secs / 2,
          traced = true, "t", served)
        b.readLayers(t.reads, cache0)
        b.layer("self.request_ms") =
          b.tracer.meanSelfMs("request")
        b.traceOverhead(u.okLatencies, t.okLatencies)
        Seq(u, t)
      }
    b.e2e("live_heap_mb") = b.liveHeapMb()
    b.jvmLayers()
    b.generatorLateness(phases.flatMap(_.lateness))

    // the reported rate; in a traced run, its untraced half
    val mid = phases.head
    b.latency(mid.okLatencies)
    b.e2e("apdex") = mid.apdex
    phases.foreach(p => b.notes += p.note)
    b.e2e("throughput") = OpenLoop.qpsAtSlo(phases)
    val (h, m, e) = GraftSql.resultCacheStats
    b.notes += s"result cache: $h hits, $m misses, $e evictions"

    // correctness: a seeded sample of served texts against the oracle
    Queries.registerOracle(spark, sf)
    val byText = (uni.routed ++ uni.pushdown).map(t => t.sql -> t).toMap
    val sample = new scala.util.Random(b.args.seed).shuffle(
      served.keySet().asScala.toSeq.sorted).take(CheckedTexts)
    sample.foreach { sql =>
      val t = byText(sql)
      Queries.check(t, Queries.oracle(spark, t), served.get(sql))
        .foreach(b.wrongAnswer)
    }
    b.notes += s"checked ${sample.size} served texts against the oracle"
  }
}

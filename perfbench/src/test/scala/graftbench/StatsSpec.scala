package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between order statistics") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 5.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 0.5) == 1.5)
    assert(Stats.percentile(Seq(10.0, 20.0, 30.0, 40.0), 0.95) == 38.5)
    assert(Stats.percentile(Seq.empty, 0.5).isNaN)
  }

  test("the Harrell-Davis quantile is an order-statistic mean that tracks q") {
    val xs = (1 to 101).map(_.toDouble)
    assert(math.abs(Stats.hdQuantile(xs, 0.5) - 51.0) < 1e-6)
    assert(math.abs(Stats.hdQuantile(Seq.fill(9)(4.0), 0.9) - 4.0) < 1e-9)
    val qs = Seq(0.1, 0.5, 0.9).map(Stats.hdQuantile(xs, _))
    assert(qs == qs.sorted)
    assert(math.abs(Stats.hdQuantile(xs, 0.9) - 91.0) < 1.0)
    // a lone outlier moves it less than it moves the order statistic
    val mixed = Seq.fill(45)(50.0) ++ Seq.fill(5)(600.0)
    val bumped = mixed.updated(44, 600.0)
    assert(math.abs(Stats.hdQuantile(bumped, 0.9) - Stats.hdQuantile(mixed, 0.9)) <
      math.abs(Stats.percentile(bumped, 0.9) - Stats.percentile(mixed, 0.9)))
  }

  test("Apdex counts satisfied, tolerating (half) and frustrated requests") {
    val lat = Seq(100.0, 500.0, 501.0, 2000.0, 2001.0, Double.PositiveInfinity)
    assert(Stats.apdex(lat, 500.0) == (2 + 2 * 0.5) / 6)
    assert(Stats.apdex(Seq(1.0), 500.0) == 1.0)
    assert(Stats.apdex(Seq.empty, 500.0).isNaN)
  }

  test("Zipf draws are a function of the seed and favour low ranks") {
    val z = new Stats.Zipf(288, 1.0)
    def draws(seed: Long) = {
      val r = new java.util.Random(seed)
      Seq.fill(5000)(z.sample(r))
    }
    assert(draws(7) == draws(7))
    assert(draws(7) != draws(8))
    val d = draws(7)
    assert(d.forall(i => i >= 0 && i < 288))
    // rank 0 carries 1/H(288) ≈ 16% of the mass, rank 9 a tenth of that
    val top = d.count(_ == 0).toDouble / d.size
    assert(math.abs(top - 1.0 / (1 to 288).map(1.0 / _).sum) < 0.02)
    assert(d.count(_ == 0) > 5 * d.count(_ == 9))
  }

  test("stratified Zipf draws hold each band's share in every batch") {
    val z = new Stats.Zipf(288, 1.5)
    def batch(seed: Long) = z.stratified(59, new java.util.Random(seed))
    assert(batch(5) == batch(5))
    assert(batch(5) != batch(6))
    val p0 = 1.0 / (1 to 288).map(r => math.pow(r, -1.5)).sum
    (1 to 20).foreach { s =>
      // rank 0's count is within one of its expected share, whatever the seed
      assert(math.abs(batch(s).count(_ == 0) - 59 * p0) <= 1.0)
    }
  }

  test("a Poisson schedule is seeded, sorted, inside its window, at its rate") {
    def sched(seed: Long) =
      Stats.poissonSchedule(8.0, 10.0, new java.util.Random(seed)).toSeq
    assert(sched(3) == sched(3))
    assert(sched(3) != sched(4))
    val s = sched(3)
    assert(s.size == 80)
    assert(s == s.sorted)
    assert(s.forall(t => t >= 0.0 && t < 10.0))
    // memoryless spacing: gaps are spread (coefficient of variation near 1)
    val gaps = s.zip(s.tail).map { case (a, b) => b - a }
    val m = Stats.mean(gaps)
    val cv = math.sqrt(Stats.mean(gaps.map(g => (g - m) * (g - m)))) / m
    assert(cv > 0.6 && cv < 1.4, s"gap cv $cv")
  }

  test("the query universe is seeded, distinct and cycles through templates") {
    def uni(seed: Long) =
      Queries.universe(Queries.Routed, 288, new java.util.Random(seed))
    val u = uni(11)
    assert(u.map(_.sql) == uni(11).map(_.sql))
    assert(u.map(_.sql) != uni(12).map(_.sql))
    assert(u.map(_.sql).distinct.size == 288)
    assert(u.take(Queries.Routed.size).map(_.template) ==
      Queries.Routed.map(_._1))
    assert(u.forall(t => !t.oracle.contains("graft_star")))
  }
}

package graftbench

import org.apache.spark.sql.{Row, SparkSession}

/** The dashboard's SQL universe: parametrized templates over
  * `graft_star` covering every measure family the star cube declares,
  * plus pushdown shapes the cube cannot answer. Each text carries the
  * oracle query that answers it without acceleration (over the
  * [[OracleView]] copy of the flat table) and how each output column
  * is compared. */
object Queries {

  val OracleView = "bench_oracle_flat"

  sealed trait Check
  /** equal after mapping numbers to the double the engine presents —
    * an exact decimal sum must present as its nearest double */
  case object Exact extends Check
  /** |served − oracle| ≤ tol · max(|oracle|, 1) */
  final case class Rel(tol: Double) extends Check
  /** oracle columns `lo` ≤ served ≤ `hi` */
  final case class Between(lo: String, hi: String) extends Check

  final case class Text(template: String, sql: String, oracle: String,
                        keys: Seq[String], checks: Map[String, Check])

  private type Gen = java.util.Random => Text

  private def pick[T](r: java.util.Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def monthRange(r: java.util.Random): (String, String) = {
    val a = r.nextInt(Data.Months.size - 6)
    (Data.Months(a), Data.Months(a + 3 + r.nextInt(Data.Months.size - a - 3)))
  }
  private def lastDay(month: String): String =
    java.time.YearMonth.parse(month).atEndOfMonth().toString

  /** same text over the oracle view */
  private def text(template: String, sql: String, keys: Seq[String],
                   checks: Map[String, Check],
                   oracle: Option[String] = None): Text =
    Text(template, sql,
      oracle.getOrElse(sql).replace("graft_star", OracleView),
      keys, checks)

  // HLL at lgK 12 has a 1.6% standard error; three of them
  private val HllTol = Rel(0.05)

  val Routed: Seq[(String, Gen)] = Seq(
    "sum_count" -> { r =>
      val (reg, m) = (pick(r, Data.Regions), pick(r, Data.Months))
      text("sum_count",
        s"SELECT n_name, sum(disc_price) AS revenue, count(*) AS n_rows " +
          s"FROM graft_star WHERE r_name = '$reg' AND o_month >= '$m' " +
          "GROUP BY n_name",
        Seq("n_name"), Map("revenue" -> Exact, "n_rows" -> Exact))
    },
    "min_max" -> { r =>
      val (seg, (a, b)) = (pick(r, Data.Segments), monthRange(r))
      text("min_max",
        s"SELECT o_orderstatus, min(l_quantity) AS min_qty, " +
          "max(l_extendedprice) AS max_price, count(*) AS n " +
          s"FROM graft_star WHERE c_mktsegment = '$seg' AND " +
          s"o_month BETWEEN '$a' AND '$b' GROUP BY o_orderstatus",
        Seq("o_orderstatus"),
        Map("min_qty" -> Exact, "max_price" -> Exact, "n" -> Exact))
    },
    "bitmap_distinct" -> { r =>
      val (seg, (a, b)) = (pick(r, Data.Segments), monthRange(r))
      text("bitmap_distinct",
        "SELECT o_month, count(DISTINCT o_custkey) AS n_cust " +
          s"FROM graft_star WHERE c_mktsegment = '$seg' AND " +
          s"o_month BETWEEN '$a' AND '$b' GROUP BY o_month",
        Seq("o_month"), Map("n_cust" -> Exact))
    },
    "hll" -> { r =>
      val m = pick(r, Data.Months)
      val sql = "SELECT c_mktsegment, approx_count_distinct(o_custkey) AS " +
        s"hll_cust FROM graft_star WHERE o_month >= '$m' GROUP BY c_mktsegment"
      text("hll", sql, Seq("c_mktsegment"), Map("hll_cust" -> HllTol),
        oracle = Some(sql.replace("approx_count_distinct(o_custkey)",
          "count(DISTINCT o_custkey)")))
    },
    "kll" -> { r =>
      val (reg, p) = (pick(r, Data.Regions), pick(r, Seq(0.25, 0.5, 0.75, 0.9)))
      val m = pick(r, Data.Months)
      // KLL at K = 200 has a 1.65% normalized rank error; the served
      // value must sit between the exact values three errors away
      def disc(q: Double) = f"percentile_disc(${math.max(0.0, q)}%.2f) " +
        "WITHIN GROUP (ORDER BY l_quantity)"
      text("kll",
        s"SELECT o_orderstatus, percentile_approx(l_quantity, $p) AS q " +
          s"FROM graft_star WHERE r_name = '$reg' AND o_month >= '$m' " +
          "GROUP BY o_orderstatus",
        Seq("o_orderstatus"), Map("q" -> Between("q_lo", "q_hi")),
        oracle = Some(s"SELECT o_orderstatus, ${disc(p - 0.05)} AS q_lo, " +
          s"${disc(math.min(1.0, p + 0.05))} AS q_hi FROM graft_star " +
          s"WHERE r_name = '$reg' AND o_month >= '$m' GROUP BY o_orderstatus"))
    },
    "topn" -> { r =>
      val (f, k, m) = (pick(r, Data.Flags), 3 + r.nextInt(8), pick(r, Data.Months))
      text("topn",
        "SELECT p_brand, sum(disc_price) AS revenue FROM graft_star " +
          s"WHERE l_returnflag = '$f' AND o_month >= '$m' GROUP BY p_brand " +
          s"ORDER BY revenue DESC LIMIT $k",
        Seq("p_brand"), Map("revenue" -> Exact))
    },
    "rollup" -> { r =>
      val reg = pick(r, Data.Regions)
      val m = pick(r, Data.Months)
      text("rollup",
        "SELECT o_orderstatus, l_returnflag, sum(l_quantity) AS sum_qty, " +
          s"count(*) AS n FROM graft_star WHERE r_name = '$reg' AND " +
          s"o_month <= '$m' GROUP BY ROLLUP(o_orderstatus, l_returnflag)",
        Seq("o_orderstatus", "l_returnflag"),
        Map("sum_qty" -> Exact, "n" -> Exact))
    },
    "grouping_sets" -> { r =>
      val seg = pick(r, Data.Segments)
      val m = pick(r, Data.Months)
      text("grouping_sets",
        "SELECT o_orderstatus, l_returnflag, sum(disc_price) AS revenue, " +
          "grouping(l_returnflag) AS g FROM graft_star " +
          s"WHERE c_mktsegment = '$seg' AND o_month >= '$m' GROUP BY " +
          "GROUPING SETS ((o_orderstatus, l_returnflag), (o_orderstatus), ())",
        Seq("o_orderstatus", "l_returnflag", "g"), Map("revenue" -> Exact))
    },
    "time_range" -> { r =>
      val (a, b) = monthRange(r)
      text("time_range",
        "SELECT o_orderstatus, sum(disc_price) AS revenue, count(*) AS n_rows " +
          s"FROM graft_star WHERE o_orderdate BETWEEN TIMESTAMP '$a-01' AND " +
          s"TIMESTAMP '${lastDay(b)}' GROUP BY o_orderstatus",
        Seq("o_orderstatus"), Map("revenue" -> Exact, "n_rows" -> Exact))
    },
    "prio_distinct" -> { r =>
      val m = pick(r, Data.Months.drop(1))
      text("prio_distinct",
        "SELECT r_name, count(DISTINCT o_orderpriority) AS n_prio, " +
          s"sum(disc_price) AS revenue FROM graft_star WHERE o_month < '$m' " +
          "GROUP BY r_name",
        Seq("r_name"), Map("n_prio" -> Exact, "revenue" -> Exact))
    },
    "avg" -> { r =>
      val (n, m) = (pick(r, Data.Nations), pick(r, Data.Months))
      text("avg",
        "SELECT o_orderstatus, avg(l_quantity) AS avg_qty, " +
          s"count(l_quantity) AS n FROM graft_star WHERE n_name = '$n' " +
          s"AND o_month <= '$m' GROUP BY o_orderstatus",
        Seq("o_orderstatus"), Map("avg_qty" -> Rel(1e-9), "n" -> Exact))
    },
    "month_series" -> { r =>
      val (a, b) = monthRange(r)
      text("month_series",
        "SELECT o_month, sum(disc_price) AS revenue FROM graft_star " +
          s"WHERE o_month BETWEEN '$a' AND '$b' GROUP BY o_month",
        Seq("o_month"), Map("revenue" -> Exact))
    })

  /** shapes no cuboid covers (o_orderpriority and c_name are not cube
    * dimensions): served by the pushdown fallback */
  val Pushdown: Seq[(String, Gen)] = Seq(
    "pushdown_priority" -> { r =>
      val m = pick(r, Data.Months)
      text("pushdown_priority",
        "SELECT o_orderpriority, min(l_quantity) AS min_qty, count(*) AS n " +
          s"FROM graft_star WHERE o_month = '$m' GROUP BY o_orderpriority",
        Seq("o_orderpriority"), Map("min_qty" -> Exact, "n" -> Exact))
    },
    "pushdown_customer" -> { r =>
      val (n, m) = (pick(r, Data.Nations), pick(r, Data.Months))
      text("pushdown_customer",
        "SELECT c_name, sum(disc_price) AS revenue FROM graft_star " +
          s"WHERE n_name = '$n' AND o_month = '$m' GROUP BY c_name " +
          "ORDER BY revenue DESC, c_name LIMIT 10",
        Seq("c_name"), Map("revenue" -> Exact))
    })

  /** `n` distinct texts: rank i comes from template i mod (templates),
    * so every template holds a like share of each popularity band
    * whatever the seed */
  def universe(gens: Seq[(String, Gen)], n: Int,
               r: java.util.Random): IndexedSeq[Text] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Text]
    var i = 0
    var tries = 0
    while (seen.size < n) {
      val t = gens(i % gens.size)._2(r)
      tries += 1
      require(tries < n * 50, s"template space too small for $n texts")
      if (!seen.contains(t.sql)) { seen.put(t.sql, t); i += 1 }
    }
    seen.values.toIndexedSeq
  }

  /** the flat table the oracle answers from: graft's own unaccelerated
    * star join, cached once */
  def registerOracle(spark: SparkSession, sf: String): Unit =
    graft.cube.CubeManager.flatTable(spark, sf).cache()
      .createOrReplaceTempView(OracleView)

  private def num(v: Any): Option[Double] = v match {
    case d: java.math.BigDecimal => Some(d.doubleValue)
    case d: scala.math.BigDecimal => Some(d.toDouble)
    case n: java.lang.Number => Some(n.doubleValue)
    case _ => None
  }

  private def keyOf(r: Row, keys: Seq[String]): String =
    keys.map(k => String.valueOf(r.get(r.fieldIndex(k)))).mkString("\u0001")

  /** the oracle's answer to `t` */
  def oracle(spark: SparkSession, t: Text): Array[Row] =
    spark.sql(t.oracle).collect()

  /** None when `served` answers `t` as the oracle's `want` does, else
    * what differs */
  def check(t: Text, want: Array[Row], served: Array[Row]): Option[String] = {
    if (want.length != served.length)
      return Some(s"${t.template}: ${served.length} rows, oracle ${want.length}")
    val w = want.sortBy(keyOf(_, t.keys))
    val s = served.sortBy(keyOf(_, t.keys))
    w.zip(s).iterator.flatMap { case (o, g) =>
      if (keyOf(o, t.keys) != keyOf(g, t.keys))
        Some(s"${t.template}: group ${keyOf(g, t.keys)} vs ${keyOf(o, t.keys)}")
      else t.checks.iterator.flatMap { case (c, how) =>
        val got = g.get(g.fieldIndex(c))
        val ok = how match {
          case Exact => (num(got), num(o.get(o.fieldIndex(c)))) match {
            case (Some(a), Some(b)) => a == b
            case _ => got == o.get(o.fieldIndex(c))
          }
          case Rel(tol) =>
            (num(got), num(o.get(o.fieldIndex(c)))) match {
              case (Some(a), Some(b)) =>
                math.abs(a - b) <= tol * math.max(math.abs(b), 1.0)
              case (a, b) => a == b
            }
          case Between(lo, hi) =>
            (num(got), num(o.get(o.fieldIndex(lo))),
             num(o.get(o.fieldIndex(hi)))) match {
              case (Some(a), Some(l), Some(h)) => l <= a && a <= h
              case _ => false
            }
        }
        if (ok) None
        else Some(s"${t.template}: $c = $got at ${keyOf(g, t.keys)} " +
          s"(oracle row $o) for ${t.sql}")
      }
    }.toSeq.headOption
  }
}

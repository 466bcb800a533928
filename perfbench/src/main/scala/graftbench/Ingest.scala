package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.cube._

/** `ingest`: writes between reads, on a month-segmented declared
  * orders cube in the shape of graft's soak test. Set-up builds the
  * cube's first month from an empty root. Then rounds alternate: one
  * writer runs the next op of a seeded lifecycle sequence through
  * `GraftTool.run` — append the next month, refresh a committed
  * segment with identical rows, run `policies` (auto-merge, replan) —
  * and then open-loop readers serve two shapes of the view through
  * `QueryService.run`, whose result cache the commit invalidated. The
  * readers are viewers of the orders dashboard, arriving independently
  * as on `dashboard`. Reads never overlap a write: a read in flight
  * across a refresh or merge can fail in graft's rename-aside swap
  * window even after its one retry (`SoakSpec` tolerates this), and a
  * benchmark workload must be one on which no operation fails. A
  * failed operation still counts as failed; the harness retries
  * nothing. */
object Ingest {
  val Orders = 15000
  val Readers = 2
  /** offered reads per second in a read phase: half of what two
    * closed-loop readers complete beside a writer, so the rate holds
    * through a slower box and `throughput` counts reads served, not the
    * box's speed */
  val ReadRate = 8.0
  /** length of the read phase after each write, in seconds */
  val ReadPhaseS = 2.5
  val MaxMonths = 24
  val CubeName = "bench_orders"
  val View = s"graft_$CubeName"
  /** the writer's op cycle; the seed picks which segment a refresh
    * rewrites */
  val OpCycle = Seq("append", "refresh", "append", "policies")

  private val statusQuery =
    s"SELECT o_orderstatus, count(*) AS n FROM $View GROUP BY o_orderstatus"
  private val monthQuery =
    s"SELECT o_month, count(*) AS n, sum(o_totalprice) AS price, " +
      s"count(DISTINCT o_custkey) AS n_cust FROM $View GROUP BY o_month"

  /** the declared cube: orders by month and status, a decimal sum, a
    * count and a bitmap distinct, auto-merge after four segments and a
    * replan budget */
  private def doc(first: String, next: String): String =
    s"""{
       |  "name": "$CubeName",
       |  "model": {"fact": "orders"},
       |  "flatColumns": [
       |    {"name": "o_month", "expr": "date_format(o_orderdate, 'yyyy-MM')"},
       |    {"name": "o_orderstatus"},
       |    {"name": "o_orderdate"},
       |    {"name": "o_totalprice"},
       |    {"name": "o_custkey"}
       |  ],
       |  "dims": ["o_month", "o_orderstatus"],
       |  "measures": [
       |    {"name": "price_sum", "family": "sum", "column": "o_totalprice",
       |     "decimal": true, "presentDouble": true},
       |    {"name": "n_orders", "family": "count"},
       |    {"name": "cust_bitmap", "family": "bitmap", "column": "o_custkey"}
       |  ],
       |  "segmentCol": "o_orderdate",
       |  "segments": [{"name": "m1", "start": "$first", "end": "$next"}],
       |  "segDayGranular": true,
       |  "autoMergeMaxSegments": 4,
       |  "replanRowBudget": 500,
       |  "replanPolicy": "spbpus",
       |  "dictColumns": ["o_orderstatus"]
       |}""".stripMargin

  final case class Write(kind: String, seconds: Double, dirs: Int)

  /** what the view may serve: the status counts of every month prefix,
    * and each month's (count, price sum, distinct customers) */
  private final class State(val b: Bench, val defPath: String,
                            val prefixes: IndexedSeq[Map[String, Long]],
                            val months: Map[String, (Long, Double, Long)]) {
    var appended = 1 // months committed so far
    var opsRun = 0
    val ops = new java.util.Random(b.args.seed * 7 + 1)
  }

  private def monthStart(i: Int): String = s"${Data.Months(i)}-01"

  def run(b: Bench, t0: Long): Unit = {
    val (spark, sf) = (b.spark, b.sf)
    b.stage("datagen")(Data.writeStar(spark, sf, b.args.seed, Orders))
    GraftSql.registerView(spark, sf)
    val defDir = s"${b.args.work}/defs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(defDir))
    val defPath = s"$defDir/$CubeName.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(defPath),
      doc(monthStart(0), monthStart(1)).getBytes("UTF-8"))
    spark.conf.set(QueryLog.DirConf, s"${b.args.work}/querylog")
    CubeJson.registerDir(spark, defDir)

    // the truth, from the source with plain Spark aggregation
    val orders = graft.Tables.orders(spark, sf)
      .filter(col("o_orderdate") < lit(monthStart(MaxMonths)).cast("timestamp"))
      .withColumn("m", date_format(col("o_orderdate"), "yyyy-MM"))
    val perStatus = orders.groupBy(col("m"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val prefixes = (1 to MaxMonths).map { k =>
      val ms = Data.Months.take(k).toSet
      perStatus.filter(x => ms(x._1)).groupBy(_._2)
        .map { case (st, xs) => st -> xs.map(_._3).sum }
    }
    val months = orders.groupBy(col("m")).agg(count(lit(1)),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"),
        countDistinct(col("o_custkey"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap

    // the first month, built from an empty cube root by the first serve
    val first = b.stage("build") {
      b.phase("build")
      val (s, secs) = b.timed(QueryService.run(spark, sf, statusQuery,
        "ingest-first", cached = false))
      b.phase("idle")
      b.layer("CubeManager.ensureDeclared_s") = secs
      s
    }
    if (servedMap(first.rows) != prefixes.head)
      b.wrongAnswer(s"declared cube's first build serves ${servedMap(first.rows)}")
    QueryService.run(spark, sf, monthQuery, "ingest-first-month")
    b.e2e("setup_s") = (System.nanoTime() - t0) / 1e9

    val st = new State(b, defPath, prefixes, months)
    val secs = b.args.seconds
    if (!b.args.trace) {
      val (p, writes) = window(st, secs, traced = false, "r")
      b.e2e("live_heap_mb") = b.liveHeapMb()
      b.latency(p.okLatencies)
      b.e2e("throughput") = OpenLoop.qpsAtSlo(Seq(p))
      b.e2e("apdex") = p.apdex
      b.generatorLateness(p.lateness)
      report(b, p, writes)
    } else {
      b.listening(on = false)
      val (u, _) = window(st, secs / 2, traced = false, "u")
      b.listening(on = true)
      val cache0 = GraftSql.resultCacheStats
      val (t, writes) = window(st, secs / 2, traced = true, "t")
      b.e2e("live_heap_mb") = b.liveHeapMb()
      b.jvmLayers()
      b.readLayers(t.reads, cache0)
      b.layer("self.request_ms") =
        b.tracer.meanSelfMs("request")
      b.latency(u.okLatencies)
      b.traceOverhead(u.okLatencies, t.okLatencies)
      b.generatorLateness(u.lateness ++ t.lateness)
      def mean(k: String) = Stats.mean(writes.filter(_.kind == k).map(_.seconds))
      b.layer("GraftTool.append_s") = mean("append")
      b.layer("GraftTool.refresh_s") = mean("refresh")
      b.layer("GraftTool.policies_s") = mean("policies")
      b.layer("GraftTool.write_p50_s") = Stats.median(writes.map(_.seconds))
      b.layer("GraftTool.dirs_rewritten") = Stats.mean(writes.map(_.dirs.toDouble))
      b.listener.foreach { l =>
        l.drain()
        b.layer("exec.write_cpu_s") = l.get("write").map(_.cpuNs.sum).getOrElse(0L) / 1e9
      }
      b.layer("CubeManager.storage_ratio") = storageRatio(b)
      report(b, u, writes)
      b.notes += t.note
      Pipeline.probe(b)
    }
  }

  /** bytes under the cube root per byte of the source it covers */
  private def storageRatio(b: Bench): Double =
    Data.bytesUnder(CubeManager.cubeRoot).toDouble /
      Data.bytesUnder(s"${b.sf}/orders.parquet")

  private def servedMap(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  private def report(b: Bench, p: OpenLoop.Phase, writes: Seq[Write]): Unit = {
    val ws = writes.groupBy(_.kind).map { case (k, xs) =>
      f"$k ${xs.size} (${Stats.median(xs.map(_.seconds))}%.2f s)" }
    b.notes += p.note
    b.notes += s"writes: ${ws.mkString(", ")}; reads: ${p.reads.size}, " +
      s"failed ${p.reads.count(_.error.isDefined)}"
    b.notes += f"write p50 ${Stats.median(writes.map(_.seconds))}%.2f s, " +
      f"storage ratio ${storageRatio(b)}%.3f"
  }

  /** one measured window of rounds, each a write and then a read
    * phase of `ReadPhaseS` seconds; the round in flight when `seconds`
    * run out finishes. Returns the read phases merged into one, and
    * the writes. */
  private def window(st: State, seconds: Double, traced: Boolean,
                     tag: String): (OpenLoop.Phase, Seq[Write]) = {
    val b = st.b
    val server = new Server(b.spark, b.sf, b.tracer)
    val rnd = new java.util.Random(b.args.seed * 101 + tag.hashCode)
    val stopAt = System.nanoTime() + (seconds * 1e9).toLong
    val writes = ArrayBuffer.empty[Write]
    val phases = ArrayBuffer.empty[OpenLoop.Phase]
    while (System.nanoTime() < stopAt) {
      writes += writeOnce(st, traced)
      val offsets = Stats.poissonSchedule(ReadRate, ReadPhaseS, rnd)
      val texts = offsets.indices.map(_ =>
        if (rnd.nextBoolean()) statusQuery else monthQuery)
      phases += OpenLoop.run(b, server, ReadRate, offsets, texts, Readers,
        traced, s"$tag${phases.size}")(check(st, _))
    }
    val merged = OpenLoop.Phase(ReadRate, Readers, phases.flatMap(_.reads).toSeq,
      phases.flatMap(_.lateness).toSeq, phases.map(_.wallS).sum)
    (merged, writes.toSeq)
  }

  private def check(st: State, r: Read): Unit =
    if (r.error.isEmpty) {
      if (r.text == statusQuery) {
        val got = servedMap(r.rows)
        if (!st.prefixes.contains(got))
          st.b.wrongAnswer(s"declared view served $got, no month prefix")
      } else {
        val got = r.rows.map(x =>
          x.getString(0) -> ((x.getLong(1), x.getDouble(2), x.getLong(3)))).toMap
        val k = got.size
        if (got.keySet != Data.Months.take(k).toSet ||
            got.exists { case (m, v) => !st.months.get(m).contains(v) })
          st.b.wrongAnswer(s"declared view's months $got differ from the " +
            s"committed prefix of $k months")
      }
    }

  private def committedSegments(st: State): Seq[String] = {
    val spec = CubeJson.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(st.defPath)), "UTF-8"))
    CubeMeta.load(st.b.spark, CubeJson.toCubeDef(spec),
      CubeManager.declaredRootOf(st.b.sf, spec))
      .map(_.inst.cube.segments.map(_.name)).getOrElse(Seq.empty)
  }

  private def writeOnce(st: State, traced: Boolean): Write = {
    val b = st.b
    val (spark, sf) = (b.spark, b.sf)
    val next = OpCycle(st.opsRun % OpCycle.size)
    st.opsRun += 1
    val kind = if (next == "append" && st.appended >= MaxMonths) "refresh"
      else next
    val before = if (traced) Data.dirStamps(CubeManager.cubeRoot) else Map.empty[String, Long]
    b.phase("write")
    val tool = (a: Seq[String]) =>
      GraftTool.run(spark, a, _ => ()) == 0
    val (ok, secs) = b.timed(b.tracer.span(kind) {
      try kind match {
        case "append" =>
          val i = st.appended
          val ok = tool(Seq("append", sf, "--def", st.defPath, "--segment",
            s"m${i + 1},${monthStart(i)},${monthStart(i + 1)}"))
          if (ok) st.appended += 1
          ok
        case "refresh" =>
          val segs = committedSegments(st)
          segs.nonEmpty && tool(Seq("refresh", sf, "--def", st.defPath,
            "--segment", segs(st.ops.nextInt(segs.size))))
        case _ =>
          tool(Seq("policies", sf, "--def", st.defPath))
      } catch {
        case e: Exception =>
          b.synchronized(b.notes += s"write $kind failed: ${e.getMessage}")
          false
      }
    })
    b.phase("idle")
    val dirs = if (!traced) 0 else {
      val after = Data.dirStamps(CubeManager.cubeRoot)
      after.count { case (d, m) => !before.get(d).contains(m) }
    }
    b.synchronized {
      b.attempted += 1
      if (!ok) b.failed += 1
    }
    Write(kind, secs, dirs)
  }
}

package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.cube.{CubeBuilder, CubeManager, GraftSql}

/** Metric names and units. Untraced runs report every end-to-end
  * metric; traced runs report every per-layer metric, 0 for a layer
  * the workload never reaches. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput" -> "1/s", "apdex" -> "score",
    "live_heap_mb" -> "MB")

  /** Apdex target (ms) for served reads. An added delay of 500 ms
    * changes how analysts explore (Liu and Heer, "The Effects of
    * Interactive Latency on Exploratory Visual Analysis", IEEE TVCG
    * 2014); four times it, 2 s, is the dashboard's p95 limit. */
  val ApdexMs = 500.0

  val DedupSteps = Seq("exact", "shingle", "minhash", "ngram", "simhash",
    "clusters", "keep", "lsh")

  val PerLayer: Seq[(String, String)] = Seq(
    "GraftSql.route_ms_p50" -> "ms", "GraftSql.route_ms_p95" -> "ms",
    "GraftSql.routed_ratio" -> "ratio", "GraftSql.l1_hit_ratio" -> "ratio",
    "GraftSql.l1_evictions" -> "count",
    "QueryService.latency_p50_ms" -> "ms",
    "QueryService.latency_p95_ms" -> "ms",
    "QueryService.queue_ms_p50" -> "ms", "QueryService.queue_ms_p95" -> "ms",
    "QueryService.plan_ms_p50" -> "ms", "QueryService.plan_ms_p95" -> "ms",
    "QueryService.exec_ms_p50" -> "ms", "QueryService.exec_ms_p95" -> "ms",
    "QueryService.error_ratio" -> "ratio",
    "QueryService.fail.swap_window" -> "count",
    "QueryService.fail.timeout" -> "count",
    "QueryService.fail.row_cap" -> "count",
    "QueryService.fail.other" -> "count",
    "QueryRouter.scan_rows_per_row" -> "ratio",
    "QueryRouter.scan_bytes_per_query" -> "bytes",
    "exec.jobs_per_query" -> "count", "exec.stages_per_query" -> "count",
    "exec.tasks_per_query" -> "count", "exec.cpu_ms_per_query" -> "ms",
    "exec.run_ms_per_query" -> "ms", "exec.gc_ms_per_query" -> "ms",
    "exec.shuffle_bytes_per_query" -> "bytes",
    "CubeManager.ensureBuilt_s" -> "s", "CubeManager.ensureMerged_s" -> "s",
    "CubeManager.storage_ratio" -> "ratio",
    "CubeBuilder.phase.snapshots_s" -> "s",
    "CubeBuilder.phase.dictionary_s" -> "s",
    "CubeBuilder.phase.flat-write_s" -> "s",
    "CubeBuilder.phase.cuboid_s" -> "s", "CubeBuilder.phase.merge_s" -> "s",
    "CubeBuilder.cuboid_rows" -> "count",
    "CubeBuilder.bytes_written_mb" -> "MB",
    "CubeManager.ensureDeclared_s" -> "s",
    "exec.build_cpu_s" -> "s", "exec.build_jobs" -> "count",
    "exec.build_shuffle_mb" -> "MB",
    "GraftTool.append_s" -> "s", "GraftTool.refresh_s" -> "s",
    "GraftTool.policies_s" -> "s", "GraftTool.write_p50_s" -> "s",
    "GraftTool.dirs_rewritten" -> "count", "exec.write_cpu_s" -> "s",
    "Dedup.exact_s" -> "s", "Dedup.shingle_s" -> "s",
    "Dedup.minhash_s" -> "s", "Dedup.ngram_s" -> "s",
    "Dedup.simhash_s" -> "s", "Dedup.clusters_s" -> "s",
    "Dedup.keep_s" -> "s", "EmbeddingSearch.lshTopKCorpus_s" -> "s",
    "Dedup.candidate_pairs" -> "count", "Dedup.verified_pairs" -> "count",
    "Dedup.verify_yield" -> "ratio", "Dedup.docs_per_s" -> "1/s") ++
    DedupSteps.flatMap(s =>
      Seq(s"exec.$s.cpu_s" -> "s", s"exec.$s.shuffle_mb" -> "MB")) ++ Seq(
    "jvm.persisted_rdds" -> "count", "jvm.storage_mem_mb" -> "MB",
    "self.request_ms" -> "ms", "self.pass_ms" -> "ms",
    "loadgen.lateness_ms_p95" -> "ms", "loadgen.lateness_ms_max" -> "ms",
    "trace.untraced_p50_ms" -> "ms", "trace.traced_p50_ms" -> "ms",
    "trace.overhead_ratio" -> "ratio")
}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, cores: Int,
                      commit: String, launchedMs: Long)

/** Everything one run shares: the session, the sf dir the generated
  * tables live in, the tracer and listener of a traced run, and the
  * metrics, counts and failures it reports. */
final class Bench(val args: Args, val spark: SparkSession) {
  val sf: String = s"${args.work}/data/sf_${args.workload}"
  val tracer = new Tracer(args.trace)
  val listener: Option[ExecListener] =
    if (args.trace) Some(new ExecListener) else None

  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]
  val wrong = mutable.ArrayBuffer.empty[String]
  val failures = mutable.LinkedHashMap.empty[String, Long]
  var attempted = 0L
  var failed = 0L
  /** how late the open-loop generator dispatched, when there is one */
  var latenessP95: Double = Double.NaN

  def fail(kind: String, e: Throwable): Unit = synchronized {
    failed += 1
    failures(kind) = failures.getOrElse(kind, 0L) + 1
    if (failures.values.sum <= 3)
      notes += s"failure[$kind]: ${e.getClass.getName}: " +
        Option(e.getMessage).getOrElse("").take(300)
  }

  def wrongAnswer(msg: String): Unit = synchronized {
    if (wrong.size < 5) wrong += msg
    else if (wrong.size == 5) wrong += "..."
  }

  def phase(p: String): Unit = listener.foreach(_.phase = p)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** a timed set-up step, noted in the report */
  def stage[T](name: String)(body: => T): T = {
    val (r, s) = timed(tracer.span(name)(body))
    notes += f"setup $name: $s%.2f s"
    r
  }

  /** install / remove the listener around a traced window */
  def listening(on: Boolean): Unit = listener.foreach { l =>
    if (on) spark.sparkContext.addSparkListener(l)
    else spark.sparkContext.removeSparkListener(l)
  }

  /** the star cube built from an empty root, with per-layer build
    * numbers: wall time of each manager call, CubeBuilder's phase
    * totals (summed over concurrently built segments), and the
    * listener's executor CPU, jobs, shuffle and output bytes */
  def buildStar(merge: Boolean): Unit = {
    val before = CubeBuilder.phaseTotals
    phase("build")
    val (inst, builtS) = timed(tracer.span("ensureBuilt")(
      CubeManager.ensureBuilt(spark, sf)))
    layer("CubeManager.ensureBuilt_s") = builtS
    if (merge) {
      phase("merge")
      val (_, s) = timed(tracer.span("ensureMerged")(
        CubeManager.ensureMerged(spark, sf)))
      layer("CubeManager.ensureMerged_s") = s
    }
    phase("idle")
    val after = CubeBuilder.phaseTotals
    Seq("snapshots", "dictionary", "flat-write", "cuboid", "merge").foreach {
      p => layer(s"CubeBuilder.phase.${p}_s") =
        after.getOrElse(p, 0.0) - before.getOrElse(p, 0.0)
    }
    layer("CubeBuilder.cuboid_rows") = inst.rows.values.sum.toDouble
    listener.foreach { l =>
      l.drain()
      val accs = Seq("build", "merge").flatMap(l.get)
      layer("exec.build_cpu_s") = accs.map(_.cpuNs.sum).sum / 1e9
      layer("exec.build_jobs") = accs.map(_.jobs.sum).sum.toDouble
      layer("exec.build_shuffle_mb") =
        accs.map(_.shuffleBytes.sum).sum / 1048576.0
      layer("CubeBuilder.bytes_written_mb") =
        accs.map(_.outBytes.sum).sum / 1048576.0
    }
  }

  /** per-query listener counts over the given query ids */
  def execPerQuery(ids: Seq[String]): Unit = listener.foreach { l =>
    l.drain()
    val accs = ids.flatMap(id => l.get(graft.cube.QueryService.GroupPrefix + id))
    val n = math.max(1, ids.size).toDouble
    def per(f: l.Acc => Long) = accs.map(f).sum / n
    layer("exec.jobs_per_query") = per(_.jobs.sum)
    layer("exec.stages_per_query") = per(_.stages.sum)
    layer("exec.tasks_per_query") = per(_.tasks.sum)
    layer("exec.cpu_ms_per_query") = per(_.cpuNs.sum) / 1e6
    layer("exec.run_ms_per_query") = per(_.runMs.sum)
    layer("exec.gc_ms_per_query") = per(_.gcMs.sum)
    layer("exec.shuffle_bytes_per_query") = per(_.shuffleBytes.sum)
  }

  /** the serving layers' numbers over a traced window of reads */
  def readLayers(reads: Seq[Read], cache0: (Long, Long, Long)): Unit = {
    def pct(name: String, q: Double) =
      Stats.percentile(tracer.durations(name), q)
    layer("GraftSql.route_ms_p50") = pct("route", 0.5)
    layer("GraftSql.route_ms_p95") = pct("route", 0.95)
    layer("QueryService.queue_ms_p50") = pct("queue", 0.5)
    layer("QueryService.queue_ms_p95") = pct("queue", 0.95)
    layer("QueryService.plan_ms_p50") = pct("plan", 0.5)
    layer("QueryService.plan_ms_p95") = pct("plan", 0.95)
    layer("QueryService.exec_ms_p50") = pct("exec", 0.5)
    layer("QueryService.exec_ms_p95") = pct("exec", 0.95)
    val ok = reads.filter(_.error.isEmpty)
    layer("GraftSql.routed_ratio") =
      ok.count(_.routed).toDouble / math.max(1, ok.size)
    val (h, m, e) = GraftSql.resultCacheStats
    val (dh, dm) = (h - cache0._1, m - cache0._2)
    layer("GraftSql.l1_hit_ratio") = dh.toDouble / math.max(1L, dh + dm)
    layer("GraftSql.l1_evictions") = (e - cache0._3).toDouble
    layer("QueryRouter.scan_rows_per_row") =
      ok.map(_.scanRows).sum.toDouble / math.max(1, ok.map(_.rows.length).sum)
    layer("QueryRouter.scan_bytes_per_query") =
      ok.map(_.scanBytes).sum.toDouble / math.max(1, ok.size)
    val failedReads = reads.filter(_.error.isDefined)
    layer("QueryService.error_ratio") =
      failedReads.size.toDouble / math.max(1, reads.size)
    Seq("swap_window", "timeout", "row_cap", "other").foreach { k =>
      layer(s"QueryService.fail.$k") = failedReads
        .count(r => Serve.failureKind(r.error.get) == k).toDouble
    }
    execPerQuery(reads.map(_.queryId))
  }

  /** used heap after a full collection, MB */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      mx.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def jvmLayers(): Unit = {
    val sc = spark.sparkContext
    layer("jvm.persisted_rdds") = sc.getPersistentRDDs.size.toDouble
    layer("jvm.storage_mem_mb") =
      sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
  }

  /** request latency as the caller sees it, Harrell–Davis p50 and p95:
    * noted in every run, and a per-layer metric of a traced run's
    * untraced half. Too unsteady across seeds at the run's sample count
    * to bound as an end-to-end metric. */
  def latency(ms: Seq[Double]): Unit = {
    val (p50, p95) = (Stats.hdQuantile(ms, 0.5), Stats.hdQuantile(ms, 0.95))
    notes += f"latency: p50 $p50%.1f ms, p95 $p95%.1f ms over ${ms.size} requests"
    layer("QueryService.latency_p50_ms") = p50
    layer("QueryService.latency_p95_ms") = p95
  }

  /** how late the open-loop generator dispatched, ms */
  def generatorLateness(ms: Seq[Double]): Unit = {
    latenessP95 = Stats.percentile(ms, 0.95)
    layer("loadgen.lateness_ms_p95") = latenessP95
    layer("loadgen.lateness_ms_max") = ms.max
  }

  def traceOverhead(untraced: Seq[Double], traced: Seq[Double]): Unit = {
    val (u, t) = (Stats.median(untraced), Stats.median(traced))
    layer("trace.untraced_p50_ms") = u
    layer("trace.traced_p50_ms") = t
    layer("trace.overhead_ratio") = t / u - 1.0
    notes += f"tracing overhead: p50 $t%.2f ms traced vs $u%.2f ms untraced"
  }
}

object Main {

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--cores").toInt,
      need("--commit"), need("--launched-ms").toLong)
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graft-perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // keep Spark's own job/stage/SQL history small, so the live heap
      // measures what graft retains
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // set-up counts from the JVM launch (as nanoTime)
    val t0 = System.nanoTime() -
      (System.currentTimeMillis() - a.launchedMs) * 1000000L
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = session(a)
    val b = new Bench(a, spark)
    b.notes += f"setup session: ${(System.nanoTime() - t0) / 1e9}%.2f s after launch"
    val outcome = scala.util.Try {
      b.listening(on = true)
      graft.functions.GraftFunctions.register(spark)
      a.workload match {
        case "dashboard" => Dashboard.run(b, t0)
        case "ingest" => Ingest.run(b, t0)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    outcome.failed.foreach { e =>
      System.err.println(s"perfbench: ${a.workload} aborted")
      e.printStackTrace()
    }
    System.err.println(f"perfbench: run ended ${(System.nanoTime() - t0) / 1e9}%.1f s after launch")
    val rt = Runtime.getRuntime
    val env = Seq(
      "workload" -> q(a.workload), "seed" -> a.seed.toString,
      "seconds" -> json(a.seconds), "trace" -> a.trace.toString,
      "nproc" -> rt.availableProcessors().toString,
      "spark_cores" -> a.cores.toString,
      "spark_version" -> q(spark.version),
      "jvm" -> q(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "heap_max_mb" -> (rt.maxMemory() / 1048576).toString,
      "commit" -> q(a.commit), "load1_at_start" -> json(load1),
      "generator_lateness_ms_p95" ->
        json(b.latenessP95))
    println("ENV " + env.map { case (k, v) => s"${q(k)}: $v" }
      .mkString("{", ", ", "}"))
    b.notes.foreach(n => println(s"NOTE $n"))
    b.wrong.foreach(w => println(s"WRONG $w"))
    b.failures.foreach { case (k, n) => println(s"FAILED $k $n") }
    val declared = if (a.trace) Metrics.PerLayer else Metrics.EndToEnd
    // a layer the run never reached reads 0; an end-to-end metric that
    // could not be measured leaves the run without a result
    def finite(v: Double) = !v.isNaN && !v.isInfinite
    val values = declared.map { case (n, _) =>
      n -> (if (a.trace) b.layer.get(n).filter(finite).getOrElse(0.0)
            else b.e2e.getOrElse(n, Double.NaN))
    }.toMap
    declared.foreach { case (n, u) =>
      println(f"METRIC $n%-36s ${values(n)}%14.4f $u")
    }
    val complete = outcome.isSuccess && values.values.forall(finite)
    if (complete) {
      val metrics = declared.map { case (n, u) =>
        s"${q(n)}: {${q("value")}: ${json(values(n))}, " +
          s"${q("unit")}: ${q(u)}}"
      }.mkString("{", ", ", "}")
      println(s"{${q("correct")}: ${b.wrong.isEmpty}, " +
        s"${q("attempted")}: ${math.max(1L, b.attempted)}, " +
        s"${q("failed")}: ${b.failed}, ${q("metrics")}: $metrics}")
    }
    spark.stop()
    System.out.flush()
    sys.exit(if (complete) 0 else 1)
  }
}

package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.graftbridge.ConfBridge

import graft.cube.{CubeManager, GraftSql, QueryLog, QueryRouter, QueryService}

/** One served read as the harness saw it. */
final case class Read(queryId: String, text: String, due: Long, start: Long, end: Long,
                      rows: Array[Row], routed: Boolean, fromCache: Boolean,
                      scanRows: Long, scanBytes: Long,
                      error: Option[Throwable]) {
  def latencyMs: Double = (end - due) / 1e6
}

/** The serving call. Untraced it is `QueryService.run(cached = true)`.
  * Traced, the same public steps `QueryService.run` takes run one by
  * one inside spans — `sqlCached` (route), `shufflePartitionsFor`, the
  * executed plan under the per-query partition count (plan) and the
  * capped collect (exec) — under the same `graft-query-<id>` job group
  * and scheduler pool, with the rest of what `run` does around them:
  * the row-cap check, one retry after a 150 ms backoff when a file
  * under the cube root vanished between plan and read (a concurrent
  * swap), and the `ServedLog`/`QueryLog` records, so a traced read
  * fails, heals and feeds the planner's demand as a plain one does. */
final class Server(spark: SparkSession, sf: String, tracer: Tracer) {

  def serve(sql: String, queryId: String, due: Long, traced: Boolean): Read = {
    val start = System.nanoTime()
    try {
      if (!traced) {
        val s = QueryService.run(spark, sf, sql, queryId, cached = true)
        Read(queryId, sql, due, start, System.nanoTime(), s.rows, s.routed,
          s.fromCache, s.scanRows, s.scanBytes, None)
      } else {
        val req = tracer.newRequest()
        tracer.rooted("request", due, req) {
          tracer.record("queue", due, start, tracer.openSpanId, req)
          steps(sql, queryId, due, start)
        }
      }
    } catch {
      case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
        Read(queryId, sql, due, start, System.nanoTime(), Array.empty, routed = false,
          fromCache = false, 0L, 0L, Some(e))
    }
  }

  private def steps(sql: String, queryId: String, due: Long,
                    start: Long): Read = {
    val sc = spark.sparkContext
    val cap = QueryService.DefaultMaxRows
    // the QueryLog row below must describe this read, not a failed one
    QueryRouter.QueryStats.takeLastForThread(): Unit
    sc.setJobGroup(QueryService.GroupPrefix + queryId, sql.take(256),
      interruptOnCancel = true)
    sc.setLocalProperty("spark.scheduler.pool", QueryService.LightPool)
    def attempt(): (GraftSql.SqlResult, Array[Row], SparkPlan) = {
      val r = tracer.span("route")(GraftSql.sqlCached(spark, sf, sql))
      val est = if (r.routed) r.estRows else None
      sc.setLocalProperty("spark.scheduler.pool",
        QueryService.poolFor(r.routed, est))
      val parts = tracer.span("partitions")(
        QueryService.shufflePartitionsFor(spark, r.routed, est))
      val limited = r.df.limit(cap + 1)
      val plan = tracer.span("plan")(
        ConfBridge.withShufflePartitions(spark, parts)(
          limited.queryExecution.executedPlan))
      val rows = tracer.span("exec")(
        ConfBridge.withShufflePartitions(spark, parts)(limited.collect()))
      if (rows.length > cap) throw new QueryService.ResultCapExceeded(queryId, cap)
      (r, rows, plan)
    }
    try {
      val (r, rows, plan) =
        try attempt()
        catch {
          case e: Throwable if Serve.swapWindowRead(e) =>
            tracer.span("retry_backoff")(Thread.sleep(Serve.SwapRetryBackoffMs))
            attempt()
        }
      val (scanRows, scanBytes) =
        if (r.fromCache) (0L, 0L) else QueryService.scanMetrics(plan)
      QueryService.ServedLog.record(queryId, r.via, scanRows, scanBytes)
      val routeInfo = QueryRouter.QueryStats.takeLastForThread()
      val missInfo = QueryRouter.QueryStats.takeMissesForThread()
      QueryLog.configuredDir(spark).foreach { dir =>
        QueryLog.record(spark, dir, queryId, r.via, routeInfo.map(_._1),
          routeInfo.map(_._2), scanRows, scanBytes)
        if (!r.routed) missInfo.foreach { case (c, needed, unmatched) =>
          QueryLog.record(spark, dir, queryId, "miss", Some(c), Some(needed),
            0L, 0L, unmatched = Some(unmatched))
        }
      }
      Read(queryId, sql, due, start, System.nanoTime(), rows, r.routed, r.fromCache,
        scanRows, scanBytes, None)
    } finally {
      sc.setLocalProperty("spark.scheduler.pool", null)
      sc.clearJobGroup()
    }
  }
}

object Serve {
  /** `QueryService.run`'s backoff before its one swap-window retry */
  val SwapRetryBackoffMs = 150L

  /** the failure `QueryService.run` retries once: a file or path under
    * the cube root that vanished between plan and read */
  def swapWindowRead(e: Throwable): Boolean = {
    val root = CubeManager.cubeRoot
    var c = e
    var hops = 0
    while (c != null && hops < 16) {
      val m = Option(c.getMessage).getOrElse("")
      val vanished = c.isInstanceOf[java.io.FileNotFoundException] ||
        m.contains("FAILED_READ_FILE") || m.contains("PATH_NOT_FOUND")
      if (vanished && m.contains(root)) return true
      c = if (c.getCause eq c) null else c.getCause
      hops += 1
    }
    false
  }

  /** failure class of a served read: a file the plan pinned that
    * vanished under it (a concurrent swap), a deadline, the row cap,
    * or anything else */
  def failureKind(e: Throwable): String = {
    var c = e
    var hops = 0
    while (c != null && hops < 16) {
      c match {
        case _: QueryService.QueryTimedOut => return "timeout"
        case _: QueryService.ResultCapExceeded => return "row_cap"
        case _: java.io.FileNotFoundException => return "swap_window"
        case _ =>
          val m = Option(c.getMessage).getOrElse("")
          if (m.contains("FAILED_READ_FILE") || m.contains("PATH_NOT_FOUND"))
            return "swap_window"
      }
      c = if (c.getCause eq c) null else c.getCause
      hops += 1
    }
    "other"
  }
}

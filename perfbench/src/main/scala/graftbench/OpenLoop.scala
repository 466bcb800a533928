package graftbench

import java.util.concurrent.{Executors, Future, TimeUnit}
import java.util.concurrent.locks.LockSupport

import graft.cube.QueryService

/** An open loop: viewers arrive independently, so a dispatcher sends
  * requests on a schedule to a fixed pool of worker threads whatever
  * the server's pace, and each request's latency counts from the moment
  * it was due, so a stall also charges the requests queued behind it. */
object OpenLoop {
  /** the p95 latency a rate must meet to count as served: four times
    * the Apdex target */
  val SloMs = 4 * Metrics.ApdexMs

  final case class Phase(rate: Double, workers: Int, reads: Seq[Read],
                         lateness: Seq[Double], wallS: Double) {
    private def lat(rs: Seq[Read]) =
      rs.map(r => if (r.error.isEmpty) r.latencyMs else Double.PositiveInfinity)
    def okLatencies: Seq[Double] = reads.filter(_.error.isEmpty).map(_.latencyMs)
    def p95: Double = Stats.percentile(lat(reads), 0.95)
    /** requests still waiting for a worker when the last one fell due */
    def backlogAtEnd: Int = {
      val lastDue = reads.map(_.due).max
      reads.count(_.start > lastDue)
    }
    /** the queue grew: more requests left waiting at the end than the
      * workers could take in two rounds */
    def backlogGrew: Boolean = backlogAtEnd > 2 * workers
    def meetsSlo: Boolean = p95 <= SloMs && !backlogGrew
    def completedPerS: Double = reads.count(_.error.isEmpty) / wallS
    def withinSloPerS: Double =
      reads.count(r => r.error.isEmpty && r.latencyMs <= SloMs) / wallS
    def apdex: Double = Stats.apdex(lat(reads), Metrics.ApdexMs)
    def note: String =
      f"rate $rate%.1f/s: ${reads.size} requests, " +
        f"p50 ${Stats.median(okLatencies)}%.1f ms, p95 $p95%.1f ms, " +
        f"$completedPerS%.2f completed/s, backlog at end: $backlogAtEnd"
  }

  /** send `texts(i)` at `offsets(i)` seconds from now to `workers`
    * threads; `onRead` sees each read on its worker as it completes.
    * Every read counts as attempted, every failed one as failed. */
  def run(b: Bench, server: Server, rate: Double, offsets: Array[Double],
          texts: IndexedSeq[String], workers: Int, traced: Boolean,
          tag: String)(onRead: Read => Unit): Phase = {
    val pool = Executors.newFixedThreadPool(workers)
    val base = System.nanoTime() + 20000000L
    val lateness = new Array[Double](offsets.length)
    val futures = new Array[Future[Read]](offsets.length)
    offsets.indices.foreach { i =>
      val due = base + (offsets(i) * 1e9).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      lateness(i) = (now - due) / 1e6
      val id = s"$tag-$i"
      futures(i) = pool.submit(() => {
        val r = server.serve(texts(i), id, due, traced)
        onRead(r)
        r
      })
    }
    val deadline = System.nanoTime() + 60000000000L
    val reads = futures.indices.map { i =>
      try futures(i).get(math.max(0L, deadline - System.nanoTime()),
        TimeUnit.NANOSECONDS)
      catch {
        case e: java.util.concurrent.TimeoutException =>
          QueryService.cancel(b.spark, s"$tag-$i")
          Read(s"$tag-$i", texts(i), base, base, System.nanoTime(), Array.empty,
            routed = false, fromCache = false, 0L, 0L,
            Some(new QueryService.QueryTimedOut(s"$tag-$i",
              scala.concurrent.duration.Duration(60, "s"), e)))
      }
    }
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS)
    val end = reads.map(_.end).max
    b.synchronized {
      reads.foreach { r =>
        b.attempted += 1
        r.error.foreach(e => b.fail(Serve.failureKind(e), e))
      }
    }
    Phase(rate, workers, reads, lateness.toSeq, (end - base) / 1e9)
  }

  /** qps at SLO: the completion rate at the highest offered rate that
    * meets the SLO without a growing backlog; when none does, the rate
    * of requests that met the limit at the lowest offered rate */
  def qpsAtSlo(phases: Seq[Phase]): Double = {
    val passing = phases.filter(_.meetsSlo)
    if (passing.nonEmpty) passing.maxBy(_.rate).completedPerS
    else phases.minBy(_.rate).withinSloPerS
  }
}

package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spans recorded around the harness's calls into graft's layers. A
  * span has a name, start and end (nanoTime), its parent's id and the
  * request it belongs to; spans are kept in memory and summarized when
  * the run ends. A disabled tracer records nothing and costs one
  * branch per call. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val ids = new AtomicLong(0L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[(Long, Long)] // (span id, request)

  def newRequest(): Long = ids.incrementAndGet()

  /** time `body` as span `name`, a child of the thread's open span */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = current.get()
      val parent = if (outer == null) -1L else outer._1
      val req = if (outer == null) id else outer._2
      current.set((id, req))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, req))
        if (outer == null) current.remove() else current.set(outer)
      }
    }

  /** record an already-measured interval (e.g. a queue wait that began
    * before any code of the request ran) */
  def record(name: String, start: Long, end: Long, parent: Long,
             request: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, name, start, end, parent, request))
    id
  }

  /** open a span whose children run on this thread, with an explicit
    * start (the request's due time) */
  def rooted[T](name: String, start: Long, request: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      current.set((id, request))
      try body
      finally {
        spans.add(Span(id, name, start, System.nanoTime(), -1L, request))
        current.remove()
      }
    }

  def openSpanId: Long = Option(current.get()).map(_._1).getOrElse(-1L)

  /** durations (ms) of every span named `name` */
  def durations(name: String): Seq[Double] =
    spans.asScala.filter(_.name == name).map(s => (s.end - s.start) / 1e6).toSeq

  /** mean self time (ms) of the spans named `name`, 0 when there are
    * none: a span's duration minus the part of its interval its child
    * spans cover */
  def meanSelfMs(name: String): Double = {
    val all = spans.asScala.toSeq
    val mine = all.filter(_.name == name)
    if (mine.isEmpty) 0.0
    else {
      val children = all.groupBy(_.parent)
      Stats.mean(mine.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var reach = s.start
        kids.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
        (s.end - s.start - covered) / 1e6
      })
    }
  }
}

object Tracer {
  final case class Span(id: Long, name: String, start: Long, end: Long,
                        parent: Long, request: Long)
}

/** Spark-listener counts keyed by the job group a job ran under
  * (`graft-query-<id>` for served queries) or, for jobs outside any
  * such group, by the harness's current phase label. Task metrics land
  * on the listener bus asynchronously; read them after [[drain]]. */
final class ExecListener extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleBytes,
      outBytes = new LongAdder
  }
  @volatile var phase: String = "idle"
  private val byKey = new ConcurrentHashMap[String, Acc]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def acc(k: String): Acc = byKey.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(graft.cube.QueryService.GroupPrefix))
    val key = group.getOrElse(phase)
    val a = acc(key)
    a.jobs.increment()
    e.stageIds.foreach { s => stageKey.put(s, key); a.stages.increment() }
    lastEvent.set(System.nanoTime())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = Option(stageKey.get(e.stageId)).getOrElse(phase)
    val a = acc(key)
    a.tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs.add(m.executorCpuTime)
      a.runMs.add(m.executorRunTime)
      a.gcMs.add(m.jvmGCTime)
      a.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      a.outBytes.add(m.outputMetrics.bytesWritten)
    }
    lastEvent.set(System.nanoTime())
  }

  /** wait until the bus has been quiet for 300 ms (at most 5 s) */
  def drain(): Unit = {
    val limit = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEvent.get() < 300000000L &&
           System.nanoTime() < limit) Thread.sleep(50)
  }

  /** forget everything counted so far */
  def reset(): Unit = { byKey.clear(); stageKey.clear() }

  def get(k: String): Option[Acc] = Option(byKey.get(k))
}

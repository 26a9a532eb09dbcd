package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Spark work attributed to one span (or to the whole session). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  /** [start, end) wall intervals of the jobs, for time spent inside Spark. */
  val jobIntervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; busyMs += o.busyMs
    schedDelayMs += o.schedDelayMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs; jobIntervals ++= o.jobIntervals
  }

  /** Milliseconds of `[from, to)` covered by at least one job. */
  def inJobsMs(from: Long, to: Long): Double =
    Tracer.covered(jobIntervals.toSeq.map { case (a, b) => (math.max(a, from), math.min(b, to)) }).toDouble
}

/** One Spark job seen while tracing: the job group its issuing thread
  * carried, its start (epoch ms) and the work of its tasks. */
final class JobRecord(val group: String, val startMs: Long) {
  val counters = new Counters
}

/** Records every job started while `active`, and every task of such a job.
  * Which span a job belongs to is decided later, by [[Tracer]]. */
final class JobListener extends SparkListener {
  @volatile var active = false
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRecord(g, e.time)
    j.counters.jobs = 1
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.counters.synchronized { j.counters.jobIntervals += ((j.startMs, e.time)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(jobs.get(jobOfStage.getOrDefault(e.stageId, -1))).foreach { j =>
      val c = j.counters
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.busyMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          // Spark UI's definition: what the task spent neither running,
          // deserializing, serializing its result nor being fetched
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }
}

final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startNs: Long, endNs: Long, startMs: Long, thread: String) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
  def covers(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** Spans recorded around each public library call the harness makes. Kept in
  * memory and written once at exit. With tracing off, `span` only runs its
  * body: no ids, no job groups, and the listener records nothing. */
final class Tracer(sc: SparkContext) {
  @volatile private var enabledFlag = false
  private val ids = new AtomicLong(0)
  private val requests = new AtomicLong(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val listener = new JobListener
  /** The thread the workload runs on (it creates the tracer). */
  private val mainThread = Thread.currentThread().getName
  private lazy val registered = { sc.addSparkListener(listener); true }

  /** Start keeping spans, and jobs in the listener. */
  def enable(): Unit = if (!enabledFlag) {
    registered
    listener.active = true
    enabledFlag = true
  }

  /** Stop keeping spans and jobs; what was kept stays readable. */
  def disable(): Unit = if (enabledFlag) {
    drain()
    listener.active = false
    enabledFlag = false
  }

  /** Run `body` as a span named `layer.call`; a root span starts a request. */
  def span[A](name: String)(body: => A): A =
    if (!enabledFlag) body
    else {
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val req = outer.headOption.map(_._2).getOrElse(requests.incrementAndGet())
      stack.set((id, req) :: outer)
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, name, outer.headOption.map(_._1).getOrElse(0L), req, t0, t1, startMs,
          Thread.currentThread().getName))
        stack.set(outer)
        outer.headOption match {
          case Some((pid, _)) => sc.setJobGroup(s"span-$pid", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBridge.drain(sc)

  /** Span id of every recorded job: the span named by its job group when
    * that span was open at the job's start. Otherwise the job came from a
    * pool thread that inherited no group or a stale one (the library's
    * build stages run in `Future`s), and it belongs to the innermost span of
    * the workload's main thread open at its start; 0 when there is none. */
  private def attribution(): Seq[(Long, JobRecord)] = {
    drain()
    val byId = spans.asScala.map(s => s.id -> s).toMap
    val main = spans.asScala.filter(_.thread == mainThread).toSeq.sortBy(-_.startNs)
    listener.jobs.values().asScala.toSeq.map { j =>
      val named = Some(j.group).filter(_.startsWith("span-")).flatMap(g => byId.get(g.drop(5).toLong))
      val id = named.filter(_.covers(j.startMs)).orElse(main.find(_.covers(j.startMs))).map(_.id).getOrElse(0L)
      id -> j
    }
  }

  /** Spark work done inside each span itself (not its children), by id. */
  def countersById(): Map[Long, Counters] =
    attribution().groupBy(_._1).map { case (id, js) =>
      val c = new Counters
      js.foreach { case (_, j) => c.add(j.counters) }
      id -> c
    }

  /** Spark work of every job seen while tracing, attributed or not. */
  def totals: Counters = {
    drain()
    val c = new Counters
    listener.jobs.values().asScala.foreach(j => c.add(j.counters))
    c
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Per-layer self time in ms: each span's duration minus the part of it
    * that its child spans cover. */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        ((s.endNs - s.startNs) - Tracer.covered(ch)) / 1e6
      }.sum
    }
  }

  /** The spans as JSON lines, each with its own Spark counters. */
  def write(path: java.nio.file.Path): Unit = {
    val byId = countersById()
    val lines = all.map { s =>
      val c = byId.getOrElse(s.id, new Counters)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"thread":"${s.thread}",""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"busy_ms":${c.busyMs},"sched_delay_ms":${c.schedDelayMs},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},"gc_ms":${c.gcMs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Length of the union of `[a, b)` intervals (empty ones ignored). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work Spark reports through its public listener API, summed since the
  * listener was attached.
  */
final case class Counts(jobs: Long, tasks: Long, shuffleBytes: Long,
                        spillBytes: Long, cpuNs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, cpuNs - o.cpuNs)
}

object Counts { val Zero: Counts = Counts(0, 0, 0, 0, 0) }

final class WorkCounters extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val cpuNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  def snapshot(): Counts = Counts(jobs.get, tasks.get, shuffleBytes.get,
    spillBytes.get, cpuNs.get)
}

/** Planning and execution time of each successful query action. */
final class QueryTimes extends QueryExecutionListener {
  private val planNs = new AtomicLong
  private val execNs = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    qe.tracker.phases.values.foreach(p =>
      planNs.addAndGet(p.durationMs * 1000000L))
    execNs.addAndGet(durationNs)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def snapshot(): (Long, Long) = (planNs.get, execNs.get)
}

/** One timed call: name, start and end on the monotonic clock, the span
  * that encloses it (-1 at top level), and, when tracing, the listener
  * counts and query times accrued inside it.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, processCpuNs: Long, counted: Boolean,
                      counts: Counts, planNs: Long, execNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def cpuSeconds: Double = processCpuNs / 1e9
}

object ProcessCpu {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM: time the host steals from the
    * virtual CPUs does not count in it.
    */
  def nanos(): Long = os.getProcessCpuTime
}

/** Records spans in memory around calls into the program's layers.
  *
  * Untraced, `span` is a stopwatch and nothing else: no listener is
  * registered and spans are still recorded, so both kinds of run compute
  * their figures from the same records. Traced, each span also drains the
  * listener bus on exit (so every job it started has been counted) and
  * keeps the counter deltas; that drain is part of the tracing overhead.
  */
final class Tracer(val enabled: Boolean) {
  private val recorded = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var session: Option[SparkSession] = None
  private var counters: WorkCounters = _
  private var queries: QueryTimes = _

  /** Traced runs switch counting off for the untraced half of their
    * measurement window, which gives the tracing overhead.
    */
  var counting: Boolean = enabled

  /** Follow a new session: counts restart from its listeners. */
  def attach(spark: SparkSession): Unit = {
    session = Some(spark)
    if (enabled) {
      counters = new WorkCounters
      queries = new QueryTimes
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(queries)
    }
  }

  /** Forget the session before it is stopped. */
  def detach(): Unit = session = None

  private def live: Boolean = counting && session.isDefined

  private def sample(): (Counts, Long, Long) =
    if (!live) (Counts.Zero, 0L, 0L)
    else {
      session.foreach(org.apache.spark.sql.graftshim.Bridge
        .waitListenerBusEmpty)
      val (p, e) = queries.snapshot()
      (counters.snapshot(), p, e)
    }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val counted = live
    val (c0, p0, e0) = sample()
    stack = id :: stack
    val cpu0 = ProcessCpu.nanos()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val cpu = ProcessCpu.nanos() - cpu0
      stack = stack.tail
      val (c1, p1, e1) = if (counted && live) sample() else (c0, p0, e0)
      recorded += Span(id, parent, name, t0, t1, cpu, counted && live,
        c1 - c0, p1 - p0, e1 - e0)
    }
  }

  /** Runs `body` in a span and returns its result and duration (s). */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val r = span(name)(body)
    (r, recorded.last.seconds)
  }

  /** A mark for [[since]]. */
  def mark: Int = recorded.size

  /** Spans named `name` recorded after `mark`. */
  def since(mark: Int, name: String): Seq[Span] =
    recorded.drop(mark).filter(_.name == name).toSeq

  def named(name: String): Seq[Span] = recorded.filter(_.name == name).toSeq

  def toJson: String = recorded.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""process_cpu_ns":${s.processCpuNs},"counted":${s.counted},""" +
      s""""jobs":${s.counts.jobs},"tasks":${s.counts.tasks},""" +
      s""""shuffle_bytes":${s.counts.shuffleBytes},""" +
      s""""spill_bytes":${s.counts.spillBytes},""" +
      s""""cpu_ns":${s.counts.cpuNs},"plan_ns":${s.planNs},""" +
      s""""exec_ns":${s.execNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener counts at one instant; the difference of two attributes the
 * work between them to a span. */
final case class Counts(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, planMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, planMs - o.planMs)
  def json: String =
    s"""{"jobs":$jobs,"tasks":$tasks,"cpu_ns":$cpuNs,"gc_ms":$gcMs,"shuffle_write":$shuffleWrite,"shuffle_read":$shuffleRead,"spill":$spill,"plan_ms":$planMs}"""
}

/** Job, task and query-planning counts from a SparkListener and a
 * QueryExecutionListener, plus per-stage task durations for skew. */
final class Listeners extends SparkListener with QueryExecutionListener {
  private val jobs, tasks, cpuNs, gcMs, shWrite, shRead, spill, planMs = new AtomicLong
  /** stage id -> (task durations in ms, shuffle bytes read by the stage) */
  val stages = new ConcurrentHashMap[Int, (ArrayBuffer[Long], AtomicLong)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val read = if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shRead.addAndGet(read)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    val (durs, bytes) = stages.computeIfAbsent(e.stageId,
      _ => (ArrayBuffer.empty[Long], new AtomicLong))
    durs.synchronized(durs += e.taskInfo.duration)
    bytes.addAndGet(read)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def counts: Counts = Counts(jobs.get, tasks.get, cpuNs.get, gcMs.get,
    shWrite.get, shRead.get, spill.get, planMs.get)
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the benchmark's calls into each layer. Disabled, `span`
 * only runs its body, so the untraced run carries no listener and no
 * bookkeeping. Enabled, the listeners are registered and every span
 * records its interval, its parent and the listener counts it caused;
 * everything stays in memory until [[json]] is written once at exit.
 * Calls come from the benchmark's single caller thread.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val listeners = new Listeners
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var started = 0

  if (enabled) {
    spark.sparkContext.addSparkListener(listeners)
    spark.listenerManager.register(listeners)
  }

  def close(): Unit = if (enabled) {
    spark.listenerManager.unregister(listeners)
    spark.sparkContext.removeSparkListener(listeners)
  }

  /** Counts after every event posted so far was delivered. */
  def counts(): Counts = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    listeners.counts
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = started
      started += 1
      val parent = stack.headOption.getOrElse(-1)
      val c0 = counts()
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, parent, t0, t1, counts() - c0)
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** A span's duration minus the part its child spans cover (children of
   * one caller thread never overlap each other). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Skew of the stage with the most shuffle bytes read among the stages
   * that ran since `stagesBefore`: its slowest task time over its median. */
  def reduceSkew(stagesBefore: Set[Int]): Double = {
    val ran = listeners.stages.asScala.filter { case (id, _) => !stagesBefore(id) }
    if (ran.isEmpty) 0.0
    else {
      val (durs, _) = ran.values.maxBy(_._2.get)
      val sorted = durs.synchronized(durs.toSeq).sorted
      val med = Stats.median(sorted.map(_.toDouble))
      if (med <= 0) 0.0 else sorted.last / med
    }
  }

  def stageIds: Set[Int] = listeners.stages.keySet.asScala.map(_.intValue).toSet

  def json: String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)},"counts":${s.counts.json}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the samples (0 when there are none). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

package graft.bench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one operation share `request`;
  * `parent` is the enclosing span (0 for an operation's root). */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. Every other operation is traced
  * (even request ids), so the untraced operations of the same window give
  * the tracing overhead. Spans nest per thread; they are kept in memory
  * and written out when the run ends. With `enabled` false a span is just
  * its body, so the untraced run pays nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val on = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  def traces(request: Long): Boolean = enabled && request % 2 == 0

  /** Whether the operation running on this thread is traced. */
  def active: Boolean = on.get

  /** Root span of operation `request`. */
  def op[T](name: String, request: Long)(body: => T): T =
    if (!traces(request)) body else {
      on.set(true)
      try record(name, Some(request))(body) finally on.set(false)
    }

  def span[T](name: String)(body: => T): T = if (active) record(name, None)(body) else body

  private def record[T](name: String, request: Option[Long])(body: => T): T = {
    val stack = open.get
    val id = ids.incrementAndGet()
    val (parent, req) = request.map(r => (0L, r)).getOrElse(stack.headOption.getOrElse((0L, -1L)))
    open.set((id, req) :: stack)
    val t0 = System.nanoTime()
    try body finally {
      spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
      open.set(stack)
    }
  }

  def clear(): Unit = spans.clear()

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Span duration minus the time its direct children cover. Children of
    * a span run on its thread, one after another, so they never overlap. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val childNs = all.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    all.iterator.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6).toMap
  }

  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val self = selfMs(all)
    val lines = all.iterator.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${self(s.id)}%.4f}"""
    }
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

/** Spark task counters, from a listener the benchmark registers: jobs,
  * tasks, task busy time, task wait (launch minus stage submission),
  * input, shuffle, spill and task GC time. */
final class ExecCounters extends SparkListener {
  private val cells = Seq("jobs", "tasks", "task_busy_ms", "task_wait_ms", "input_rows",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_ms")
    .map(_ -> new LongAdder).toMap
  private val submitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]

  private def add(k: String, v: Long): Unit = cells(k).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      submitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    submitted.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    Option(submitted.get((e.stageId, e.stageAttemptId))).foreach(t =>
      add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - t)))
    Option(e.taskMetrics).foreach { m =>
      add("task_busy_ms", m.executorRunTime)
      add("input_rows", m.inputMetrics.recordsRead)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("gc_ms", m.jvmGCTime)
    }
  }

  def snapshot: Map[String, Long] = cells.map { case (k, v) => k -> v.sum }

  /** Events reach the listener asynchronously: wait until the counters
    * stop changing before a snapshot that closes a window. */
  def settle(): Map[String, Long] = {
    var prev = snapshot
    var stable = 0
    val deadline = System.nanoTime() + 3000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = snapshot
      stable = if (now == prev) stable + 1 else 0
      prev = now
    }
    prev
  }
}

/** JVM-wide meters from the management beans. */
object Jvm {
  /** JIT compile ms, GC count, GC ms and classes loaded so far. */
  def meters: Seq[Long] = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Seq(ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      beans.map(_.getCollectionCount.max(0L)).sum,
      beans.map(_.getCollectionTime.max(0L)).sum,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
  }

  /** Heap in use after full collections. Spark's context cleaner frees
    * broadcast and shuffle state only after a collection has queued the
    * references, so the collections are spaced to let it run. */
  def liveHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

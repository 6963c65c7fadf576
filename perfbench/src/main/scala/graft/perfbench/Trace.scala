package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` names the request, batch or pipeline
  * pass the span belongs to; `parent` is the enclosing span (0 = none). */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    op: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work done under one job group, summed over its jobs and tasks. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  /** The counters under their per-layer metric names (without `spark.`). */
  def metrics: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "task_ms" -> taskMs.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spill_bytes" -> spill.toDouble,
    "peak_exec_mem_mb" -> peakExecMem / 1048576.0)
}

/** Sums Spark's task metrics per job group. The tracer puts every span in
  * its own job group, so each span gets the Spark work it caused. Events
  * arrive on the listener bus thread; `events` lets the reader wait until
  * the bus has gone quiet before it reads. */
final class SparkCounters extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val events = new AtomicLong()

  private def of(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkCounters.JobGroup)))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, group))
    val c = of(group)
    c.synchronized { c.jobs += 1 }
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized { c.stages += 1 }
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = of(stageGroup.getOrDefault(e.stageId, ""))
    if (m != null) c.synchronized {
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
    events.incrementAndGet()
  }

  def get(group: String): Option[Counters] = Option(byGroup.get(group))

  /** Block until no listener event has arrived for `quietMs`. */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (events.get() != last && System.currentTimeMillis() < deadline) {
      last = events.get()
      Thread.sleep(quietMs)
    }
  }
}

object SparkCounters {
  /** The local property Spark keeps a thread's job group in. */
  val JobGroup = "spark.jobGroup.id"
}

/** Records spans around the benchmark's calls into the engine. Off, it
  * only runs the body: no job groups, no listener, no allocation. On, each
  * span runs in its own Spark job group and is kept in memory until the
  * run writes them out. Spans are opened and closed on the driver thread
  * that issues the requests. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val counters: Option[SparkCounters] =
    if (on) { val c = new SparkCounters; sc.addSparkListener(c); Some(c) }
    else None
  private var nextId = 1L
  private var stack: List[Long] = Nil

  def span[T](name: String, layer: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val prevGroup = sc.getLocalProperty(SparkCounters.JobGroup)
      sc.setJobGroup(group(id), name)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "")
        spans += Span(id, name, layer, parent, op, t0, t1)
      }
    }

  def group(id: Long): String = s"bench-span-$id"

  /** Spark counters of one span, its own job group only. */
  def selfCounters(s: Span): Counters =
    counters.flatMap(_.get(group(s.id))).getOrElse(new Counters)

  /** Each layer's self time in ms: its spans' durations minus the part
    * covered by their child spans. Children of one span never overlap,
    * because spans open and close on one thread. */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).view
      .mapValues(_.map(_.ms).sum).toMap
    spans.groupBy(_.layer).view
      .mapValues(_.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }

  private def toJson(s: Span, t0: Long): String = {
    val c = selfCounters(s)
    f"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
      f""""parent":${s.parent},"op":"${s.op}",""" +
      f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
      f""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      f""""task_ms":${c.taskMs},"shuffle_read_bytes":${c.shuffleRead},""" +
      f""""shuffle_write_bytes":${c.shuffleWrite},"spill_bytes":${c.spill},""" +
      f""""peak_exec_mem_bytes":${c.peakExecMem}}"""
  }

  /** Write every span as one JSON line, times relative to the first. */
  def writeSpans(path: String): Unit = {
    counters.foreach(_.drain())
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val w = new java.io.PrintWriter(path)
    try spans.foreach(s => w.println(toJson(s, t0)))
    finally w.close()
  }

  /** Spark counters of the spans named in `names`, grouped by op and
    * summed (peak memory: max), one entry per op. */
  def countersByOp(names: Set[String]): Seq[Counters] = {
    counters.foreach(_.drain())
    spans.filter(s => names(s.name)).groupBy(_.op).values.map { ss =>
      val c = new Counters
      ss.foreach(s => c.add(selfCounters(s)))
      c
    }.toSeq
  }

  def detach(): Unit = counters.foreach(sc.removeSparkListener)

  /** Median duration of the spans called `name`, in ms. */
  def medianMs(name: String): Double =
    Stats.median(spans.iterator.filter(_.name == name).map(_.ms).toSeq)
}

object Tracer {
  /** A tracer that records nothing. */
  val Off = new Tracer(null, on = false)
}

package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One measured run of a body: its value, its wall time (the clock stops
  * when the body returns), the Spark work it scheduled, the stages that
  * work completed and, when asked for, the query execution of every
  * query the body ran, eager checkpoint jobs included, in completion
  * order. */
final case class QueryRun[T](value: T, wallSec: Double,
    counters: QueryRun.Counters, stageInfos: Seq[StageInfo],
    plans: Seq[QueryExecution])

/** The one place graft's mains and specs measure a run.
  *
  * Every job that starts while the body runs is counted, whatever its
  * thread or job group: streaming micro-batches run on their own
  * threads under their own job group, and `runOverlapped` starts pool
  * threads inside the body. The mains run one query at a time, so this
  * window is exact for them.
  *
  * Listener events arrive asynchronously, but in the order they were
  * posted, on one queue shared with the query execution listeners. When
  * the body returns, a marker job is started; once the listener sees it,
  * every event the body posted has been delivered, so the record is
  * complete without a sleep. The marker itself is not counted. */
object QueryRun {

  /** Spark work of one run: jobs, completed stages, ended tasks, task run
    * time, shuffle bytes, spilled bytes (memory and disk), and the peak
    * execution memory of the largest task. */
  final case class Counters(jobs: Int, stages: Int, tasks: Int, taskMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      peakExecMemBytes: Long) {
    /** One JSON object, snake_case keys: `{"jobs":…,"task_ms":…,…}`. */
    def json: String = productElementNames.zip(productIterator).map {
      case (k, v) => s""""${k.replaceAll("([A-Z])", "_$1").toLowerCase}":$v"""
    }.mkString("{", ",", "}")
  }

  /** Warms a new session before its first measured run: one scan,
    * shuffle and codegen, so that run does not pay for them. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()

  /** Local property that marks a run's drain job. */
  private val MarkerKey = "graft.queryRun.marker"
  private val nextMarker = new AtomicLong()

  /** Runs `body` once and records it. `plans` also keeps the query
    * execution of every query the body ran. A body that throws rethrows;
    * either way no listener stays registered. */
  def apply[T](spark: SparkSession, plans: Boolean = false)(
      body: => T): QueryRun[T] = {
    val sc = spark.sparkContext
    val capture = new Capture(nextMarker.incrementAndGet().toString, plans)
    sc.addSparkListener(capture)
    if (plans) spark.listenerManager.register(capture)
    try {
      val t0 = System.nanoTime()
      val value = body
      val wallSec = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(MarkerKey, capture.marker)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      require(capture.drained.await(60, TimeUnit.SECONDS),
        "Spark listener events did not arrive")
      QueryRun(value, wallSec, capture.counters, capture.stageInfos.toSeq,
        capture.executions.toSeq)
    } finally {
      sc.removeSparkListener(capture)
      if (plans) spark.listenerManager.unregister(capture)
    }
  }

  /** Counts from its construction until the marker job starts. Events
    * are handled on the listener bus thread only; the caller reads the
    * fields after `drained`, and nothing changes them after that. */
  private final class Capture(val marker: String, keepPlans: Boolean)
      extends SparkListener with QueryExecutionListener {
    private val from = System.currentTimeMillis()
    private val countedStages = mutable.HashSet.empty[Int]
    private var closed = false
    val drained = new CountDownLatch(1)
    private var jobs, stages, tasks = 0
    private var taskMs, shuffleRead, shuffleWrite, spill, peak = 0L
    val stageInfos = mutable.ArrayBuffer.empty[StageInfo]
    val executions = mutable.ArrayBuffer.empty[QueryExecution]

    def counters: Counters = Counters(jobs, stages, tasks, taskMs,
      shuffleRead, shuffleWrite, spill, peak)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (!closed) {
        if (Option(e.properties).exists(_.getProperty(MarkerKey) == marker)) {
          closed = true
          drained.countDown()
        } else if (e.time >= from) {
          // a job that started before the run is a straggler of earlier
          // work; its stages and tasks stay out too
          jobs += 1
          countedStages ++= e.stageIds
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!closed && countedStages(e.stageInfo.stageId)) {
        stages += 1
        stageInfos += e.stageInfo
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (!closed && countedStages(e.stageId) && m != null) {
        tasks += 1
        taskMs += m.executorRunTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        peak = math.max(peak, m.peakExecutionMemory)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (keepPlans && !closed) executions += qe

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }
}

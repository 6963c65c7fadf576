package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Profiling and plan-capture main (a tool, not a declared query):
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sfDir> PROF_QUERIES=<q,...> PROF_RUNS=<n> \
  *   PROF_EXPLAIN=<dir> sbt "runMain graft.Prof"
  * }}}
  *
  * Runs each query in PROF_QUERIES (comma-separated; unset, every
  * declared query, sorted) PROF_RUNS times (default 1) and prints one
  * line per run: wall time, its build / optimize / execute split, and
  * the jobs, stages, tasks and task time the run scheduled. Run 1 pays
  * the once-per-dir standing builds, so later runs show the
  * steady-state serve cost. Deep composite plans at small SF are
  * stage-count-bound (~100-200 ms fixed cost per stage: codegen + AQE
  * materialization + scheduling), so locally the stage count, not the
  * task time, is what to optimize. Every stage over 500 ms prints its
  * own `[stage]` line, and every streaming micro-batch a `[stream]`
  * line with its duration attribution and state-operator metrics.
  *
  * PROF_EXPLAIN=<dir>: after a query's runs (standing artifacts built,
  * so the plan is the steady-state serve plan), build and run it once
  * more into a noop sink and write the explain("formatted") of every
  * query execution that run performed, eager checkpoint jobs included,
  * to `<dir>/<name>.txt`. These are the plans that ran: AQE's final
  * plan with its reused exchanges and runtime broadcast demotions, not
  * the initial plan of a DataFrame that never executes. This is the
  * before/after plan-identity channel that `tools/compare_plans.py`
  * diffs.
  *
  * Exits 1 naming every query that failed. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.get("PROF_QUERIES")
      .fold(SparkEntry.queries.keys.toSeq.sorted)(_.split(',').toSeq)
    val runs = sys.env.getOrElse("PROF_RUNS", "1").toInt
    val explainDir = sys.env.get("PROF_EXPLAIN")
    val spark = GraftSession(GraftSession.cpus(32))
    spark.range(1000000).selectExpr("sum(id)").collect()

    // written only by the listener bus thread
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        val m = info.taskMetrics
        stages += 1; tasks += info.numTasks; taskMs += m.executorRunTime
        val ms = (for (a <- info.completionTime; b <- info.submissionTime)
          yield a - b).getOrElse(0L)
        if (ms > 500)
          println(f"[stage] ${ms}%6dms tasks=${info.numTasks}%3d " +
            f"run=${m.executorRunTime}%dms cpu=${m.executorCpuTime / 1000000}%dms " +
            f"deser=${m.executorDeserializeTime}%dms " +
            info.name.take(80) + " | rdds: " +
            info.rddInfos.map(r => s"${r.name}@${r.scope.map(_.name).getOrElse("?")}")
              .mkString(", ").take(300))
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        val st = p.stateOperators.map(so =>
          s"(rows=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
          s"commitMs=${so.allUpdatesTimeMs + so.allRemovalsTimeMs + so.commitTimeMs} " +
          s"mem=${so.memoryUsedBytes})").mkString(" ")
        println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durMs{$dur} state$st")
      }
    })

    def run(name: String, i: Int): Unit = {
      val (j0, s0, k0, ms0) = (jobs, stages, tasks, taskMs)
      val t0 = System.nanoTime
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime
      df.queryExecution.executedPlan // force analysis + optimization
      val t2 = System.nanoTime
      val rows = df.count()
      val t3 = System.nanoTime
      Thread.sleep(100) // listener events arrive asynchronously
      def ms(a: Long, b: Long) = (b - a) / 1e6
      println(f"[prof] $name%-28s run$i ${(t3 - t0) / 1e9}%6.2fs " +
        f"build=${ms(t0, t1)}%8.1fms optimize=${ms(t1, t2)}%8.1fms " +
        f"exec=${ms(t2, t3)}%8.1fms rows=$rows%6d jobs=${jobs - j0} " +
        f"stages=${stages - s0} tasks=${tasks - k0} " +
        f"taskTime=${(taskMs - ms0) / 1e3}%.2fs")
    }

    /** The formatted executed plan of every query execution that one
      * build and noop-sink run of `name` performs, in completion order.
      * Listener events arrive asynchronously but in order, so a
      * trailing marker query bounds the wait. */
    def executedPlans(name: String): Seq[String] = {
      val captured = ArrayBuffer.empty[QueryExecution]
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          captured.synchronized { captured += qe }
        override def onFailure(f: String, qe: QueryExecution,
                               e: Exception): Unit = ()
      }
      val marker = "prof_explain_marker"
      def isMarker(qe: QueryExecution) =
        qe.analyzed.output.exists(_.name == marker)
      def seen() = captured.synchronized { captured.toSeq }
      spark.listenerManager.register(listener)
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        spark.range(1).select(lit(marker).as(marker)).collect()
        val deadline = System.nanoTime() + 30_000_000_000L
        while (!seen().exists(isMarker) && System.nanoTime() < deadline)
          Thread.sleep(50)
        require(seen().exists(isMarker), "query listener events did not arrive")
      } finally spark.listenerManager.unregister(listener)
      seen().filterNot(isMarker).map(_.explainString(FormattedMode))
    }

    explainDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val failed = names.filterNot { name =>
      try {
        for (i <- 1 to runs) run(name, i)
        explainDir.foreach { d =>
          val plans = executedPlans(name).zipWithIndex.map { case (p, i) =>
            s"==== execution ${i + 1} ====\n$p"
          }
          Files.write(Paths.get(d, s"$name.txt"),
            plans.mkString("\n").getBytes(StandardCharsets.UTF_8))
        }
        true
      } catch { case e: Throwable =>
        println(s"[prof] $name FAILED: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[prof] ${failed.size} failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}

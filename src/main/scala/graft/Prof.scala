package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

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
  * the `QueryRun` counters of the run (jobs, stages, tasks, task time,
  * shuffle read / write, spill, largest task's peak memory). Run 1 pays
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
    QueryRun.warmUp(spark)
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
      val r = QueryRun(spark) {
        val t0 = System.nanoTime
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime
        df.queryExecution.executedPlan // force analysis + optimization
        val t2 = System.nanoTime
        (df.count(), (t1 - t0) / 1e6, (t2 - t1) / 1e6)
      }
      val (rows, buildMs, optimizeMs) = r.value
      for (info <- r.stageInfos; a <- info.completionTime;
           b <- info.submissionTime if a - b > 500) {
        val m = info.taskMetrics
        println(f"[stage] ${a - b}%6dms tasks=${info.numTasks}%3d " +
          f"run=${m.executorRunTime}%dms cpu=${m.executorCpuTime / 1000000}%dms " +
          f"deser=${m.executorDeserializeTime}%dms " +
          info.name.take(80) + " | rdds: " +
          info.rddInfos.map(r => s"${r.name}@${r.scope.map(_.name).getOrElse("?")}")
            .mkString(", ").take(300))
      }
      val c = r.counters
      println(f"[prof] $name%-28s run$i ${r.wallSec}%6.2fs " +
        f"build=$buildMs%8.1fms optimize=$optimizeMs%8.1fms " +
        f"exec=${r.wallSec * 1e3 - buildMs - optimizeMs}%8.1fms " +
        f"rows=$rows%6d jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} " +
        f"taskTime=${c.taskMs / 1e3}%.2fs shuffleRead=${c.shuffleReadBytes}B " +
        f"shuffleWrite=${c.shuffleWriteBytes}B spill=${c.spillBytes}B " +
        f"peakMem=${c.peakExecMemBytes}B")
    }

    explainDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val failed = names.filterNot { name =>
      try {
        for (i <- 1 to runs) run(name, i)
        explainDir.foreach { d =>
          val plans = QueryRun(spark, plans = true) {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
          }.plans.zipWithIndex.map { case (qe, i) =>
            s"==== execution ${i + 1} ====\n${qe.explainString(FormattedMode)}"
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

package graft

import org.apache.spark.sql.SparkSession

/** Plan-capture main (a tool, not a declared query): runs each
  * named query once (so standing artifacts are built and the captured
  * plan is the steady-state serve plan), then writes its
  * explain("formatted") to <outDir>/<name><suffix>.txt — the
  * before/after plan-identity channel that `tools/compare_plans.py`
  * diffs. EXPLAIN_QUERIES (comma-separated) narrows the set; unset,
  * every declared query is dumped. Exits 1 naming every query that
  * failed. */
object ExplainTool {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("EXPLAIN_OUT", "/tmp/plans")
    val suffix = sys.env.getOrElse("EXPLAIN_SUFFIX", "")
    val names = sys.env.get("EXPLAIN_QUERIES")
      .fold(SparkEntry.queries.keys.toSeq.sorted)(_.split(',').toSeq)
    // same parallelism contract as Bench/Verify/ColdStart so captured
    // plans match the parallelism of the runs they are evidence for
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val failed = names.filterNot { name =>
      try {
        val fn = SparkEntry.queries(name)
        fn(spark, sfDir).count() // build standing artifacts
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[explain] wrote $name$suffix")
        true
      } catch { case e: Throwable =>
        println(s"[explain] $name FAILED: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explain] ${failed.size} failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}

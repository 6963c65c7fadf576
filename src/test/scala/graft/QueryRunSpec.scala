package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.col

class QueryRunSpec extends SparkSpec {

  /** An action that runs exactly one job of one two-task stage. */
  private def oneJob(): Long =
    spark.sparkContext.parallelize(1 to 100, 2).count()

  /** The QueryRun listeners registered on the session right now. */
  private def queryRunListeners(): Seq[AnyRef] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val sparkListeners = bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
    val lm = spark.listenerManager
    val queryListeners = lm.getClass.getMethod("listListeners").invoke(lm)
      .asInstanceOf[Array[AnyRef]].toSeq
    (sparkListeners ++ queryListeners)
      .filter(_.getClass.getName.startsWith("graft.QueryRun"))
  }

  test("a one-shuffle query reports its stages and shuffle bytes") {
    val r = QueryRun(spark) {
      spark.range(0, 10000, 1, 4).groupBy(col("id") % 10).count().collect()
    }
    assert(r.value.length == 10)
    assert(r.wallSec > 0)
    val c = r.counters
    assert(c.jobs >= 1 && c.stages >= 2 && c.tasks >= 2, c)
    assert(c.shuffleReadBytes > 0 && c.shuffleWriteBytes > 0, c)
    assert(c.taskMs >= 0 && c.peakExecMemBytes >= 0, c)
    assert(r.stageInfos.size == c.stages)
  }

  test("jobs from a thread started inside the body are counted") {
    val direct = QueryRun(spark)(oneJob()).counters
    val threaded = QueryRun(spark) {
      val t = new Thread(() => {
        // its own job group, as a streaming query thread sets
        spark.sparkContext.setJobGroup("other-group", "pool thread")
        oneJob()
      })
      t.start(); t.join()
    }.counters
    assert(direct.jobs == 1 && threaded == direct.copy(
      taskMs = threaded.taskMs, peakExecMemBytes = threaded.peakExecMemBytes),
      s"$direct vs $threaded")
  }

  test("a streaming micro-batch's jobs are counted") {
    val in = java.nio.file.Files.createTempDirectory("qr-in").toString + "/in"
    val ck = java.nio.file.Files.createTempDirectory("qr-ck").toString
    spark.range(20).toDF("id").coalesce(1).write.parquet(in)
    val r = QueryRun(spark) {
      val q = spark.readStream.schema("id LONG").parquet(in)
        .groupBy((col("id") % 3).as("k")).count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("query_run_stream").option("checkpointLocation", ck)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(r.counters.jobs >= 1 && r.counters.tasks >= 1, r.counters)
    assert(spark.table("query_run_stream").count() == 3)
  }

  test("the drain marker is not counted and consecutive runs share " +
      "no counts") {
    val runs = Seq.fill(3)(QueryRun(spark)(oneJob()).counters)
    runs.foreach { c =>
      assert(c.jobs == 1 && c.stages == 1 && c.tasks == 2, runs)
    }
    assert(QueryRun(spark)(()).counters.jobs == 0)
  }

  test("a body that throws rethrows and leaves no listener registered") {
    assert(queryRunListeners().isEmpty)
    val e = intercept[IllegalStateException] {
      QueryRun(spark, plans = true) {
        oneJob()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(queryRunListeners().isEmpty)
    QueryRun(spark, plans = true)(oneJob())
    assert(queryRunListeners().isEmpty)
  }

  test("the plans include an eager localCheckpoint job") {
    val r = QueryRun(spark, plans = true) {
      spark.range(100).filter(col("id") % 7 === 0).localCheckpoint()
        .selectExpr("sum(id)").collect()
    }
    val plans = r.plans.map(_.executedPlan.toString)
    assert(plans.size == 2, plans.mkString("\n----\n"))
    assert(plans.exists(_.contains("Filter")), plans.mkString("\n----\n"))
    assert(QueryRun(spark)(oneJob()).plans.isEmpty)
  }

  test("the plans leave out a query that ended before the run while its " +
      "events were still queued") {
    // a listener slow on the earlier query's job start holds that query's
    // execution-end event in the queue until after the run has begun
    val sc = spark.sparkContext
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart)
          : Unit = if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == "queryrun-slow"))
          Thread.sleep(1500)
    }
    sc.addSparkListener(slow)
    try {
      sc.setJobGroup("queryrun-slow", "an earlier query")
      try spark.range(10).selectExpr("sum(id) AS earlier").collect()
      finally sc.clearJobGroup()
      val r = QueryRun(spark, plans = true)(
        spark.range(10).selectExpr("sum(id) AS body").collect())
      val plans = r.plans.map(_.analyzed.toString)
      assert(plans.size == 1 && plans.head.contains("body"),
        plans.mkString("\n----\n"))
    } finally sc.removeSparkListener(slow)
  }

  test("Bench's digest fits 1800 chars, parses as JSON and counts the " +
      "omitted rows") {
    val names = (1 to 305).map(i => f"q$i%03d_" + "x" * 35)
    assert(names.forall(_.length == 40))
    val rows = names.zipWithIndex.map { case (n, i) => n -> (i * 0.37) }
    val head = "\"metric\":\"total\",\"value\":12.34,\"unit\":\"sec\"," +
      "\"cal_sha2_series\":" + Seq.fill(32)("1.40").mkString("[", ",", "]")
    for (failed <- Seq(Nil, names.take(3), names)) {
      val line = Bench.digest(head, rows, failed)
      assert(line.length <= 1800, line.length)
      val json = new ObjectMapper().readTree(line)
      Seq("metric", "value", "unit", "queries").foreach(k =>
        assert(json.has(k), k))
      val kept = json.get("queries").fieldNames().asScala.toSeq
      assert(json.get("queries_omitted").asInt() == 305 - kept.size)
      assert(json.get("n_failed").asInt() == failed.size)
      // the kept rows are the slowest ones, slowest first
      assert(kept == rows.sortBy(-_._2).map(_._1).take(kept.size))
    }
    assert(new ObjectMapper().readTree(Bench.digest(head, rows, Nil))
      .get("queries").size() > 0)
  }
}

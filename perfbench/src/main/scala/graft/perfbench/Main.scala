package graft.perfbench

import java.io.{File, PrintWriter}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * builds this program and launches it; see perfbench/README.md.
  *
  * Arguments: --workload search|ingest|curate --input DIR --work DIR
  * --seconds N --trace 0|1 --launched-at-us EPOCH_MICROS
  *
  * Writes DIR/result.json (the metrics), DIR/spans.jsonl and
  * DIR/trace_summary.json (traced runs) and prints a report. */
object Main {

  /** End-to-end metrics: every workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "live_heap_mb" -> "MB", "op_p50_ms" -> "ms",
    "items_per_s" -> "1/s")

  /** Per-layer metrics of a traced run; a layer the workload does not
    * reach reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "setup.jvm_s" -> "s", "setup.session_s" -> "s", "setup.load_s" -> "s",
    "setup.warmup_s" -> "s",
    "search.build_collection_s" -> "s", "bm25.build_index_s" -> "s",
    "search.plan_ms" -> "ms", "search.exec_ms" -> "ms",
    "search.dense_leg_ms" -> "ms", "search.sparse_leg_ms" -> "ms",
    "rrf.fuse_ms" -> "ms",
    "streaming.merge_ms" -> "ms", "streaming.process_ratio" -> "ratio",
    "chunking.chunk_embed_ms" -> "ms", "search.swap_write_ms" -> "ms",
    "search.bytes_written_per_doc" -> "B", "bm25.rebuild_ms" -> "ms",
    "search.probe_ms" -> "ms",
    "dedup.exact_ms" -> "ms", "dedup.minhash_ms" -> "ms",
    "dedup.minhash_yield" -> "ratio", "knn.ivf_fit_ms" -> "ms",
    "dedup.semantic_ms" -> "ms", "dedup.semantic_yield" -> "ratio",
    "quality.filter_ms" -> "ms", "dedup.decontam_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.peak_exec_mem_mb" -> "MB",
    "trace.overhead_p50_ms" -> "ms", "trace.overhead_items_per_s" -> "1/s")

  /** Names of the spans whose Spark work counts toward one operation. */
  val OpSpans: Map[String, Set[String]] = Map(
    "search" -> Set("search.plan", "search.exec"),
    "ingest" -> Set("streaming.merge", "chunking.chunk_embed",
      "search.swap_write", "bm25.rebuild", "search.probe"),
    "curate" -> Set("dedup.exact", "dedup.minhash", "knn.ivf_fit",
      "dedup.semantic", "quality.filter", "dedup.decontam"))

  def main(args: Array[String]): Unit = {
    val mainUs = epochMicros()
    val mainNs = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = opt("workload")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val jvmS = (mainUs - opt("launched-at-us").toLong) / 1e6

    val laps = collection.mutable.LinkedHashMap("jvm" -> jvmS)
    def lap[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try body finally laps(name) = (System.nanoTime() - t) / 1e9
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = lap("session") {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"graft-bench-$workload")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.sparkContext.setCheckpointDir(s"$work/checkpoints")
      s
    }

    val report = ArrayBuffer.empty[String]
    val w: Workload = workload match {
      case "search" => new SearchWorkload(spark, opt("input"), work, report)
      case "ingest" => new IngestWorkload(spark, opt("input"), work, report)
      case "curate" =>
        val c = new CurateWorkload(spark, opt("input"), work, report)
        lap("prepare")(c.prepare())
        c
      case other => sys.error(s"unknown workload: $other")
    }

    // One cold set-up, timed from JVM launch until the workload is ready
    // to time; writing curate's parquet copies is input generation and
    // stays out.
    val setupParts = lap("setup")(w.setup())
    lap("warm")(w.warm())
    val setupS = jvmS + (System.nanoTime() - mainNs) / 1e9 -
      laps.getOrElse("prepare", 0.0)

    var attempted, failed = 0
    def counted(p: Phase): Phase = {
      attempted += p.attempted
      failed += p.failed
      p
    }
    val layer = collection.mutable.LinkedHashMap.empty[String, Double]
    var live = Double.NaN
    val timed =
      if (!traced) {
        val p = counted(lap("phase")(w.phase(Tracer.Off, seconds)))
        live = liveHeapMb()
        p
      } else {
        // the traced phase takes the untraced phase's place, so its layer
        // split describes the operations the end-to-end metrics time
        val tr = new Tracer(spark.sparkContext, on = true)
        val p = counted(lap("traced")(w.phase(tr, seconds)))
        PerLayer.foreach { case (k, _) => layer(k) = 0.0 }
        layer ++= setupParts
        layer ++= Seq("setup.jvm_s" -> jvmS, "setup.session_s" -> laps("session"),
          "setup.warmup_s" -> laps("warm"))
        layer ++= w.layerMetrics(tr)
        val ops = tr.countersByOp(OpSpans(workload))
        if (ops.nonEmpty) new Counters().metrics.keys.foreach { k =>
          val per = ops.map(_.metrics(k))
          layer(s"spark.$k") =
            if (k == "peak_exec_mem_mb") Stats.median(per) else per.sum / per.size
        }
        tr.writeSpans(s"$work/spans.jsonl")
        tr.detach()
        report += "self time by layer, ms per traced operation:"
        val nOps = math.max(1, ops.size)
        tr.selfMsByLayer.toSeq.sortBy(-_._2).foreach { case (l, ms) =>
          report += f"  $l%-14s ${ms / nOps}%10.2f"
        }
        // the tracing overhead: four more phases of one unit each (a request
        // block, a batch or a pass), run untraced, traced, traced, untraced
        // so that a steady drift in JIT warmth or collection size cancels;
        // each metric is the traced phases' mean minus the untraced ones'
        val runs = Seq(false, true, true, false).zipWithIndex.map { case (on, i) =>
          val t = if (on) new Tracer(spark.sparkContext, on = true) else Tracer.Off
          val m = endToEnd(counted(lap(s"overhead$i")(w.phase(t, w.unitSeconds))))
          t.detach()
          on -> m
        }
        Seq("op_p50_ms" -> "trace.overhead_p50_ms",
          "items_per_s" -> "trace.overhead_items_per_s").foreach { case (k, name) =>
          def mean(on: Boolean) = {
            val vs = runs.collect { case (`on`, m) => m(k) }
            vs.sum / vs.size
          }
          layer(name) = mean(true) - mean(false)
        }
        writeSummary(s"$work/trace_summary.json", tr, layer)
        p
      }
    failed += lap("checks")(w.verify())

    val rss = peakRssMb()
    val opsLog = new PrintWriter(new File(s"$work/ops.txt"))
    try timed.labels.zip(timed.latMs).foreach { case (l, ms) =>
      opsLog.println(f"$ms%10.1f ms  $l") }
    finally opsLog.close()
    val metrics =
      if (traced) layer.toSeq.map { case (k, v) =>
        k -> (if (v.isNaN) 0.0 else v) }
      else (endToEnd(timed) ++ Seq("setup_s" -> setupS,
        "live_heap_mb" -> live)).toSeq
    val units = (EndToEnd ++ PerLayer).toMap
    val ordered = (if (traced) PerLayer else EndToEnd)
      .map { case (k, _) => k -> metrics.toMap.getOrElse(k, 0.0) }

    println("seconds spent: " +
      laps.map { case (k, v) => f"$k $v%.1f" }.mkString(", "))
    println(s"workload $workload: ${timed.latMs.size} timed operations")
    w.facts.foreach { case (k, v) => println(s"input $k = $v") }
    report.foreach(println)
    println(f"memory: peak RSS $rss%.1f MB" +
      (if (traced) "" else f", live heap after GC $live%.1f MB"))
    println(f"fail_frac = ${failed.toDouble / math.max(1, attempted)}%.4f " +
      s"($failed of $attempted operations)")
    ordered.foreach { case (k, v) => println(s"metric $k = $v ${units(k)}") }
    if (!traced) {
      val e2e = endToEnd(timed)
      val (tq, tms) = Stats.tail(timed.latMs)
      val tail = f"$tms%.1f ms (p${100 * tq}%.1f of ${timed.latMs.size} " +
        "operations; a gated p95 would need 200)"
      val named = workload match {
        case "search" => Seq(s"search_p50_ms = ${e2e("op_p50_ms")} ms",
          s"search_tail_ms = $tail", s"search_qps = ${e2e("items_per_s")} req/s")
        case "ingest" => Seq(s"fresh_p50_ms = ${e2e("op_p50_ms")} ms",
          s"fresh_tail_ms = $tail",
          s"ingest_docs_per_s = ${e2e("items_per_s")} docs/s")
        case _ => Seq(s"curate_docs_per_s = ${e2e("items_per_s")} docs/s")
      }
      (named :+ f"peak_rss_mb = $rss%.1f MB" :+
        f"fail_frac = ${failed.toDouble / math.max(1, attempted)}%.4f ratio")
        .foreach(l => println(s"as named for $workload: $l"))
    }

    val body = ordered.map { case (k, v) =>
      s""""$k":{"value":${num(v)},"unit":"${units(k)}"}""" }.mkString(",")
    val pw = new PrintWriter(new File(s"$work/result.json"))
    try pw.println(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$body}}""")
    finally pw.close()
    spark.stop()
  }

  private def endToEnd(p: Phase): Map[String, Double] = Map(
    "op_p50_ms" -> Stats.median(p.latMs),
    "items_per_s" -> p.itemsPerS)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def epochMicros(): Long = {
    val now = Instant.now()
    now.getEpochSecond * 1000000L + now.getNano / 1000
  }

  /** Heap still in use after full collections, in MB, read right after
    * the timed phase, before the output checks allocate. The pause lets
    * Spark's ContextCleaner drop the blocks of the first collection's
    * unreachable broadcasts and shuffles before the final count. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    (1 to 2).foreach(_ => System.gc())
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def writeSummary(path: String, tr: Tracer,
      layer: collection.Map[String, Double]): Unit = {
    val self = tr.selfMsByLayer.map { case (l, ms) => s""""$l":${num(ms)}""" }
    val metrics = layer.map { case (k, v) => s""""$k":${num(v)}""" }
    val pw = new PrintWriter(new File(path))
    try pw.println(s"""{"self_ms_by_layer":{${self.mkString(",")}},""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
    finally pw.close()
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Bm25
import graft.plugins.Providers
import graft.search.SearchEngine
import graft.streaming.Sync

/** T3: incremental BM25 stats == batch recompute; HyDE plumbing;
  * streaming window aggregation (the q11 shape under a real stream). */
class StreamingStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix)

  test("incremental BM25 stats merge equals batch recompute (T3)") {
    val batch1 = Seq((1L, "apple banana apple"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    val batch2 = Seq((3L, "cherry durian"), (4L, "")).toDF("doc_id", "text")
    val all = batch1.unionByName(batch2)

    var (term, global) = Sync.emptyBm25State(spark)
    for (b <- Seq(batch1, batch2)) {
      val (t2, g2) = Sync.mergeBm25Stats(term, global, b, "doc_id", "text")
      term = t2.cache(); global = g2.cache()
      term.count(); global.count()
    }
    val incTerm = term.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val incGlobal = global.head()

    val batchStats = Bm25.corpusStats(all, "doc_id", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(incTerm == batchStats.view.mapValues(_._1).toMap)
    assert(incGlobal.getLong(0) == 4L) // N includes the empty doc
    val batchLens = Bm25.docLengths(all, "doc_id", "text")
      .agg(sum("doc_len")).head().getLong(0)
    assert(incGlobal.getLong(1) == batchLens)
  }

  test("merge-out is the exact inverse: remove(merge(S,B),B) = S, " +
      "df=0 vocabulary rows drop, and removing EVERYTHING returns to " +
      "the empty state (T3 remove — ref bm25_sparse_indexer " +
      "remove_documents)") {
    val standing = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry durian"), (4L, "")).toDF("doc_id", "text")
    val leaving = standing.filter(col("doc_id") >= 3L)
    var st = Sync.emptyBm25State(spark)
    st = Sync.mergeBm25Stats(st._1, st._2, standing, "doc_id", "text")
    val after = Sync.removeBm25Stats(st._1, st._2, leaving,
      "doc_id", "text")
    val gotTerm = after._1.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = Bm25.corpusStats(standing.filter(col("doc_id") < 3L),
        "doc_id", "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotTerm == expect, "survivor stats must equal the recompute")
    assert(!gotTerm.contains("durian"), "df=0 row must drop")
    val g = after._2.head()
    assert(g.getLong(0) == 2L && g.getLong(1) == 5L)
    // removing the survivors too lands exactly on the empty state
    val zero = Sync.removeBm25Stats(after._1, after._2,
      standing.filter(col("doc_id") < 3L), "doc_id", "text")
    assert(zero._1.count() == 0L)
    val zg = zero._2.head()
    assert(zg.getLong(0) == 0L && zg.getLong(1) == 0L)
  }

  test("indexFromParts over maintained postings+stats scores " +
      "bit-identically to a full buildIndex over the same corpus") {
    val base = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry durian apple"), (4L, "durian fig"))
      .toDF("doc_id", "text")
    // departure: doc 2; arrival: doc 5 — maintain parts incrementally
    val leaving = base.filter(col("doc_id") === 2L)
    val arriving = Seq((5L, "fig apple cherry")).toDF("doc_id", "text")
    val survivors = base.filter(col("doc_id") =!= 2L)
      .unionByName(arriving)
    var st = Sync.emptyBm25State(spark)
    st = Sync.mergeBm25Stats(st._1, st._2, base, "doc_id", "text")
    st = Sync.removeBm25Stats(st._1, st._2, leaving, "doc_id", "text")
    st = Sync.mergeBm25Stats(st._1, st._2, arriving, "doc_id", "text")
    val posts = Bm25.postings(base, "doc_id", "text")
      .filter(col("id") =!= 2L)
      .unionByName(Bm25.postings(arriving, "doc_id", "text"))
    val maintained = Bm25.indexFromParts(posts, st._1, st._2)
    val rebuilt = Bm25.buildIndex(survivors, "doc_id", "text")
    def w(ix: Bm25.Index) = ix.docWeights
      .select("id", "term", "tf", "weight").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(w(maintained) == w(rebuilt), "doc weights must be bit-equal")
    def s(ix: Bm25.Index) = ix.stats
      .select("term", "df", "idf").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(s(maintained) == s(rebuilt), "stats must be bit-equal")
  }

  test("T3 runs inside a REAL stream: per-micro-batch merges converge " +
      "to the batch recompute") {
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry durian"), (4L, "apple")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("t3s")
    val in = tmp.resolve("in").toString
    for (b <- 0 until 2)
      docs.filter(col("doc_id") % 2 === b)
        .coalesce(1).write.mode("append").parquet(in)
    var state = Sync.emptyBm25State(spark)
    var batches = 0
    Sync.fileStreamForeachBatch(spark, in, docs.schema,
        tmp.resolve("ck").toString,
        onBatch = (batch, _) => {
          val (t2, g2) = Sync.mergeBm25Stats(state._1, state._2, batch,
            "doc_id", "text")
          state = (t2.localCheckpoint(), g2.localCheckpoint())
          batches += 1
        },
        maxFilesPerTrigger = 1)
      .awaitTermination()
    assert(batches === 2, "one micro-batch per staged file")
    val incTerm = state._1.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchStats = Bm25.corpusStats(docs, "doc_id", "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(incTerm === batchStats)
    assert(state._2.head().getLong(0) === 4L)
  }

  test("HyDE expander rewrites only the dense query, with fallback") {
    val req = SearchEngine.SearchRequest(query = "spark tuning")
    val expanded = SearchEngine.withHyde(req, Providers.MockHyde())
    assert(expanded.query == "spark tuning") // sparse leg unchanged
    assert(expanded.denseQuery.get.contains("Hypothetical"))
    // failure -> unchanged request (fallback with warning semantics)
    val failed = SearchEngine.withHyde(
      SearchEngine.SearchRequest(query = ""), Providers.MockHyde())
    assert(failed.denseQuery.isEmpty)
  }

  test("streaming exact-dedup keeps per-hash state across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("dd").toString + "/in"
    val ck = java.nio.file.Files.createTempDirectory("dk").toString + "/ck"
    val b1 = Seq((1L, "same content"), (2L, "unique one"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "same content"), (4L, "another unique"))
      .toDF("doc_id", "text")
    b1.coalesce(1).write.parquet(dir)
    b2.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch
      .parquet(dir)
    val out = Sync.streamingDedup(stream, "doc_id", "text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedupstream")
      .option("checkpointLocation", ck).start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT doc_id FROM dedupstream")
      .collect().map(_.getString(0).toLong).toSet
    // "same content" appears in both batches: exactly ONE of docs 1/3
    // survives (whichever batch ran first); uniques always survive
    assert(got.size == 3)
    assert(got.contains(2L) && got.contains(4L))
    assert(got.contains(1L) ^ got.contains(3L))
    // bounded (batch) mode degrades to min-id-per-hash in one pass
    val batchGot = Sync.streamingDedup(b1.unionByName(b2), "doc_id", "text")
      .collect().map(_.getString(0).toLong).toSet
    assert(batchGot == Set(1L, 2L, 4L))
  }

  test("windowedEventAgg: append mode finalizes windows and drops late events") {
    val dir = java.nio.file.Files.createTempDirectory("wm").toString + "/in"
    val ck = java.nio.file.Files.createTempDirectory("wk").toString + "/ck"
    // The file source orders micro-batches by file mod time; stamp each
    // batch's files with an explicit, strictly-increasing mtime instead
    // of sleeping past the filesystem's timestamp granularity (sleeps
    // were flaky: coarse-mtime filesystems or load could coalesce or
    // reorder batches).
    var stamp = 1600000000000L // fixed epoch base, ms
    val stamped = scala.collection.mutable.Set.empty[java.nio.file.Path]
    def write(rows: Seq[(Long, Long, String)], mode: String): Unit = {
      rows.toDF("event_id", "mins", "event_type")
        .coalesce(1).write.mode(mode).parquet(dir)
      stamp += 60000
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try listing.iterator().forEachRemaining { p =>
        if (p.getFileName.toString.endsWith(".parquet") &&
            !stamped.contains(p)) {
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(stamp))
          stamped += p
        }
      } finally listing.close()
    }
    // batch 1: events in hour 0
    write(Seq((1L, 5L, "click"), (2L, 20L, "click")), "overwrite")
    // batch 2: far-ahead event; the watermark it implies only takes
    // effect in the NEXT batch
    write(Seq((3L, 200L, "view")), "append")
    // batch 3: runs WITH the advanced watermark -> hour 0 finalizes
    // (emits n=2) and its state evicts at this batch's end
    write(Seq((5L, 210L, "view")), "append")
    // batch 4: a LATE hour-0 event, behind the watermark AND after
    // eviction — guaranteed dropped (drop is only guaranteed once the
    // window's state is gone; a still-live window may absorb late rows)
    write(Seq((4L, 30L, "click")), "append")
    val stream = spark.readStream.schema(
        "event_id LONG, mins LONG, event_type STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withColumn("ts_utc", timestamp_seconds(col("mins") * 60))
    val out = Sync.windowedEventAgg(stream, "ts_utc", "event_type")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("wmagg")
      .option("checkpointLocation", ck).start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT event_type, n_events FROM wmagg")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // hour-0 click window finalized at n=2; the late event_id=4 did
    // NOT reopen it; hour-3 view window still open (not emitted)
    assert(got == Seq(("click", 2L)), s"got $got")
  }

  test("tumbling-window aggregation runs under Structured Streaming") {
    val dir = java.nio.file.Files.createTempDirectory("ev").toString + "/in"
    val ck = java.nio.file.Files.createTempDirectory("ck").toString + "/ck"
    val rows = Seq(
      (1L, 0L, "click", 1.0),
      (2L, 10L * 60 * 1000000000L, "click", 2.0), // +10 min
      (3L, 70L * 60 * 1000000000L, "view", 5.0)) // +70 min
      .toDF("event_id", "ts", "event_type", "value")
    rows.write.parquet(dir)
    val stream = spark.readStream.schema(rows.schema).parquet(dir)
      .withColumn("ts_utc", timestamp_micros((col("ts") / 1000).cast("long")))
      .withWatermark("ts_utc", "10 minutes")
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("winagg")
      .option("checkpointLocation", ck).start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT event_type, n, v FROM winagg ORDER BY event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("sessionize: closes on successor, carries state across batches") {
    import spark.implicits._
    // bounded mode: one pass, same rule
    val us = 1000000L
    val ev = Seq(
      (1L, 0L * us), (1L, 60L * us), (1L, 10000L * us), // gap > 1h closes s1
      (1L, 10060L * us),                                 // extends s2 (open)
      (2L, 5L * us)                                      // single open session
    ).toDF("user_id", "ts_us").withColumn("ts", expr("timestamp_micros(ts_us)"))
    val got = graft.streaming.Sync.sessionize(ev, "ts", "user_id",
        gapUs = 3600L * us)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    // only user 1's FIRST session closed (by the 10000s event)
    assert(got === Set((1L, 0L, 60L * us, 2L)))

    // streaming mode: the closing event arrives in a LATER batch
    val dir = java.nio.file.Files.createTempDirectory("sess").toString + "/in"
    val ck = java.nio.file.Files.createTempDirectory("sessck").toString + "/ck"
    Seq((1L, 0L * us), (1L, 60L * us)).toDF("user_id", "ts_us")
      .coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1100) // distinct mtime second is enough for 2 files
    Seq((1L, 10000L * us)).toDF("user_id", "ts_us")
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema("user_id LONG, ts_us LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
    val out = graft.streaming.Sync.sessionize(stream, "ts", "user_id",
      gapUs = 3600L * us)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sessq").option("checkpointLocation", ck).start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.sql(
        "SELECT user_id, session_start_us, session_end_us, n_events FROM sessq")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the batch-2 event closed the batch-1 session held in state
    assert(emitted === Set((1L, 0L, 60L * us, 2L)))
  }

  test("restart from checkpoint resumes keyed state without " +
      "re-emitting (exactly-once across a stop/start)") {
    val root = java.nio.file.Files.createTempDirectory("ckres")
    val in = root.resolve("in").toString
    val ck = root.resolve("ck").toString
    val outDir = root.resolve("out").toString
    def stamp(ms: Long): Unit = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(in))
      try ls.forEach { p =>
        if (java.nio.file.Files.getLastModifiedTime(p).toMillis > ms)
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(ms))
      } finally ls.close()
    }
    val b1 = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    val b2 = Seq((3L, "aa"), (4L, "bb"), (5L, "cc")).toDF("doc_id", "text")
    b1.coalesce(1).write.parquet(in)
    stamp(1600000000000L)
    def start() = Sync.streamingDupReports(
        spark.readStream.schema(b1.schema)
          .option("maxFilesPerTrigger", 1).parquet(in),
        "doc_id", "text")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        batch.coalesce(1).write.mode("append").parquet(outDir)
      }.start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    // batch 1 alone has no duplicates — nothing emitted yet, but the
    // state (aa->1, bb->2) must survive the restart
    b2.coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(outDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    // 3 and 4 are dups of PRE-RESTART state entries; 5 is new. No
    // duplicate emissions from replaying batch 1.
    assert(got == Set(3L -> 1L, 4L -> 2L), s"$got")
  }

  test("keyed state runs on the RocksDB state store provider " +
      "(the bounded-heap store a production stream would use)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = java.nio.file.Files.createTempDirectory("rocks")
      val in = root.resolve("in").toString
      val ck = root.resolve("ck").toString
      val b1 = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("doc_id", "text")
      b1.coalesce(1).write.parquet(in)
      val q = Sync.streamingDupReports(
          spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          "doc_id", "text")
        .writeStream.outputMode("append").format("memory")
        .queryName("rocksdup").option("checkpointLocation", ck).start()
      q.processAllAvailable(); q.stop()
      val got = spark.sql("SELECT doc_id, first_doc_id FROM rocksdup")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(got == Set(3L -> 1L), s"$got")
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  // checkpoint recovery: state is RESTORED, not recomputed, and the
  // file sink stays exactly-once across the restart. The twin test
  // compares against the first test's scenario, so keep them in order.
  test("restart-resume: a post-stop duplicate is attributed to its " +
      "pre-stop canonical (state restored), and the resumed query " +
      "re-emits nothing (exactly-once sink)") {
    val root = tmp("graft-r14-restart")
    val in = root.resolve("in"); val out = root.resolve("out")
    val ck = root.resolve("ck")
    java.nio.file.Files.createDirectories(in)
    // ts = doc_id seconds (the staged-fixture contract). Batch 1 holds
    // the canonical of hash "dup A" at id 10; batch 2 an in-horizon
    // copy at id 30; batch 3 (post-stop) another in-horizon copy at
    // id 55 — attributable to id 10 ONLY if the store survived the
    // restart — and an out-of-horizon copy at id 95 that must
    // silently become the new canonical (not be reported).
    val b1 = Seq((10L, "dup A"), (11L, "unique b1")).toDF("doc_id", "text")
    val b2 = Seq((30L, "dup A"), (31L, "unique b2")).toDF("doc_id", "text")
    val b3 = Seq((55L, "dup A"), (95L, "dup A")).toDF("doc_id", "text")
    var stamp = 1700000000000L
    def stage(df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.mode("append").parquet(in.toString)
      stamp += 60000
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.list(in)) {
        _.iterator().asScala.toSeq
      }.filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(p => java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .lastOption.foreach(p => java.nio.file.Files.setLastModifiedTime(
          p, java.nio.file.attribute.FileTime.fromMillis(stamp)))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
        .withColumn("ts_utc", timestamp_micros(col("doc_id") * 1000000L))
        .withWatermark("ts_utc", "10 seconds")
      val o = Sync.streamingDupReportsTtl(stream, "doc_id", "text",
        "ts_utc", horizonUs = 50L * 1000000L)
      val q = o.writeStream.outputMode("append").format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ck.toString).start()
      q.processAllAvailable(); q.stop()
    }
    stage(b1); stage(b2)
    runOnce()
    val afterStop = spark.read.parquet(out.toString)
      .as[(Long, Long)].collect().toSet
    assert(afterStop == Set((30L, 10L)),
      s"pre-stop emissions wrong: $afterStop")
    stage(b3)
    runOnce() // NEW query, SAME checkpoint
    val finalRows = spark.read.parquet(out.toString)
      .as[(Long, Long)].collect().toList
    // exactly-once: (30,10) appears ONCE; state restored: (55,10) is
    // attributed across the restart (55−10 = 45 ≤ 50). The chain
    // rule's canonical only advances on an OUT-of-horizon arrival, so
    // 55 stays a dup of 10, and 95 (95−10 = 85 > 50) silently becomes
    // the new canonical — unreported.
    assert(finalRows.sorted == List((30L, 10L), (55L, 10L)),
      s"resumed emissions wrong: $finalRows")
  }

  test("restart-resume twin: resumed final table equals the " +
      "uninterrupted single-run table on the same batches") {
    // single uninterrupted run over the same three batches
    val root = tmp("graft-r14-single")
    val in = root.resolve("in"); val out = root.resolve("out")
    val ck = root.resolve("ck")
    java.nio.file.Files.createDirectories(in)
    val all = Seq(
      Seq((10L, "dup A"), (11L, "unique b1")),
      Seq((30L, "dup A"), (31L, "unique b2")),
      Seq((55L, "dup A"), (95L, "dup A")))
    var stamp = 1700000000000L
    all.foreach { rows =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.toString)
      stamp += 60000
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.list(in)) {
        _.iterator().asScala.toSeq
      }.filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(p => java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .lastOption.foreach(p => java.nio.file.Files.setLastModifiedTime(
          p, java.nio.file.attribute.FileTime.fromMillis(stamp)))
    }
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
      .withColumn("ts_utc", timestamp_micros(col("doc_id") * 1000000L))
      .withWatermark("ts_utc", "10 seconds")
    val o = Sync.streamingDupReportsTtl(stream, "doc_id", "text",
      "ts_utc", horizonUs = 50L * 1000000L)
    val q = o.writeStream.outputMode("append").format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ck.toString).start()
    q.processAllAvailable(); q.stop()
    val single = spark.read.parquet(out.toString)
      .as[(Long, Long)].collect().toList.sorted
    assert(single == List((30L, 10L), (55L, 10L)),
      s"single-run emissions wrong: $single")
    // == the resumed run's final set from the previous test's scenario
  }
}

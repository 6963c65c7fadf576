package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Bm25, Knn, TextAnalysis}
import graft.streaming.Sync

import Fixtures._
import OracleSql._
import Oracle._

/** Structured Streaming: continuous sync, windowed and sketch
  * aggregation, sessionization, failure policy, incremental BM25 stats,
  * streaming dedup, stream joins, checkpoint recovery and streamed
  * index maintenance. */
object StreamingQueries {
  /** Three ts-ordered event micro-batch files for the streaming window
    * query, staged ONCE per sf dir with explicit strictly-increasing
    * mtimes (the StreamingStatsSpec discipline — wall-clock mtimes can
    * coalesce under coarse filesystem timestamps, making batch order
    * nondeterministic). */
  private def stagedEventBatches(s: SparkSession, dir: String): String =
    StandingArtifacts(s, dir, "stagedEventBatches") {
      val ev = eventsWithTsUtc(s, dir)
      val t1 = lit("2024-01-11").cast("timestamp")
      val t2 = lit("2024-01-21").cast("timestamp")
      val sel = ev.select(col("ts_utc"), col("event_type"), col("user_id"))
      stageOrderedBatches("graft-swin", Seq(
        sel.filter(col("ts_utc") < t1),
        sel.filter(col("ts_utc") >= t1 && col("ts_utc") < t2),
        sel.filter(col("ts_utc") >= t2)))
    }

  /** Write each part as ONE parquet file under `<tmp>/in` with
    * explicit strictly-increasing mtimes, so the file stream source's
    * mod-time ordering replays the parts as deterministic micro-
    * batches (wall-clock mtimes can coalesce under coarse filesystem
    * timestamps — the StreamingStatsSpec discipline). Shared by every
    * staged micro-batch fixture. */
  private def stageOrderedBatches(prefix: String,
      parts: Seq[DataFrame]): String = {
    val in = tempDirCleanedOnExit(prefix).resolve("in").toString
    var stamp = 1600000000000L
    val stamped = scala.collection.mutable.Set.empty[java.nio.file.Path]
    parts.foreach { part =>
      part.coalesce(1).write.mode("append").parquet(in)
      stamp += 60000
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(in))
      try ls.iterator().forEachRemaining { p =>
        if (p.getFileName.toString.endsWith(".parquet") &&
            !stamped.contains(p)) {
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(stamp))
          stamped += p
        }
      } finally ls.close()
    }
    in
  }

  /** Three id-ordered document micro-batch files for the streaming
    * dedup query — the [[stagedEventBatches]] discipline (explicit
    * strictly-increasing mtimes) applied to the documents table, split
    * on doc_id thirds so duplicates land both within and across
    * batches. */
  private def stagedDocBatches(s: SparkSession, dir: String): String =
    StandingArtifacts(s, dir, "stagedDocBatches") {
      // every 7th doc collapses to one of three canned texts: the raw
      // synthetic corpus has NO exact duplicates below sf0.1, which
      // would make the streaming-dedup oracle an empty-result check;
      // the injection is deterministic and replayed by the oracle SQL
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("duplicated corpus text "), col("doc_id") % 3))
          .otherwise(col("text")).as("text"))
      val n = docs.agg(max("doc_id")).collect()(0).getLong(0)
      stageOrderedBatches("graft-sdedup", Seq(
        docs.filter(col("doc_id") < n / 3),
        docs.filter(col("doc_id") >= n / 3 && col("doc_id") < 2 * n / 3),
        docs.filter(col("doc_id") >= 2 * n / 3)))
    }

  /** Per-stream state parallelism (one state store per shuffle
    * partition per stateful operator per micro-batch): a deployment
    * sizes this by state VOLUME; the staged fixtures' state is tiny,
    * so a fixed 4 optimizes store-commit I/O, and it stays a constant
    * (never a function of the host's core count) so a lower-core
    * bench run measures the same stream layout. r14
    * measured 8→4 at −10% on the join rows; the r15 A/B of 4 vs 2 is
    * recorded in OPTIMIZATION_r15.md. */
  private val StreamStateParts = "4"

  /** Run a streaming DataFrame to a memory sink and return the result
    * table: fresh checkpoint, dir-hashed view name, and state-store
    * parallelism scoped to the stream (one store per shuffle partition
    * per micro-batch — 4 balances store-commit I/O against task
    * parallelism for the staged streams' state: a stream-stream join
    * keeps FOUR stores per partition per side, so partitions multiply
    * straight into per-batch file commits; measured 8→4 cut the join
    * queries ~10% with no cost elsewhere. The session value is
    * restored even on failure. The
    * set/restore of session-global shuffle.partitions is safe ONLY
    * because the driver runs queries serially on this session; a
    * concurrent caller would need a cloned session (`s.newSession()`)
    * instead. */
  private def runStreamToTable(s: SparkSession, out: DataFrame,
      prefix: String, dir: String,
      outputMode: String = "append"): DataFrame = {
    val ck = tempDirCleanedOnExit(s"graft-$prefix-ck").resolve("ck").toString
    val name = prefix + "_" + Integer.toHexString(dir.hashCode)
    s.catalog.dropTempView(name)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStateParts)
    try {
      val q = out.writeStream.outputMode(outputMode).format("memory")
        .queryName(name).option("checkpointLocation", ck).start()
      q.processAllAvailable(); q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
  }

  val defs: Seq[QueryDef] = Seq(
    // ---- S6's upsert path as a REAL STREAM: the vec_id%5==0 arrivals
    //      flow in three mtime-ordered micro-batches; each batch is
    //      assigned under the FROZEN base quantizer inside foreachBatch
    //      (assignment only — never a refit, the Qdrant-upsert
    //      semantic) and appended to the standing assignments; the
    //      probe search runs over the final state. The result must be
    //      IDENTICAL to ann_ivf_upsert's batch assignment — the shared
    //      oracle is the order-independence proof (assignment is
    //      per-row, so any batch partitioning converges) ----
    QueryDef("streaming_ann_upsert", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val centroids = ivfBaseCentroidsFor(s, dir)
      val arrivals = e.filter(col("vec_id") % 5 === 0)
      val in = StandingArtifacts(s, dir, "streaming_ann_upsert/batches") {
        stageOrderedBatches("graft-annup", Seq(
          arrivals.filter(col("vec_id") % 3 === 0),
          arrivals.filter(col("vec_id") % 3 === 1),
          arrivals.filter(col("vec_id") % 3 === 2)))
      }
      val ckpt = java.nio.file.Files.createTempDirectory("graft-annupck")
        .resolve("ck").toString
      var assigns = Knn.ivfAssign(e.filter(col("vec_id") % 5 =!= 0),
          "embedding", centroids)
        .select(col("vec_id"), col("cluster_id"))
        .localCheckpoint()
      Sync.fileStreamForeachBatch(s, in, e.schema, ckpt,
          onBatch = (batch, _) => {
            assigns = assigns.unionByName(
                Knn.ivfAssign(batch, "embedding", centroids)
                  .select(col("vec_id"), col("cluster_id")))
              .localCheckpoint()
          },
          maxFilesPerTrigger = 1)
        .awaitTermination()
      val qv = queryVecFor(s, dir)
      val probes = Knn.nearestCentroids(qv, centroids, 3)
      val shortlist = assigns
        .filter(col("cluster_id").isin(probes: _*)).select("vec_id")
      Knn.bruteForceTopK(e.join(shortlist, "vec_id"), "vec_id",
          "embedding", qv, 10)
        .select(col("vec_id"),
          (col("vec_id") % 5 === 0).as("is_new"),
          round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    },
    // assignment is order-independent: streamed upserts land on the batch result
    SameAs("ann_ivf_upsert")),

    // ---- T1 continuous sync ON the driver surface: a real Structured
    //      Streaming run (file source -> foreachBatch -> T2 merge into
    //      swapped state), Trigger.AvailableNow, against a staged
    //      incoming snapshot where id%6 docs are missing (stale) and
    //      id%4==1 docs re-hashed (updated). The final merged state is
    //      pure %-rule SQL (ref webui/tasks/sync_dispatcher.py;
    //      document_tracker.py:70-142). ----
    QueryDef("continuous_sync", (s, dir) => {
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft-sync")
      val incoming = tmp.resolve("incoming").toString
      val ckpt = tmp.resolve("ckpt").toString
      val batch = docs.filter(col("doc_id") % 6 =!= 0).select(
        col("doc_id"),
        concat(lit("doc://"), col("doc_id")).as("uri"),
        sha2(when(col("doc_id") % 4 === 1, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).cast("binary"), 256).as("content_hash"))
      batch.coalesce(1).write.parquet(incoming)
      // gen-0 state: every doc known at its original hash
      var state = docs.select(col("doc_id"),
          concat(lit("doc://"), col("doc_id")).as("uri"),
          sha2(col("text").cast("binary"), 256).as("content_hash"),
          lit("unchanged").as("status"), lit(0L).as("last_seen_at"),
          lit(false).as("is_stale"))
        .localCheckpoint()
      Sync.continuousSync(s, incoming, batch.schema,
          loadState = () => state,
          // localCheckpoint: the merged snapshot must outlive the
          // micro-batch DataFrame it was derived from
          saveState = st => { state = st.localCheckpoint() },
          checkpointDir = ckpt)
        .awaitTermination()
      state.select(col("doc_id").cast("string").as("doc_id"),
          col("status"), col("is_stale"))
        .orderBy(col("doc_id").cast("long"))
    }, Sql(
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        |  CASE WHEN doc_id % 6 = 0 THEN 'unchanged'
        |    WHEN doc_id % 4 = 1 THEN 'updated'
        |    ELSE 'unchanged' END AS status,
        |  doc_id % 6 = 0 AS is_stale
        |FROM documents
        |ORDER BY CAST(doc_id AS BIGINT)""".stripMargin)),

    // ---- watermarked streaming window aggregation, REALLY streamed:
    //      events staged as three ts-ordered micro-batch files
    //      (mtime-stamped for deterministic order), run through a
    //      maxFilesPerTrigger=1 file stream with a 10-minute watermark
    //      in append mode. Emitted = windows finalized by the FINAL
    //      watermark (the trailing no-data micro-batch advances it to
    //      global max(ts) − 10min and flushes) — a pure batch-SQL
    //      predicate, so the oracle hash-checks real event-time
    //      semantics (ts-ordered staging ⇒ no late drops; boundary
    //      equality impossible: microsecond ts vs whole-hour window
    //      ends). ----
    QueryDef("streaming_window_agg", (s, dir) => {
      // the staged micro-batch files are a fixture (memoized per sf
      // dir, like the ingested chunk snapshot); the measured work is
      // the stream run itself, which executes fresh per call with a
      // fresh checkpoint
      val in = stagedEventBatches(s, dir)
      val stream = s.readStream.schema("ts_utc TIMESTAMP, event_type STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val out = Sync.windowedEventAgg(stream, "ts_utc", "event_type",
        windowLen = "1 hour", delay = "10 minutes")
      runStreamToTable(s, out, "swagg", dir)
        .select(col("window_start"), col("event_type"), col("n_events"))
        .orderBy("window_start", "event_type")
    },
    // T1 stream-merge: docs absent from the staged incoming snapshot
    // (id%6) go stale with their prior status kept; re-hashed docs
    // (id%4==1, when present) become 'updated'; the rest 'unchanged'.
    // emitted = windows whose end precedes the FINAL watermark: after
    // the last data batch the stream runs a no-data micro-batch
    // (noDataMicroBatches, on by default) that advances the watermark
    // to the global max(ts) − 10min and flushes the newly finalized
    // windows; ts-ordered staging means no late drops, so emitted
    // counts equal the full batch counts
    Sql(
      """WITH wm AS (
        |  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n_events
        |FROM events, wm
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR < wm.w
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin)),

    // ---- STREAMING drift monitor: per-day event-mix PSI of the
    //      watermark-finalized windowed counts (the real stream run)
    //      against the static whole-corpus baseline mix — the
    //      "did today's crawl shift" alarm as a streaming composite.
    //      Only observed (window, type) rows are scored; the batch
    //      PSI form with smoothed one-sided buckets is drift_psi ----
    QueryDef("streaming_drift", (s, dir) => {
      val in = stagedEventBatches(s, dir)
      val stream = s.readStream.schema("ts_utc TIMESTAMP, event_type STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val out = Sync.windowedEventAgg(stream, "ts_utc", "event_type",
        windowLen = "1 day", delay = "10 minutes")
      val win = runStreamToTable(s, out, "sdrift", dir)
      val ev = eventsWithTsUtc(s, dir)
      val base = ev.groupBy("event_type").agg(count(lit(1)).as("n_base"))
      val tBase = broadcast(base.agg(sum("n_base").as("t_base")))
      val eps = 1e-6
      def q = col("n_events").cast("double") / col("t_win") + eps
      def p = col("n_base").cast("double") / col("t_base") + eps
      // t_win via a per-window partition window: the finalized relation
      // is BOUNDED (windows × event types), and a self-join against the
      // memory-sink view trips conflicting-attribute resolution
      win.withColumn("t_win", sum("n_events").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("window_start")))
        .join(base, "event_type")
        .crossJoin(tBase)
        .select(col("window_start"), col("event_type"), col("n_events"),
          round((q - p) * log(q / p), 6).as("psi_term"))
        .orderBy("window_start", "event_type")
    },
    // the windowed-count replay (same finalization predicate, day
    // windows) scored against the whole-corpus baseline mix
    Sql(
      """WITH wm AS (
        |  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
        |win AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |    event_type, count(*) AS n_events
        |  FROM events, wm
        |  WHERE date_trunc('day', ts) + INTERVAL 1 DAY < wm.w
        |  GROUP BY 1, 2),
        |base AS (SELECT event_type, count(*) AS n_base
        |  FROM events GROUP BY 1),
        |tb AS (SELECT sum(n_base) AS t_base FROM base),
        |tw AS (SELECT window_start, sum(n_events) AS t_win
        |  FROM win GROUP BY 1)
        |SELECT w.window_start, w.event_type, w.n_events,
        |  round((CAST(w.n_events AS DOUBLE) / t_win + 1e-6 -
        |      (CAST(b.n_base AS DOUBLE) / t_base + 1e-6)) *
        |    ln((CAST(w.n_events AS DOUBLE) / t_win + 1e-6) /
        |      (CAST(b.n_base AS DOUBLE) / t_base + 1e-6)), 6) AS psi_term
        |FROM win w
        |JOIN base b USING (event_type)
        |JOIN tw USING (window_start)
        |CROSS JOIN tb
        |ORDER BY window_start, event_type""".stripMargin)),

    // ---- STREAMING windowed cardinality: distinct users per day
    //      window as a REAL stream — the HLL register construction
    //      (distinct_sketch) runs INSIDE the streaming aggregation
    //      (groupBy(window, register) max(rank): bounded state of
    //      windows×256 rows, where a streaming count_distinct would
    //      hold every user id in state), finalized registers read
    //      batch-side for the estimate, audited against the exact
    //      per-window distinct over the same finalized windows ----
    QueryDef("streaming_distinct_window", (s, dir) => {
      val in = stagedEventBatches(s, dir)
      val stream = s.readStream
        .schema("ts_utc TIMESTAMP, event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val h = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.HexSliceToLong(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            md5(col("user_id").cast("string").cast("binary"))), 0))
      val out = stream.filter(col("user_id").isNotNull)
        .withWatermark("ts_utc", "10 minutes")
        .select(col("ts_utc"), h.bitwiseAND(lit(255L)).as("j"),
          shiftright(h, 8).as("hw"))
        .withColumn("rank", when(col("hw") === 0L, lit(25))
          .otherwise(instr(lpad(bin(col("hw")), 24, "0"), "1")))
        .groupBy(window(col("ts_utc"), "1 day"), col("j"))
        .agg(max("rank").as("mj"))
        .select(col("window.start").as("window_start"), col("j"),
          col("mj"))
      val regs = runStreamToTable(s, out, "shll", dir)
      val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
      val sk = regs.groupBy("window_start")
        .agg(sum(pow(lit(2.0), -col("mj"))).as("zp"),
          count(lit(1)).as("np"))
        .select(col("window_start"),
          (col("zp") + (lit(256.0) - col("np"))).as("z"),
          (lit(256L) - col("np")).as("v"))
        .select(col("window_start"),
          (alpha * lit(65536.0) / col("z")).as("e_raw"), col("v"))
        .select(col("window_start"),
          when(col("e_raw") <= lit(640.0) && col("v") > 0L,
            lit(256.0) * log(lit(256.0) / col("v")))
          .otherwise(col("e_raw")).as("estimate"))
      val exact = eventsWithTsUtc(s, dir)
        .filter(col("user_id").isNotNull)
        .groupBy(window(col("ts_utc"), "1 day"))
        .agg(count_distinct(col("user_id")).as("n_exact"))
        .select(col("window.start").as("window_start"), col("n_exact"))
      // inner join: only windows the stream FINALIZED carry a sketch
      exact.join(sk, "window_start")
        .select(col("window_start"), col("n_exact"),
          round(col("estimate"), 4).as("n_estimate"),
          round(abs(col("estimate") - col("n_exact").cast("double")) /
            col("n_exact"), 4).as("rel_error"))
        .orderBy("window_start")
    },
    // same finalization predicate; identical register construction
    // and estimator arithmetic as distinct_sketch, per day window
    Sql {
      val eRaw = "(0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z"
      s"""WITH wm AS (
         |  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
         |fin AS (
         |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
         |    user_id
         |  FROM events, wm
         |  WHERE date_trunc('day', ts) + INTERVAL 1 DAY < wm.w
         |    AND user_id IS NOT NULL),
         |h AS (
         |  SELECT ws, CAST(('0x' || substr(md5(CAST(user_id AS
         |    VARCHAR)), 1, 8))::UBIGINT AS BIGINT) AS hv
         |  FROM fin),
         |hw AS (SELECT ws, hv & 255 AS j, hv >> 8 AS w2 FROM h),
         |regs AS (
         |  SELECT ws, j, max(CASE WHEN w2 = 0 THEN 25
         |    ELSE instr(lpad(bin(w2), 24, '0'), '1') END) AS mj
         |  FROM hw GROUP BY 1, 2),
         |sk AS (
         |  SELECT ws, sum(power(2.0, -mj)) + (256.0 - count(*)) AS z,
         |    256 - count(*) AS v
         |  FROM regs GROUP BY ws),
         |est AS (
         |  SELECT ws, CASE WHEN $eRaw <= 640.0 AND v > 0
         |    THEN 256.0 * ln(256.0 / v)
         |    ELSE $eRaw END AS estimate
         |  FROM sk),
         |ex AS (SELECT ws, count(DISTINCT user_id) AS n_exact
         |  FROM fin GROUP BY ws)
         |SELECT ex.ws AS window_start, ex.n_exact,
         |  round(est.estimate, 4) AS n_estimate,
         |  round(abs(est.estimate - CAST(ex.n_exact AS DOUBLE))
         |    / ex.n_exact, 4) AS rel_error
         |FROM ex JOIN est ON est.ws = ex.ws
         |ORDER BY window_start""".stripMargin
    }),

    // ---- COUNT-MIN registers INSIDE the streaming aggregation
    //      (cms_calibration's streaming twin, the frequency sibling of
    //      streaming_distinct_window's HLL): each event explodes into
    //      d=4 (row, col) cells, the stream aggregates (window, r, c)
    //      counts — state bounded by windows×4×64 REGARDLESS of the
    //      key universe — and the finalized counters are probed
    //      batch-side for every event type, audited vs exact (CMS
    //      never underestimates) ----
    QueryDef("streaming_cms_window", (s, dir) => {
      val in = stagedEventBatches(s, dir)
      val stream = s.readStream
        .schema("ts_utc TIMESTAMP, event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val d = 4
      val w = 64L
      def cellOf(r: Int, v: Column): Column = {
        val h = org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.HexSliceToLong(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              md5(concat(lit(s"$r:"), v).cast("binary"))), 0))
        h % w
      }
      val out = stream.filter(col("event_type").isNotNull)
        .withWatermark("ts_utc", "10 minutes")
        .select(col("ts_utc"), explode(array((0 until d).map(r =>
            struct(lit(r).as("r"),
              cellOf(r, col("event_type")).as("c"))): _*)).as("rc"))
        .select(col("ts_utc"), col("rc.r").as("r"), col("rc.c").as("c"))
        .groupBy(window(col("ts_utc"), "1 day"), col("r"), col("c"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("window_start"), col("r"),
          col("c"), col("cnt"))
      val sketch = runStreamToTable(s, out, "scms", dir)
      val exact = eventsWithTsUtc(s, dir)
        .filter(col("event_type").isNotNull)
        .groupBy(window(col("ts_utc"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_exact"))
        .select(col("window.start").as("window_start"),
          col("event_type"), col("n_exact"))
      val probeCells = exact.select(col("window_start"),
          col("event_type"), col("n_exact"),
          explode(array((0 until d).map(r =>
            struct(lit(r).as("r"),
              cellOf(r, col("event_type")).as("c"))): _*)).as("rc"))
        .select(col("window_start"), col("event_type"), col("n_exact"),
          col("rc.r").as("r"), col("rc.c").as("c"))
      // inner join: only stream-FINALIZED windows carry counters
      probeCells.join(broadcast(sketch), Seq("window_start", "r", "c"))
        .groupBy("window_start", "event_type", "n_exact")
        .agg(min("cnt").as("n_est"))
        .select(col("window_start"), col("event_type"), col("n_exact"),
          col("n_est"), (col("n_est") - col("n_exact")).as("overestimate"))
        .orderBy("window_start", "event_type")
    },
    // CMS counters replayed over the finalized-window events (same
    // md5-slice cell hashes), estimate = min over the 4 rows per type
    Sql {
      def cellSql(r: Int, v: String): String =
        s"(CAST(('0x' || substr(md5('$r:' || $v), 1, 8))::UBIGINT " +
          s"AS BIGINT) % 64)"
      val cellRows = (0 until 4).map(r =>
        s"SELECT ws, event_type, $r AS r, " +
          s"${cellSql(r, "event_type")} AS c FROM fin")
        .mkString("\n  UNION ALL\n  ")
      val probeRows = (0 until 4).map(r =>
        s"SELECT ws, event_type, n_exact, $r AS r, " +
          s"${cellSql(r, "event_type")} AS c FROM ex")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH wm AS (
         |  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
         |fin AS (
         |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
         |    event_type
         |  FROM events, wm
         |  WHERE date_trunc('day', ts) + INTERVAL 1 DAY < wm.w
         |    AND event_type IS NOT NULL),
         |cells AS (
         |  $cellRows),
         |sk AS MATERIALIZED (
         |  SELECT ws, r, c, count(*) AS cnt FROM cells GROUP BY 1, 2, 3),
         |ex AS MATERIALIZED (
         |  SELECT ws, event_type, count(*) AS n_exact
         |  FROM fin GROUP BY 1, 2),
         |probes AS (
         |  $probeRows)
         |SELECT p.ws AS window_start, p.event_type, p.n_exact,
         |  min(s.cnt) AS n_est, min(s.cnt) - p.n_exact AS overestimate
         |FROM probes p JOIN sk s ON s.ws = p.ws AND s.r = p.r
         |  AND s.c = p.c
         |GROUP BY p.ws, p.event_type, p.n_exact
         |ORDER BY window_start, event_type""".stripMargin
    }),

    // ---- SLIDING-window streaming twin: 2-hour windows every hour
    //      (each event lands in two windows, state = 2× windows in
    //      flight × keys, still bounded); same real stream + append
    //      finalization machinery as streaming_window_agg ----
    QueryDef("streaming_sliding_agg", (s, dir) => {
      val in = stagedEventBatches(s, dir)
      val stream = s.readStream.schema("ts_utc TIMESTAMP, event_type STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val out = Sync.windowedEventAgg(stream, "ts_utc", "event_type",
        windowLen = "2 hours", delay = "10 minutes", slide = Some("1 hour"))
      runStreamToTable(s, out, "sliding", dir)
        .select(col("window_start"), col("event_type"), col("n_events"))
        .orderBy("window_start", "event_type")
    },
    // sliding windows: each event belongs to the two 2-hour windows
    // starting at floor(ts, 1h) and floor(ts, 1h) − 1h; emitted =
    // windows finalized by the FINAL watermark (same predicate as the
    // tumbling twin, window length 2h)
    Sql(
      """WITH wm AS (
        |  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
        |ws AS (
        |  SELECT CAST(date_trunc('hour', ts) - INTERVAL 1 HOUR AS TIMESTAMP)
        |    AS window_start, event_type FROM events
        |  UNION ALL
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP), event_type
        |  FROM events)
        |SELECT window_start, event_type, count(*) AS n_events
        |FROM ws, wm
        |WHERE window_start + INTERVAL 2 HOUR < wm.w
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin)),

    // ---- BUILT-IN session windows, REALLY streamed: the same 4-hour
    //      gap as the custom-state sessionizer but through Spark's
    //      session_window aggregation (merging windows + watermark
    //      finalization handled by the engine); emitted = sessions
    //      whose end (last event + gap) precedes the FINAL watermark ----
    QueryDef("streaming_session_window", (s, dir) => {
      val in = stagedEventBatches(s, dir)
      val stream = s.readStream
        .schema("ts_utc TIMESTAMP, event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val out = stream.withWatermark("ts_utc", "10 minutes")
        .groupBy(session_window(col("ts_utc"), "4 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("session_window.start").as("session_start"),
          col("user_id"), col("n_events"))
      runStreamToTable(s, out, "sesswin", dir)
        .orderBy("user_id", "session_start")
    },
    // engine-managed session windows finalize when the FINAL watermark
    // passes last_ts + gap — unlike the custom sessionizer below,
    // whose close rule is successor-arrival
    Sql(
      """WITH wm AS (
        |  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
        |d AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER win IS NULL
        |         OR ts - lag(ts) OVER win > INTERVAL 4 HOUR THEN 1
        |    ELSE 0 END AS ns
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d),
        |agg AS (
        |  SELECT user_id, sid, min(ts) AS session_start,
        |    max(ts) AS last_ts, count(*) AS n_events
        |  FROM sess GROUP BY 1, 2)
        |SELECT CAST(session_start AS TIMESTAMP) AS session_start, user_id,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM agg, wm WHERE last_ts + INTERVAL 4 HOUR < wm.w
        |ORDER BY user_id, session_start""".stripMargin)),

    // ---- streaming sessionization with custom per-user state
    //      (flatMapGroupsWithState), REALLY streamed over the same
    //      ts-ordered micro-batches: a session closes — and is emitted
    //      — only when its successor event arrives, so the emitted set
    //      is exactly "every session except each user's last", a
    //      batching-independent rule the batch oracle replays with
    //      gaps-and-islands SQL. ----
    QueryDef("streaming_sessionize", (s, dir) => {
      val in = stagedEventBatches(s, dir)
      val stream = s.readStream
        .schema("ts_utc TIMESTAMP, event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val out = Sync.sessionize(stream, "ts_utc", "user_id",
        gapUs = 4L * 3600 * 1000000)
      runStreamToTable(s, out, "sess", dir).select(col("user_id"),
          timestamp_micros(col("session_start_us")).as("session_start"),
          timestamp_micros(col("session_end_us")).as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },
    // emitted = all sessions but each user's last (a session closes
    // only when its successor event arrives; 4-hour gap)
    Sql(
      """WITH d AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 4 HOUR THEN 1
        |    ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |  FROM d),
        |agg AS (
        |  SELECT user_id, sid, min(ts) AS session_start,
        |    max(ts) AS session_end, count(*)::BIGINT AS n_events
        |  FROM sess GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY 1)
        |SELECT a.user_id, CAST(a.session_start AS TIMESTAMP) AS session_start,
        |  CAST(a.session_end AS TIMESTAMP) AS session_end, a.n_events
        |FROM agg a JOIN mx USING (user_id)
        |WHERE a.sid < mx.last_sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // ---- T5 failure tracking/halt/backoff as ONE relational plan: a
    //      deterministic synthetic failure log (%-rules), classified
    //      transient/permanent by the shared pattern list
    //      (Sync.classifyErrorCol — parity-guarded against the driver
    //      function), exponential backoff summed for retryable rows,
    //      and the executor halt rule (≥3 CONSECUTIVE failures,
    //      executor.py:214-224) via a per-collection gaps-and-islands
    //      window. Every window partitions by collection_id. ----
    QueryDef("failure_policy", (s, dir) => {
      val attempts = t(s, dir, "documents").select(
        col("source").as("collection_id"), col("doc_id"),
        (col("doc_id") % 5).cast("int").as("attempt"),
        when(col("doc_id") % 11 === 0, lit("connection refused by host"))
          .when(col("doc_id") % 13 === 0, lit("HTTP 429 too many requests"))
          .when(col("doc_id") % 7 === 0, lit("invalid document schema"))
          .otherwise(lit(null).cast("string")).as("error"))
      val cls = attempts
        .withColumn("failed", col("error").isNotNull)
        .withColumn("error_class", when(col("failed"),
          Sync.classifyErrorCol(col("error"))))
        .withColumn("backoff_sec", when(col("error_class") === "transient",
          least(pow(lit(2.0), col("attempt")), lit(300.0)))
          .otherwise(lit(0.0)))
      val w = Window.partitionBy("collection_id").orderBy("doc_id")
      val runs = cls.withColumn("grp",
        sum(when(col("failed"), 0).otherwise(1)).over(w))
      val maxRun = runs.filter(col("failed"))
        .groupBy("collection_id", "grp").agg(count(lit(1)).as("run_len"))
        .groupBy("collection_id").agg(max("run_len").as("max_run"))
      cls.groupBy("collection_id").agg(
          sum(col("failed").cast("long")).as("n_failed"),
          sum((col("error_class") === "transient").cast("long"))
            .as("n_transient"),
          sum((col("error_class") === "permanent").cast("long"))
            .as("n_permanent"),
          round(sum("backoff_sec"), 6).as("total_backoff_sec"))
        .join(maxRun, Seq("collection_id"), "left")
        .withColumn("halted", coalesce(col("max_run") >= 3, lit(false)))
        .drop("max_run")
        .orderBy("collection_id")
    },
    // T5: %-rule failure log — %11/%13 messages contain transient
    // patterns ('connection' / '429'), %7 is permanent; backoff
    // 2^attempt capped at 300 (here ≤ 16); halt = any ≥3-consecutive
    // failure run per collection in doc order (gaps-and-islands).
    Sql(
      """WITH att AS (
        |  SELECT source AS collection_id, doc_id,
        |    CAST(doc_id % 5 AS INT) AS attempt,
        |    CASE WHEN doc_id % 11 = 0 OR doc_id % 13 = 0
        |        OR doc_id % 7 = 0 THEN TRUE ELSE FALSE END AS failed,
        |    CASE WHEN doc_id % 11 = 0 OR doc_id % 13 = 0 THEN 'transient'
        |      WHEN doc_id % 7 = 0 THEN 'permanent' END AS error_class
        |  FROM documents),
        |cls AS (
        |  SELECT *, CASE WHEN error_class = 'transient'
        |    THEN least(power(2.0, attempt), 300.0) ELSE 0.0 END AS backoff_sec
        |  FROM att),
        |runs AS (
        |  SELECT collection_id, doc_id, failed,
        |    sum(CASE WHEN failed THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY collection_id ORDER BY doc_id) AS grp
        |  FROM cls),
        |mr AS (
        |  SELECT collection_id, max(run_len) AS max_run FROM (
        |    SELECT collection_id, grp, count(*) AS run_len
        |    FROM runs WHERE failed GROUP BY collection_id, grp)
        |  GROUP BY collection_id)
        |SELECT c.collection_id,
        |  CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
        |  CAST(sum(CASE WHEN error_class = 'transient' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_transient,
        |  CAST(sum(CASE WHEN error_class = 'permanent' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_permanent,
        |  round(sum(backoff_sec), 6) AS total_backoff_sec,
        |  coalesce(max(mr.max_run) >= 3, FALSE) AS halted
        |FROM cls c LEFT JOIN mr ON mr.collection_id = c.collection_id
        |GROUP BY c.collection_id
        |ORDER BY c.collection_id""".stripMargin)),

    // ---- T3 incremental BM25 stats: three-batch merge from empty
    //      state must equal the full-corpus recompute — the oracle IS
    //      the bm25_stats SQL, so the merge algebra is hash-checked ----
    QueryDef("t3_incremental_stats", (s, dir) => {
      val docs = t(s, dir, "documents")
      var state = Sync.emptyBm25State(s)
      for (b <- 0 until 3)
        state = Sync.mergeBm25Stats(state._1, state._2,
          docs.filter(col("doc_id") % 3 === b), "doc_id", "text")
      val (termStats, globals) = state
      termStats.crossJoin(broadcast(globals))
        .select(col("term"), col("df"),
          round(Bm25.idfCol(col("df"), col("n_docs")), 6).as("idf"),
          col("n_docs"))
        .orderBy("term")
    },
    // incremental merge must equal the full recompute
    SameAs("bm25_stats")),

    // ---- T3's SUBTRACTIVE twin (VERDICT r10 #2 — the reference's
    //      remove_documents path, bm25_sparse_indexer.py:466-510
    //      decrements df/N/Σlen when docs leave the index): the full
    //      corpus merges IN, then the doc_id%7==0 departures merge OUT
    //      with their indexed text (df decrements, df=0 vocabulary
    //      rows drop). Merge-out is exact because every statistic is a
    //      sum, so the oracle is the batch recompute over the
    //      SURVIVING corpus — deletes never force a rebuild ----
    QueryDef("t3_incremental_remove", (s, dir) => {
      val docs = t(s, dir, "documents")
      var state = Sync.emptyBm25State(s)
      state = Sync.mergeBm25Stats(state._1, state._2, docs,
        "doc_id", "text")
      state = Sync.removeBm25Stats(state._1, state._2,
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
      val (termStats, globals) = state
      termStats.crossJoin(broadcast(globals))
        .select(col("term"), col("df"),
          round(Bm25.idfCol(col("df"), col("n_docs")), 6).as("idf"),
          col("n_docs"))
        .orderBy("term")
    },
    // merge-out exactness: the incremental remove must land on the
    // batch recompute over the SURVIVING corpus (df=0 rows dropped)
    Sql(
      s"""WITH ${bm25StatsCtes("", " WHERE doc_id % 7 <> 0")}
         |SELECT term, df, round(idf, 6) AS idf, n_docs
         |FROM idf ORDER BY term""".stripMargin)),

    // ---- T3 inside a REAL stream run: the same incremental BM25
    //      stats algebra, but fed by an actual file-source stream
    //      (3 staged parquet files, maxFilesPerTrigger=1 → 3 real
    //      micro-batches through foreachBatch). Order-independence is
    //      the declared semantics (SURVEY §7.4 risk 2), so the oracle
    //      is the batch recompute over the union — identical to
    //      t3_incremental_stats's ----
    QueryDef("t3_incremental_stats_stream", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // the 3 staged batch files are a fixture (written once per sf
      // dir); the measured work is the stream run itself, which
      // executes fresh per call with a fresh checkpoint
      val in = StandingArtifacts(s, dir,
          "t3_incremental_stats_stream/batches") {
        val d = tempDirCleanedOnExit("graft-t3").resolve("in").toString
        for (b <- 0 until 3)
          docs.filter(col("doc_id") % 3 === b)
            .coalesce(1).write.mode("append").parquet(d)
        d
      }
      val ckpt = java.nio.file.Files.createTempDirectory("graft-t3ck")
        .resolve("ck").toString
      var state = Sync.emptyBm25State(s)
      Sync.fileStreamForeachBatch(s, in, docs.schema, ckpt,
          onBatch = (batch, _) => {
            val (ts2, g2) = Sync.mergeBm25Stats(state._1, state._2,
              batch, "doc_id", "text")
            // localCheckpoint: the merged stats must outlive the
            // micro-batch DataFrame they were derived from
            state = (ts2.localCheckpoint(), g2.localCheckpoint())
          },
          maxFilesPerTrigger = 1)
        .awaitTermination()
      val (termStats, globals) = state
      termStats.crossJoin(broadcast(globals))
        .select(col("term"), col("df"),
          round(Bm25.idfCol(col("df"), col("n_docs")), 6).as("idf"),
          col("n_docs"))
        .orderBy("term")
    },
    // the stream run must converge to the batch recompute over the union
    SameAs("bm25_stats")),

    // ---- the REMOVE path inside a REAL stream (t3_incremental_
    //      stats_stream's subtractive twin): two add batches then a
    //      REMOVAL batch through the same mtime-ordered file source
    //      (order matters here — a removal must follow its add, which
    //      is exactly what the Debezium-style ordered log guarantees);
    //      foreachBatch routes each homogeneous micro-batch to
    //      merge/remove by its op column. Oracle = the recompute over
    //      the surviving corpus (t3_incremental_remove's, verbatim) ----
    QueryDef("t3_incremental_remove_stream", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val in = StandingArtifacts(s, dir,
          "t3_incremental_remove_stream/batches") {
        stageOrderedBatches("graft-t3rm", Seq(
          docs.filter(col("doc_id") % 2 === 0).withColumn("op", lit("A")),
          docs.filter(col("doc_id") % 2 === 1).withColumn("op", lit("A")),
          docs.filter(col("doc_id") % 7 === 0).withColumn("op", lit("R"))))
      }
      val schema = docs.withColumn("op", lit("A")).schema
      val ckpt = java.nio.file.Files.createTempDirectory("graft-t3rmck")
        .resolve("ck").toString
      var state = Sync.emptyBm25State(s)
      Sync.fileStreamForeachBatch(s, in, schema, ckpt,
          onBatch = (batch, _) => {
            val adds = batch.filter(col("op") === "A").drop("op")
            val rems = batch.filter(col("op") === "R").drop("op")
            var st = Sync.mergeBm25Stats(state._1, state._2, adds,
              "doc_id", "text")
            st = Sync.removeBm25Stats(st._1, st._2, rems,
              "doc_id", "text")
            state = (st._1.localCheckpoint(), st._2.localCheckpoint())
          },
          maxFilesPerTrigger = 1)
        .awaitTermination()
      val (termStats, globals) = state
      termStats.crossJoin(broadcast(globals))
        .select(col("term"), col("df"),
          round(Bm25.idfCol(col("df"), col("n_docs")), 6).as("idf"),
          col("n_docs"))
        .orderBy("term")
    },
    // the streamed add/add/remove run must converge to the batch remove
    SameAs("t3_incremental_remove")),

    // ---- streaming exact dedup, REALLY streamed over id-ordered doc
    //      micro-batches: every non-first arrival of a content hash is
    //      emitted as (doc_id, first_doc_id); in-batch duplicates are
    //      resolved by an explicit sort, cross-batch ones by keyed
    //      state, so the emitted set is batching-independent and the
    //      batch oracle replays it with a min window ----
    QueryDef("streaming_dedup", (s, dir) => {
      val in = stagedDocBatches(s, dir)
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val out = Sync.streamingDupReports(stream, "doc_id", "text")
      runStreamToTable(s, out, "sdedup", dir)
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id, first_doc_id FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY t)
        |    AS first_doc_id
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN doc_id % 7 = 0
        |        THEN 'duplicated corpus text ' || CAST(doc_id % 3 AS VARCHAR)
        |        ELSE text END AS t
        |    FROM documents))
        |WHERE doc_id <> first_doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ---- STREAMING percolator — alerting as it actually deploys:
    //      stored queries evaluated against every arriving document.
    //      The match rule is a pure per-row conjunction over the doc's
    //      own token array (tokens projected ONCE, conditions
    //      reference the materialized attribute), so the stream is
    //      STATELESS — no watermark, batching-independent, and the
    //      batch oracle replays it exactly. Query 4's absent term pins
    //      the no-match path on the stream too ----
    QueryDef("streaming_percolate", (s, dir) => {
      val in = stagedDocBatches(s, dir)
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val alerts = Seq(
        (1L, Seq("spark", "join")), (2L, Seq("customer")),
        (3L, Seq("stream", "data", "table")), (4L, Seq("zzznope")))
      val toked = stream.select(col("doc_id"),
        TextFunctions.tokensCol(col("text"),
          removeStopwords = false).as("toks"))
      val matched = array(alerts.map { case (q, ts) =>
        when(ts.distinct.map(t => array_contains(col("toks"), t))
          .reduce(_ && _), lit(q)).otherwise(lit(null).cast("long"))
      }: _*)
      val out = toked
        .select(col("doc_id"),
          explode(filter(matched, x => x.isNotNull)).as("query_id"))
        .select("query_id", "doc_id")
      runStreamToTable(s, out, "sperc", dir)
        .orderBy("query_id", "doc_id")
    },
    // the emitted duplicate reports are batching-independent: every
    // doc whose text was already seen, mapped to the corpus-min id
    // the same conjunction over the STAGED stream's substituted texts
    // (stateless per-row rule ⇒ the batch replay is exact)
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH sdocs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0
         |      THEN 'duplicated corpus text ' || CAST(doc_id % 3 AS VARCHAR)
         |      ELSE text END AS text
         |  FROM documents),
         |alerts AS (
         |  SELECT * FROM (VALUES
         |    (1, 'spark', 2), (1, 'join', 2),
         |    (2, 'customer', 1),
         |    (3, 'stream', 3), (3, 'data', 3), (3, 'table', 3),
         |    (4, 'zzznope', 1)) AS t(query_id, tok, n_req)),
         |dtoks AS (
         |  SELECT DISTINCT doc_id, unnest($toks) AS tok
         |  FROM sdocs)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id
         |FROM dtoks JOIN alerts USING (tok)
         |GROUP BY query_id, doc_id, n_req
         |HAVING count(DISTINCT tok) = n_req
         |ORDER BY query_id, doc_id""".stripMargin
    }),

    // ---- deterministic sampling IS streaming-safe by construction:
    //      the sha-uniform keep rule is a pure column predicate (no
    //      state, no watermark), so the streamed kept-set equals the
    //      batch kept-set REGARDLESS of batching — demonstrated over
    //      real micro-batches and replayed by the batch oracle ----
    QueryDef("streaming_sample", (s, dir) => {
      val in = stagedDocBatches(s, dir)
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val kept = TextAnalysis.hashSplit(stream, "doc_id",
          Seq("keep" -> 0.2, "rest" -> 0.8), salt = "ssample")
        .filter(col("split") === "keep")
        .select("doc_id", "split")
      runStreamToTable(s, kept, "ssample", dir)
        .orderBy("doc_id")
    },
    // stateless streamed filter == the batch filter; same sha-uniform
    Sql(
      """SELECT doc_id, 'keep' AS split
        |FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(sha256('ssample:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::UBIGINT / 4294967296.0 AS u
        |  FROM documents)
        |WHERE u < 0.2
        |ORDER BY doc_id""".stripMargin)),

    // ---- streaming dedup with a TTL horizon — the state-BOUNDED
    //      production posture: a copy within 50 s (event time; ts ∝
    //      doc_id) of its hash's current canonical is reported as a
    //      duplicate; beyond the horizon it silently becomes the new
    //      canonical, and state evicts once the watermark passes
    //      canonical_ts + horizon. The emitted set is a pure function
    //      of event times (per-hash chain rule), which the oracle
    //      replays with a recursive CTE. ----
    QueryDef("streaming_dedup_ttl", (s, dir) => {
      val in = stagedDocBatches(s, dir)
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
        .withColumn("ts_utc", timestamp_micros(
          lit(1600000000000000L) + col("doc_id") * 1000000L))
        .withWatermark("ts_utc", "10 seconds")
      val out = Sync.streamingDupReportsTtl(stream, "doc_id", "text",
        "ts_utc", horizonUs = 50L * 1000000L)
      runStreamToTable(s, out, "sdedupttl", dir)
        .orderBy("doc_id")
    },
    // TTL-horizon dedup: replay the per-hash CHAIN rule (first copy is
    // canonical; a copy ≤ 50 s after the CURRENT canonical is a dup,
    // else it becomes the new canonical) with a recursive CTE stepping
    // one rank per iteration. ts = doc_id seconds, so the 50 s horizon
    // is a doc_id gap of 50. copies is re-referenced per iteration →
    // AS MATERIALIZED (the CTE-inlining exponential-plan gotcha).
    Sql(
      """WITH RECURSIVE docs2 AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN 'duplicated corpus text ' || CAST(doc_id % 3 AS VARCHAR)
        |      ELSE text END AS t
        |  FROM documents),
        |copies AS MATERIALIZED (
        |  SELECT t, doc_id,
        |    row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rn
        |  FROM docs2
        |  WHERE t IN (SELECT t FROM docs2 GROUP BY t HAVING count(*) > 1)),
        |chain AS (
        |  SELECT t, rn, doc_id, doc_id AS canon_id, FALSE AS is_dup
        |  FROM copies WHERE rn = 1
        |  UNION ALL
        |  SELECT c.t, c.rn, c.doc_id,
        |    CASE WHEN c.doc_id - ch.canon_id <= 50
        |      THEN ch.canon_id ELSE c.doc_id END,
        |    c.doc_id - ch.canon_id <= 50
        |  FROM copies c JOIN chain ch ON c.t = ch.t AND c.rn = ch.rn + 1)
        |SELECT doc_id, canon_id AS first_doc_id FROM chain WHERE is_dup
        |ORDER BY doc_id""".stripMargin)),

    // ---- streaming CHECKPOINT RECOVERY (VERDICT r13 #1) — the core
    //      durability semantic no other streaming row exercises: the
    //      stateful TTL-dedup stream processes batches 1–2, the query
    //      STOPS, and a brand-NEW query started on the SAME checkpoint
    //      finishes batch 3 (the reference's continuous sync resumes
    //      from its cursor across process restarts —
    //      vecpipe/document_tracker.py:70-142,
    //      webui/tasks/sync_dispatcher.py). The sink is a parquet FILE
    //      sink — the fault-tolerant sink whose metadata log gives
    //      exactly-once across the restart (the memory sink can't
    //      recover) — and both runs scope state to the same 4 shuffle
    //      partitions, since store count is fixed in the checkpoint.
    //      Hash-equality with the single-run twin (shared
    //      streaming_dedup_ttl oracle) proves resumed == uninterrupted;
    //      batch-3 duplicates whose canonical arrived BEFORE the stop
    //      prove state was RESTORED, not recomputed (an empty store
    //      would make them fresh canonicals and drop the rows). ----
    QueryDef("streaming_restart_resume", (s, dir) => {
      val staged = stagedDocBatches(s, dir)
      val root = tempDirCleanedOnExit("graft-srestart")
      val in = root.resolve("in")
      val outP = root.resolve("out"); val ck = root.resolve("ck")
      java.nio.file.Files.createDirectories(in)
      val batchFiles = {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(staged))) {
          _.iterator().asScala.toSeq
        }.filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(p =>
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }
      // arrival = copy into the stream's input dir, mtime preserved so
      // the source's mod-time batching keeps the staged order
      def arrive(f: java.nio.file.Path): Unit =
        java.nio.file.Files.copy(f, in.resolve(f.getFileName),
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      def runOnce(): Unit = {
        val stream = s.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(in.toString)
          .withColumn("ts_utc", timestamp_micros(
            lit(1600000000000000L) + col("doc_id") * 1000000L))
          .withWatermark("ts_utc", "10 seconds")
        val out = Sync.streamingDupReportsTtl(stream, "doc_id", "text",
          "ts_utc", horizonUs = 50L * 1000000L)
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", StreamStateParts)
        try {
          val q = out.writeStream.outputMode("append").format("parquet")
            .option("path", outP.toString)
            .option("checkpointLocation", ck.toString).start()
          q.processAllAvailable(); q.stop()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
      arrive(batchFiles(0)); arrive(batchFiles(1))
      runOnce() // batches 1–2, then STOP
      arrive(batchFiles(2))
      runOnce() // NEW query, SAME checkpoint: state + sink log resume
      s.read.parquet(outP.toString)
        .select("doc_id", "first_doc_id").orderBy("doc_id")
    },
    // stop-and-resume must emit exactly the uninterrupted run's set
    SameAs("streaming_dedup_ttl")),

    // ---- stream-stream event-time INTERVAL join, REALLY streamed:
    //      clicks attributed to purchases within the following hour.
    //      Both legs are watermarked file streams over the same
    //      ts-ordered micro-batches; Spark derives state retention
    //      from the time-range condition (a click's buffer lives
    //      until the watermark passes click_ts + 1 h), and an inner
    //      join emits eagerly on match, so the emitted SET is
    //      batching-independent and a plain batch join replays it. ----
    QueryDef("streaming_join", (s, dir) => {
      val in = stagedEventBatches(s, dir)
      def leg() = s.readStream
        .schema("ts_utc TIMESTAMP, event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val clicks = leg().filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_utc").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = leg().filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts_utc").as("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      runStreamToTable(s,
          joined.select(col("user_id"), col("click_ts"), col("purchase_ts")),
          "sjoin", dir)
        .orderBy("user_id", "click_ts", "purchase_ts")
    },
    // matched pairs emit eagerly on arrival — the inner-join emitted
    // set is batching-independent, so a plain batch join replays it
    Sql(
      """SELECT c.user_id, CAST(c.ts AS TIMESTAMP) AS click_ts,
        |  CAST(p.ts AS TIMESTAMP) AS purchase_ts
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_ts, purchase_ts""".stripMargin)),

    // ---- stream-stream LEFT OUTER interval join: same attribution
    //      shape, but unmatched clicks surface as null-purchase rows —
    //      and only once the engine PROVES no match can arrive, i.e.
    //      after the watermark passes click_ts + 1 h. The trailing
    //      no-data batch advances the watermark to max(ts) − delay, so
    //      the emitted null set is exactly "unmatched clicks older
    //      than final_watermark − 1 h" — the append-mode finalization
    //      rule (see streaming_window_agg), applied to outer-join
    //      state expiry. The oracle replays both the matches and that
    //      expiry predicate. ----
    QueryDef("streaming_join_outer", (s, dir) => {
      val in = stagedEventBatches(s, dir)
      def leg() = s.readStream
        .schema("ts_utc TIMESTAMP, event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val clicks = leg().filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_utc").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = leg().filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts_utc").as("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      runStreamToTable(s,
          joined.select(col("user_id"), col("click_ts"),
            col("purchase_ts"), col("purchase_ts").isNull.as("unmatched")),
          "sjoinout", dir)
        .orderBy("user_id", "click_ts", "purchase_ts")
    },
    // matches emit eagerly; a null row emits only for clicks whose
    // 1-hour match window closed under the FINAL watermark. The global
    // watermark is the MIN across the two watermark operators, each
    // tracking the max event time its own FILTERED leg has seen — so
    // the final value is min(max click ts, max purchase ts) − 10 min
    // (measured: using the unfiltered max over-emits by exactly the
    // clicks in that gap), and a click's nulls flush once
    // click_ts + 1 h < that watermark
    Sql(
      """WITH wm AS (
        |  SELECT least(
        |      (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |      (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 10 MINUTE AS final_wm),
        |matches AS (
        |  SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
        |  FROM events c JOIN events p ON c.user_id = p.user_id
        |    AND c.event_type = 'click' AND p.event_type = 'purchase'
        |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
        |unmatched AS (
        |  SELECT c.user_id, c.ts AS click_ts,
        |    CAST(NULL AS TIMESTAMP) AS purchase_ts
        |  FROM events c, wm
        |  WHERE c.event_type = 'click'
        |    AND c.ts + INTERVAL 1 HOUR < wm.final_wm
        |    AND NOT EXISTS (
        |      SELECT 1 FROM events p WHERE p.user_id = c.user_id
        |        AND p.event_type = 'purchase'
        |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR))
        |SELECT user_id, CAST(click_ts AS TIMESTAMP) AS click_ts,
        |  CAST(purchase_ts AS TIMESTAMP) AS purchase_ts,
        |  purchase_ts IS NULL AS unmatched
        |FROM (SELECT * FROM matches UNION ALL SELECT * FROM unmatched)
        |ORDER BY user_id, click_ts, purchase_ts""".stripMargin)),

    // ---- stream-STATIC enrichment join, REALLY streamed: each event
    //      micro-batch broadcast-joins the static customer dimension
    //      (the canonical "enrich the stream with a dim table" plan —
    //      stateless, so emission is trivially batching-independent).
    //      Per-segment event counts keep the output bounded. ----
    QueryDef("streaming_enrich", (s, dir) => {
      val in = stagedEventBatches(s, dir)
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val stream = s.readStream
        .schema("ts_utc TIMESTAMP, event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val out = stream.join(broadcast(dim), Seq("user_id"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      // complete output mode: a global (un-windowed) streaming agg
      // re-emits the full result each batch; the memory table holds
      // the final snapshot
      runStreamToTable(s, out, "senrich", dir, outputMode = "complete")
        .orderBy("c_mktsegment", "event_type")
    },
    // stateless enrichment + complete-mode agg = the plain batch join
    Sql(
      """SELECT c.c_mktsegment, e.event_type,
        |  count(*)::BIGINT AS n_events
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY c_mktsegment, event_type""".stripMargin)),

    // ---- IVM in a REAL stream: the same before/after changelog
    //      arrives as mtime-ordered micro-batches (inserts, then
    //      updates, then deletes) and the maintained (count, sum) view
    //      folds each batch through ONE delta aggregation — the
    //      materialized-view refresh loop a lakehouse runs off a
    //      Debezium topic; converges to ivm_agg's recompute oracle ----
    QueryDef("streaming_ivm", (s, dir) => {
      val docs = t(s, dir, "documents")
      val upd = docs
        .filter(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0)
        .select(lit("U").as("op"), col("source"),
          col("n_chars").as("before_val"),
          (col("n_chars") + 100L).as("after_val"))
      val del = docs.filter(col("doc_id") % 11 === 0)
        .select(lit("D").as("op"), col("source"),
          col("n_chars").as("before_val"),
          lit(null).cast("long").as("after_val"))
      val ins = docs.filter(col("doc_id") % 13 === 0)
        .select(lit("I").as("op"), col("source"),
          lit(null).cast("long").as("before_val"),
          (col("n_chars") * 2L).as("after_val"))
      val in = StandingArtifacts(s, dir, "streaming_ivm/batches")(
        stageOrderedBatches("graft-ivm", Seq(ins, upd, del)))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ivmck")
        .resolve("ck").toString
      var state = docs.groupBy("source")
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_val"))
        .localCheckpoint()
      Sync.fileStreamForeachBatch(s, in, ins.schema, ckpt,
          onBatch = (batch, _) => {
            state = graft.operators.Scd.maintainCountSum(state, batch,
              "source", "op", "before_val", "after_val")
              .localCheckpoint()
          },
          maxFilesPerTrigger = 1)
        .awaitTermination()
      state.orderBy("source")
    },
    // the streamed IVM folds must converge to the one-shot maintenance
    SameAs("ivm_agg"))
  )
}

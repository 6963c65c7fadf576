package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{BenchmarkDatasets, Dedup, Maintenance, Skew}
import graft.operators.DataQuality._
import graft.pipeline.{Dag, Predicates}

import Fixtures._
import OracleSql._
import Oracle._

/** Relational surface: aggregation, joins, set operations, predicates,
  * rollups, skew handling and collection bookkeeping. */
object RelationalQueries {
  val defs: Seq[QueryDef] = Seq(
    // ---- aggregation (A6/A7-style; SURVEY §2.4) ----
    QueryDef("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- multi-way equi-join + agg (J3/J6-style; broadcast dims) ----
    QueryDef("q2_join_agg", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }, Sql(
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ---- global top-k (W7: TakeOrderedAndProject, not a full sort) ----
    QueryDef("q3_topk", (s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }, Sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- per-group ranking (W3) ----
    QueryDef("q4_window_rank", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }, Sql(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin)),

    // ---- semi / anti joins (J4, J5/P7) ----
    QueryDef("q5_semijoin", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }, Sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("q6_antijoin", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }, Sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin)),

    // ---- set operations (E1-E4) ----
    QueryDef("e1_union", (s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .union(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
        .distinct()
        .orderBy("c_custkey")
    }, Sql(
      """SELECT DISTINCT c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("e2_except", (s, dir) => {
      val c = t(s, dir, "customer")
      val withF = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey"))
      c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .except(withF)
        .orderBy("c_custkey")
    }, Sql(
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("e3_intersect", (s, dir) => {
      val c = t(s, dir, "customer")
      val withOrders = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.filter(col("c_acctbal") > 1000).select("c_custkey")
        .intersect(withOrders)
        .orderBy("c_custkey")
    }, Sql(
      """SELECT c_custkey FROM customer WHERE c_acctbal > 1000
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin)),

    // ---- E4: orphaned-collection diff (existing − active) ----
    QueryDef("e4_collection_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val existing = docs.select(
        concat(lit("col_"), (col("doc_id") % 20).cast("string"))
          .as("collection_id")).distinct()
      val active = docs.filter(col("doc_id") % 20 < 15).select(
        concat(lit("col_"), (col("doc_id") % 20).cast("string"))
          .as("collection_id")).distinct()
      Maintenance.orphanCollections(existing, active)
        .orderBy("collection_id")
    }, Sql(
      """SELECT DISTINCT 'col_' || CAST(doc_id % 20 AS VARCHAR)
        |  AS collection_id FROM documents
        |EXCEPT
        |SELECT DISTINCT 'col_' || CAST(doc_id % 20 AS VARCHAR)
        |  AS collection_id FROM documents WHERE doc_id % 20 < 15
        |ORDER BY collection_id""".stripMargin)),

    // ---- filter pushdown (P2) ----
    QueryDef("q8_pushdown", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_quantity") < 25)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }, Sql(
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity < 25
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- skew mitigation on the driver surface: the hot-key paths a
    //      1000-executor cluster needs when AQE can't help (broadcast-
    //      ineligible replicated side / non-SMJ plans). Results must
    //      equal the plain join/aggregate — which IS the oracle. ----
    QueryDef("skew_salted_join", (s, dir) => {
      // events.event_type is the hot key (5 values over ~50k rows)
      val dim = t(s, dir, "events").select("event_type").distinct()
        .withColumn("type_tag", concat(lit("t_"), col("event_type")))
      Skew.saltedJoin(t(s, dir, "events"), dim, Seq("event_type"),
          saltBy = col("event_id"), numSalts = 8)
        .groupBy("event_type", "type_tag")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
    },
    // Skew helpers: salting must not change the result — the oracle is
    // the PLAIN join / aggregate the salted plan must equal.
    Sql(
      """SELECT e.event_type, 't_' || e.event_type AS type_tag,
        |  count(*) AS n_events, round(sum(e.value), 4) AS sum_value
        |FROM events e
        |JOIN (SELECT DISTINCT event_type FROM events) d
        |  ON d.event_type = e.event_type
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin)),

    QueryDef("skew_two_phase_agg", (s, dir) => {
      Skew.twoPhaseAgg(t(s, dir, "events"), Seq("event_type"),
          saltBy = col("event_id"), numSalts = 8,
          partialAggs = Seq(count(lit(1)).as("_n"),
            sum("value").as("_sv"), max("value").as("_mx")),
          finalAggs = Seq(sum("_n").as("n_events"),
            round(sum("_sv"), 4).as("sum_value"),
            max("_mx").as("max_value")))
        .orderBy("event_type")
    }, Sql(
      """SELECT event_type, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value, max(value) AS max_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- events aggregation ----
    QueryDef("q9_events_agg", (s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("sum_value"))
        .orderBy("user_id", "event_type")
    }, Sql(
      """SELECT user_id, event_type, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin)),

    // ---- first-hit dedup window (W6 shape on events) ----
    QueryDef("q10_first_event", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    }, Sql(
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin)),

    // ---- schema-on-read over JSON metadata (§1.2 meta columns) ----
    QueryDef("q12_json_props", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg("k"), 6).as("avg_k"),
          max("k").as("max_k"),
          sum(when(col("k") > 50, 1).otherwise(0)).as("n_over_50"))
        .orderBy("event_type")
    }, Sql(
      """SELECT event_type, count(*) AS n,
        |  round(avg(CAST(json_extract(props, '$.k') AS INT)), 6) AS avg_k,
        |  max(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
        |  CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS INT) > 50
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_over_50
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- weekly cohort retention: cohort = the user's first-event
    //      week; retention(c, o) = distinct users of cohort c active
    //      in week c+o over the cohort size. Two aggregations + one
    //      equi-join on user_id — no window; offsets are multiples of
    //      7 days between week-truncated stamps (exact division) ----
    // ---- declarative data-quality expectations (the Deequ /
    //      Great Expectations ingest gate): the whole rule set
    //      compiles into ONE aggregation pass; verdicts are exact
    //      long-ratio metrics computed in-plan, never collected ----
    QueryDef("dq_expectations", (s, dir) => {
      check(t(s, dir, "events"), Seq(
        Completeness("user_id", 1.0),
        Distinctness("event_id", 1.0),
        Between("value", 0.0, 100.0, 0.9),
        InSet("event_type",
          Seq("click", "purchase", "signup", "view"), 0.9),
        Completeness("props", 0.99)))
    },
    // week-truncated stamps differ by exact multiples of 7 days, so
    // the offset division is exact on both engines
    // every metric is an exact long ratio; verdicts replay as one
    // aggregate row fanned out through VALUES-style UNION ALL
    Sql(
      """WITH m AS (SELECT
        |  round(CAST(sum(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 6) AS m0,
        |  round(CAST(count(DISTINCT event_id) AS DOUBLE) /
        |    sum(CASE WHEN event_id IS NOT NULL THEN 1 ELSE 0 END), 6)
        |    AS m1,
        |  round(CAST(sum(CASE WHEN value IS NOT NULL AND value >= 0.0
        |    AND value <= 100.0 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    count(*), 6) AS m2,
        |  round(CAST(sum(CASE WHEN event_type IN ('click', 'purchase',
        |    'signup', 'view') THEN 1 ELSE 0 END) AS DOUBLE) /
        |    count(*), 6) AS m3,
        |  round(CAST(sum(CASE WHEN props IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 6) AS m4
        |FROM events)
        |SELECT * FROM (
        |  SELECT 0 AS rule_id, 'completeness' AS rule,
        |    'user_id' AS "column", m0 AS metric, 1.0 AS threshold,
        |    m0 >= 1.0 AS pass FROM m
        |  UNION ALL SELECT 1, 'distinctness', 'event_id', m1, 1.0,
        |    m1 >= 1.0 FROM m
        |  UNION ALL SELECT 2, 'between', 'value', m2, 0.9,
        |    m2 >= 0.9 FROM m
        |  UNION ALL SELECT 3, 'in_set', 'event_type', m3, 0.9,
        |    m3 >= 0.9 FROM m
        |  UNION ALL SELECT 4, 'completeness', 'props', m4, 0.99,
        |    m4 >= 0.99 FROM m)
        |ORDER BY rule_id""".stripMargin)),

    // ---- predicate language (P1) compiled to Columns ----
    QueryDef("p1_predicates", (s, dir) => {
      val pred = Predicates.compile(Map(
        "p_type" -> "S*",          // glob
        "p_size" -> ">=10",        // numeric comparison
        "p_brand" -> "!Brand#1?")) // negated glob
      t(s, dir, "part").filter(pred)
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .orderBy("p_partkey")
    }, Sql(
      """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
        |WHERE p_type LIKE 'S%' AND p_size >= 10
        |  AND NOT p_brand LIKE 'Brand#1_'
        |ORDER BY p_partkey""".stripMargin)),

    QueryDef("p1_predicates_or", (s, dir) => {
      val pred = Predicates.compile(Map(
        "p_brand" -> Seq("Brand#1", "Brand#7"), // array OR
        "p_retailprice" -> "<1500"))
      t(s, dir, "part").filter(pred)
        .select("p_partkey", "p_brand", "p_retailprice")
        .orderBy("p_partkey")
    }, Sql(
      """SELECT p_partkey, p_brand, p_retailprice FROM part
        |WHERE p_brand IN ('Brand#1', 'Brand#7') AND p_retailprice < 1500
        |ORDER BY p_partkey""".stripMargin)),

    // ---- change-skip anti-join (P7: content_hash dedup vs existing) ----
    QueryDef("p7_change_skip", (s, dir) => {
      val docs = t(s, dir, "documents")
      val incoming = docs.select(col("doc_id"),
        Dedup.contentHash(col("text")).as("content_hash"))
      val existing = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), Dedup.contentHash(col("text")).as("content_hash"))
      incoming.join(existing, Seq("doc_id", "content_hash"), "left_anti")
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id, sha256(text) AS content_hash FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents e
        |  WHERE e.doc_id % 2 = 0 AND e.doc_id = d.doc_id
        |    AND sha256(e.text) = sha256(d.text))
        |ORDER BY doc_id""".stripMargin)),

    // ---- chunk stats (A6) ----
    QueryDef("a6_chunk_stats", (s, dir) => {
      Maintenance.chunkStats(t(s, dir, "documents"), tokenCol = "n_chars")
        .select(col("min_tokens"), col("max_tokens"),
          round(col("avg_tokens"), 6).as("avg_tokens"),
          col("total_tokens"), col("n_chunks"))
    }, Sql(
      """SELECT min(n_chars) AS min_tokens, max(n_chars) AS max_tokens,
        |  round(avg(n_chars), 6) AS avg_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_tokens,
        |  count(*) AS n_chunks
        |FROM documents""".stripMargin)),

    // ---- collection counters (A7; source acts as collection id) ----
    QueryDef("a7_counters", (s, dir) => {
      val asChunks = t(s, dir, "documents").select(
        col("source").as("collection_id"),
        col("doc_id"),
        col("text").as("content"),
        when(col("doc_id") % 10 === 0, lit(null))
          .otherwise(array(lit(1.0f))).as("vector"))
      Maintenance.collectionCounters(asChunks)
        .orderBy("collection_id")
    }, Sql(
      """SELECT source AS collection_id,
        |  count(DISTINCT doc_id) AS document_count,
        |  count(*) AS chunks_total_count,
        |  CAST(sum(length(text)) AS BIGINT) AS total_size_bytes,
        |  CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS vector_count
        |FROM documents GROUP BY source ORDER BY collection_id""".stripMargin)),

    // ---- orphan cleanup (J5) ----
    QueryDef("j5_orphans", (s, dir) => {
      val vectors = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("label"))
      val docs = t(s, dir, "documents").filter(col("doc_id") < 400)
      Maintenance.orphanVectors(vectors, docs)
        .orderBy("doc_id")
    }, Sql(
      """SELECT vec_id AS doc_id, label FROM embeddings e
        |WHERE NOT EXISTS (SELECT 1 FROM documents d
        |  WHERE d.doc_id < 400 AND d.doc_id = e.vec_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- REMOVE_SOURCE operation: one source's docs drop out, and
    //      only vector rows of surviving docs remain ----
    QueryDef("remove_source", (s, dir) => {
      val docs = t(s, dir, "documents")
      // three vector rows per doc stand in for its chunk fan-out
      val vectors = docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(2))).as("chunk_idx"))
      Maintenance.removeSource(docs, vectors, "src7")
        .orderBy("doc_id", "chunk_idx")
    }, Sql(
      """SELECT d.doc_id, CAST(g.chunk_idx AS INT) AS chunk_idx
        |FROM documents d
        |CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS chunk_idx) g
        |WHERE d.doc_id IN (
        |  SELECT doc_id FROM documents WHERE source <> 'src7')
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- doc_ref resolution (J8) ----
    QueryDef("j8_docrefs", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(concat(lit("doc://"), col("doc_id")).as("uri"),
          col("doc_id").cast("string").as("doc_id"))
      val refs = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
        .select(concat(lit("doc://"), col("doc_id")).as("doc_ref"))
        .union(t(s, dir, "documents").filter(col("doc_id") % 50 === 0)
          .select(concat(lit("doc://missing/"), col("doc_id")).as("doc_ref")))
      Maintenance.resolveDocRefs(refs, docs)
        .orderBy("doc_ref")
    }, Sql(
      """WITH refs AS (
        |  SELECT 'doc://' || doc_id AS doc_ref FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT 'doc://missing/' || doc_id FROM documents WHERE doc_id % 50 = 0),
        |docs AS (
        |  SELECT 'doc://' || doc_id AS doc_ref, CAST(doc_id AS VARCHAR) AS doc_id
        |  FROM documents)
        |SELECT r.doc_ref AS doc_ref, d.doc_id AS doc_id,
        |  CASE WHEN d.doc_id IS NOT NULL THEN 'matched'
        |    ELSE 'unmatched' END AS match_status
        |FROM refs r LEFT JOIN docs d USING (doc_ref)
        |ORDER BY doc_ref""".stripMargin)),

    // ---- executor telemetry counters (T4; executor_types.py:200-246)
    //      file outcomes + per-file chunk counts derived in-plan, the
    //      ExecutionResult aggregation hash-checked per collection ----
    QueryDef("t4_exec_stats", (s, dir) => {
      val files = t(s, dir, "documents").select(
        col("source").as("collection_id"),
        when(col("doc_id") % 37 === 0, "failed")
          .when(col("doc_id") % 11 === 0, "skipped")
          .otherwise("succeeded").as("status"),
        (lit(1L) + ceil(greatest(col("n_chars") - 1300, lit(0))
          .cast("double") / 1100.0).cast("long")).as("chunks"))
      graft.pipeline.Executor.executionStats(files)
        .orderBy("collection_id")
    }, Sql(
      """WITH files AS (
        |  SELECT source AS collection_id,
        |    CASE WHEN doc_id % 37 = 0 THEN 'failed'
        |      WHEN doc_id % 11 = 0 THEN 'skipped'
        |      ELSE 'succeeded' END AS status,
        |    1 + CAST(ceil(greatest(n_chars - 1300, 0) / 1100.0) AS BIGINT)
        |      AS chunks
        |  FROM documents)
        |SELECT collection_id,
        |  count(*) AS files_processed,
        |  CAST(sum(CASE WHEN status = 'succeeded' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS files_succeeded,
        |  CAST(sum(CASE WHEN status = 'failed' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS files_failed,
        |  CAST(sum(CASE WHEN status = 'skipped' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS files_skipped,
        |  CAST(sum(CASE WHEN status = 'succeeded' THEN chunks ELSE 0 END)
        |    AS BIGINT) AS chunks_created
        |FROM files GROUP BY collection_id
        |ORDER BY collection_id""".stripMargin)),

    // ---- benchmark dataset front door (§1.1; judgment JSON parse) ----
    // The uploads relation is assembled deterministically FROM documents
    // (JSON text built in-plan), then parsed back through the real
    // front door (BenchmarkDatasets.parseJudgments) — string refs,
    // object refs, missing grades, and out-of-range grades all present.
    // The oracle computes the expected (query, doc_ref, grade) rows
    // from first principles (default 2, clamp 0..3), so the JSON
    // round-trip + normalization is what the hash compare pins.
    QueryDef("bench_dataset", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val judged = docs.select(
        (col("doc_id") % 7).as("query_id"), col("doc_id"),
        when(col("doc_id") % 3 === 0, // object ref, explicit grade 0..3
          concat(lit("{\"doc_ref\": {\"uri\": \"doc://"), col("doc_id"),
            lit("\"}, \"relevance_grade\": "), col("doc_id") % 4, lit("}")))
        .when(col("doc_id") % 3 === 1, // string ref, grade -2..6 (clamps)
          concat(lit("{\"doc_ref\": \"doc://"), col("doc_id"),
            lit("\", \"relevance_grade\": "), col("doc_id") % 9 - 2, lit("}")))
        .otherwise( // string ref, no grade (defaults to 2)
          concat(lit("{\"doc_ref\": \"doc://"), col("doc_id"), lit("\"}")))
          .as("j"))
      val uploads = judged.groupBy("query_id")
        .agg(concat(lit("["), array_join(
            transform(sort_array(collect_list(struct(col("doc_id"), col("j")))),
              x => x("j")), ","), lit("]")).as("judgments_json"))
        .withColumn("query_text", concat(lit("query "), col("query_id")))
      BenchmarkDatasets.parseJudgments(uploads)
        .select(col("query_id"), col("query_text"), col("doc_ref"),
          col("grade"))
        .orderBy("query_id", "doc_ref")
    }, Sql(
      """SELECT doc_id % 7 AS query_id,
        |  'query ' || (doc_id % 7) AS query_text,
        |  'doc://' || doc_id AS doc_ref,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 4
        |    WHEN doc_id % 3 = 1 THEN LEAST(GREATEST(doc_id % 9 - 2, 0), 3)
        |    ELSE 2 END AS INT) AS grade
        |FROM documents WHERE doc_id < 200
        |ORDER BY query_id, doc_ref""".stripMargin)),

    // ---- pipeline DAG execution with predicate routing (§3.3) ----
    QueryDef("dag_pipeline", (s, dir) => {
      val dag = Dag.PipelineDag("p",
        nodes = Seq(
          Dag.Node("chunk_en", Dag.NodeType.Chunker,
            Map("strategy" -> "recursive", "min_tokens" -> "5",
              "max_tokens" -> "40", "overlap_tokens" -> "0")),
          Dag.Node("chunk_rest", Dag.NodeType.Chunker,
            Map("strategy" -> "character", "min_tokens" -> "5",
              "max_tokens" -> "40", "overlap_tokens" -> "0")),
          Dag.Node("embed", Dag.NodeType.Embedder, Map("dim" -> "16"))),
        edges = Seq(
          Dag.Edge(Dag.Source, "chunk_en", when = Map("lang" -> "en"),
            pathName = Some("english")),
          Dag.Edge(Dag.Source, "chunk_rest"),
          Dag.Edge("chunk_en", "embed"),
          Dag.Edge("chunk_rest", "embed")))
      Dag.execute(dag, t(s, dir, "documents"))
        .groupBy("path_id")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct("doc_id").as("n_docs"))
        .orderBy("path_id")
    },
    // DAG pipeline: first-match routing (lang=en -> recursive chunker
    // at max=40/overlap=0, catch-all -> character at min=5/max=40/
    // overlap=0) then per-path chunk/doc counts — the same two
    // parameterized chunker CTE blocks, prefixed to coexist, with the
    // route predicates inlined in each block's document relation.
    Sql(
      ("WITH RECURSIVE " +
        recursiveChunkCtes(40, 0,
          "documents WHERE regexp_matches(text, '\\S') AND lang = 'en'",
          "r") + ",\n" +
        characterChunkCtes(40, 0, 5,
          "documents WHERE length(text) > 0 AND lang <> 'en'", "c") + """
        |SELECT path_id, n_chunks, n_docs FROM (
        |  SELECT 'english' AS path_id, count(*) AS n_chunks,
        |    count(DISTINCT doc_id) AS n_docs FROM rch
        |  UNION ALL
        |  SELECT 'chunk_rest' AS path_id, count(*) AS n_chunks,
        |    count(DISTINCT doc_id) AS n_docs FROM (
        |    SELECT doc_id FROM cst WHERE emit_idx IS NOT NULL
        |    UNION ALL
        |    SELECT doc_id FROM csmall WHERE b > a))
        |ORDER BY path_id""".stripMargin))),

    // ---- join-cardinality predictor (skew_probe's companion): exact
    //      |L ⋈ R| = Σ f_L(k)·f_R(k) from the two bounded per-key
    //      count relations — the explosion detector run BEFORE the
    //      join is allowed into a plan (here: the events self-join) ----
    QueryDef("join_cardinality", (s, dir) => {
      val ev = t(s, dir, "events")
      Skew.joinCardinality(ev, "user_id", ev, "user_id", topK = 5)
    },
    // Σ f_L(k)·f_R(k) from the two count relations; the cut replays
    // as (contrib desc, key asc)
    Sql(
      """WITH lc AS MATERIALIZED (
        |  SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS c
        |  FROM events GROUP BY 1),
        |co AS MATERIALIZED (
        |  SELECT a.key, a.c AS left_cnt, b.c AS right_cnt,
        |    a.c * b.c AS contrib
        |  FROM lc a JOIN lc b USING (key)),
        |tot AS (
        |  SELECT CAST(sum(contrib) AS BIGINT) AS est_rows,
        |    count(*) AS n_match_keys FROM co),
        |cut AS (
        |  SELECT CAST(row_number() OVER (ORDER BY contrib DESC, key)
        |      AS INT) AS rank, key
        |  FROM co ORDER BY rank LIMIT 5)
        |SELECT cut.rank, co.key, co.left_cnt, co.right_cnt,
        |  co.contrib, tot.est_rows, tot.n_match_keys
        |FROM co JOIN cut USING (key) CROSS JOIN tot
        |ORDER BY rank""".stripMargin)),

    // ---- OLAP rollup: per-(source, lang) doc stats with subtotal and
    //      grand-total levels in ONE pass (Spark expands grouping sets
    //      map-side — no per-level rescan); grouping indicators make
    //      the NULL-vs-subtotal distinction explicit ----
    QueryDef("q14_rollup", (s, dir) =>
      t(s, dir, "documents")
        .rollup("source", "lang")
        .agg(grouping("source").cast("int").as("g_source"),
          grouping("lang").cast("int").as("g_lang"),
          count(lit(1)).as("n_docs"),
          round(sum("n_chars").cast("double") / count(lit(1)), 6)
            .as("avg_chars"))
        .select(col("source"), col("lang"), col("g_source"),
          col("g_lang"), col("n_docs"), col("avg_chars"))
        .orderBy("g_source", "g_lang", "source", "lang"),
    // GROUP BY ROLLUP with explicit GROUPING() indicators; the avg is
    // the exact sum/count ratio rounded once
    Sql(
      """SELECT source, lang,
        |  GROUPING(source) AS g_source, GROUPING(lang) AS g_lang,
        |  count(*) AS n_docs,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
        |FROM documents
        |GROUP BY ROLLUP (source, lang)
        |ORDER BY g_source, g_lang, source, lang""".stripMargin)),

    // ---- join-key skew probe: the "should I salt?" advisor — per-key
    //      counts once, stats + bounded TopK cut from that relation ----
    QueryDef("skew_probe", (s, dir) => {
      Skew.probe(t(s, dir, "orders"), "o_custkey", topK = 5)
    },
    // per-key counts once; stats and the top-5 cut derive from that
    // relation (rank replays as cnt desc, key-string asc)
    Sql(
      """WITH kc AS MATERIALIZED (
        |  SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS cnt
        |  FROM orders GROUP BY 1),
        |stats AS (
        |  SELECT count(*) AS n_keys,
        |    CAST(sum(cnt) AS BIGINT) AS total,
        |    CAST(max(cnt) AS BIGINT) AS max_cnt
        |  FROM kc),
        |cut AS (
        |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key)
        |      AS INT) AS rank, key, cnt
        |  FROM kc ORDER BY rank LIMIT 5)
        |SELECT c.rank, c.key, c.cnt, s.n_keys, s.total,
        |  round(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.total, 6)
        |    AS skew_ratio
        |FROM cut c CROSS JOIN stats s
        |ORDER BY rank""".stripMargin))
  )
}

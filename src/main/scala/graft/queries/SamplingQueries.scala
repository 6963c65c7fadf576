package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Privacy, Sampling, Sketch, TextAnalysis}

import Fixtures._
import OracleSql._
import Oracle._

/** Sampling, splits, sketches and distribution statistics. */
object SamplingQueries {
  val defs: Seq[QueryDef] = Seq(
    // ---- deterministic domain-mixture sampling: per-language keep
    //      rates over the same sha-uniform as hash_split ----
    QueryDef("mixture_sample", (s, dir) => {
      TextAnalysis.stratifiedSample(t(s, dir, "documents"), "doc_id",
          "lang", Map("en" -> 0.5, "zh" -> 0.9, "de" -> 0.25),
          defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(sha256('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::UBIGINT / 4294967296.0 AS u
        |  FROM documents)
        |WHERE u < CASE WHEN lang = 'de' THEN 0.25
        |               WHEN lang = 'en' THEN 0.5
        |               WHEN lang = 'zh' THEN 0.9
        |               ELSE 0.1 END
        |ORDER BY doc_id""".stripMargin)),

    // ---- distribution drift between two snapshots: PSI over
    //      fixed-width n_chars buckets (two map-side counts, a
    //      bucket-keyed outer join, tiny totals cross join) ----
    QueryDef("drift_psi", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.driftPsi(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "n_chars",
          bucketWidth = 50.0)
        .orderBy("bucket")
    },
    // Laplace-smoothed shares; term order mirrors the Spark plan:
    // (q - p) * ln(q / p) with p/q built as count/total + eps
    Sql(
      """WITH base AS (
        |  SELECT CAST(floor(CAST(n_chars AS DOUBLE) / 50) AS BIGINT)
        |    AS bucket, count(*) AS n_base
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |cur AS (
        |  SELECT CAST(floor(CAST(n_chars AS DOUBLE) / 50) AS BIGINT)
        |    AS bucket, count(*) AS n_cur
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
        |j AS (
        |  SELECT bucket, coalesce(n_base, 0) AS n_base,
        |    coalesce(n_cur, 0) AS n_cur
        |  FROM base FULL OUTER JOIN cur USING (bucket)),
        |tot AS (SELECT sum(n_base) AS t_base, sum(n_cur) AS t_cur FROM j)
        |SELECT bucket, n_base, n_cur,
        |  round((CAST(n_cur AS DOUBLE) / t_cur + 1e-6 -
        |      (CAST(n_base AS DOUBLE) / t_base + 1e-6)) *
        |    ln((CAST(n_cur AS DOUBLE) / t_cur + 1e-6) /
        |      (CAST(n_base AS DOUBLE) / t_base + 1e-6)), 6) AS psi_term
        |FROM j CROSS JOIN tot
        |ORDER BY bucket""".stripMargin)),

    QueryDef("hash_split", (s, dir) => {
      TextAnalysis.hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train'
        |       WHEN u < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(sha256('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::UBIGINT / 4294967296.0 AS u
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // ---- EXACT per-stratum counts via the two-phase distributed
    //      rank — no whole-stratum window (a web-scale stratum is
    //      most of the corpus); the kept set is the k_s smallest full
    //      md5 keys per stratum, which the oracle replays with
    //      row_number ----
    QueryDef("sample_stratified_exact", (s, dir) => {
      Sampling.stratifiedSampleExact(t(s, dir, "documents"), "lang",
          "doc_id", Map("en" -> 30L, "de" -> 15L, "zh" -> 10L))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')) AS rn
        |  FROM documents WHERE lang IN ('en', 'de', 'zh'))
        |WHERE rn <= CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 15
        |  WHEN 'zh' THEN 10 END
        |ORDER BY doc_id""".stripMargin)),

    // ---- exact WEIGHTED sampling without replacement (Efraimidis–
    //      Spirakis reservoir keys −ln(u)/w on the two-phase rank
    //      machinery): per-language draws proportional to token count,
    //      restartable and engine-replayable ----
    QueryDef("sample_weighted", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("w",
        TextFunctions.tokenCountCol(col("text")).cast("double"))
      Sampling.weightedSampleExact(docs, "lang", "doc_id", "w",
          Map("en" -> 40L, "de" -> 15L, "es" -> 15L, "fr" -> 10L,
            "zh" -> 15L))
        .select(col("doc_id"), col("lang"),
          col("w").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
    // Efraimidis–Spirakis replay: key = −ln(u)/w ascending, u from the
    // md5 prefix (DuckDB ln = natural log; its log() is log10)
    Sql(
      """WITH wdocs AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> length(x) > 0)) AS DOUBLE) AS w
        |  FROM documents),
        |keyed AS (
        |  SELECT doc_id, lang, w,
        |    -ln(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'),
        |      1, 8))::UBIGINT / 4294967296.0) / w AS k
        |  FROM wdocs WHERE w > 0),
        |ranked AS (
        |  SELECT doc_id, lang, w, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY k ASC, CAST(doc_id AS VARCHAR) ASC) AS rn
        |  FROM keyed)
        |SELECT doc_id, lang, CAST(w AS BIGINT) AS n_tokens FROM ranked
        |WHERE rn <= CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 15
        |  WHEN 'es' THEN 15 WHEN 'fr' THEN 10 WHEN 'zh' THEN 15
        |  ELSE 0 END
        |ORDER BY doc_id""".stripMargin)),

    // ---- deterministic GLOBAL training-order shuffle: every row
    //      gets a stable position 0..N−1 in a permutation keyed by
    //      md5(id:seed); two seeds = two independent epoch orders.
    //      Distributed rank (range sort + broadcast prefix offsets),
    //      never a single-partition window ----
    QueryDef("shuffle_epochs", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang")
      val e1 = Sampling.deterministicShuffle(docs, "doc_id", seed = 1L)
        .select(col("doc_id"), col("position").as("pos_epoch1"))
      val e2 = Sampling.deterministicShuffle(docs, "doc_id", seed = 2L)
        .select(col("doc_id"), col("position").as("pos_epoch2"))
      e1.join(e2, "doc_id").orderBy("doc_id")
    }, Sql(
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':1')) - 1
        |    AS pos_epoch1,
        |  row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':2')) - 1
        |    AS pos_epoch2
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // ---- temperature-flattened language mixture (mT5/XLM-R p^α,
    //      α=0.5): INTEGER-exact targets k_l = min(n_l,
    //      ⌊total·⌊√n_l⌋/Σ⌊√n⌋⌋) — no float share crosses the engine
    //      boundary — then the exact two-phase per-stratum rank take ----
    QueryDef("mixture_temperature", (s, dir) => {
      Sampling.temperatureResample(t(s, dir, "documents"), "lang",
          "doc_id", total = 300L, seed = 7L)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    // integer-exact target replay: s_l = floor(sqrt(n_l)) is
    // engine-deterministic (IEEE sqrt is correctly rounded), then
    // k_l = min(n_l, total*s_l // sum(s_l)) in integer arithmetic
    Sql(
      """WITH n AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
        |sh AS (SELECT lang, n_l,
        |  CAST(floor(sqrt(CAST(n_l AS DOUBLE))) AS BIGINT) AS s_l FROM n),
        |tgt AS (SELECT lang,
        |  least(n_l, 300 * s_l // (SELECT sum(s_l) FROM sh)) AS k_l
        |  FROM sh),
        |r AS (SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7')) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang FROM r JOIN tgt USING (lang)
        |WHERE rn <= k_l
        |ORDER BY doc_id""".stripMargin)),

    // ---- stride-interleaved TRAINING SCHEDULE: a global order where
    //      every prefix approximately honors the temperature shares
    //      (integer ⌊√n_l⌋ weights — the data-loader dual of
    //      mixture_temperature). Per-language rank via the two-phase
    //      groupedRank (no whole-language window), stride key
    //      (rank+1)/s_l, global position via the relational
    //      zipWithIndex — both ranks distributed ----
    QueryDef("mixture_schedule", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang")
      val spark = s
      import spark.implicits._
      val shares = docs.groupBy("lang").count()
        .collect() // bounded by |langs|
        .map(r => (r.getString(0),
          math.floor(math.sqrt(r.getLong(1).toDouble)).toLong)).toSeq
      val ranked = Sampling.groupedRank(
        docs.withColumn("_okey", Sampling.orderKey("doc_id", 7L)),
        "lang", "_okey", "lang_rank")
      val strided = ranked
        .join(broadcast(shares.toDF("lang", "s_l")), "lang")
        .withColumn("stride",
          (col("lang_rank") + 1).cast("double") / col("s_l"))
      Sampling.globalRank(strided,
          Seq("stride", "lang", "doc_id"), "position")
        .select(col("doc_id"), col("lang"), col("lang_rank"),
          col("position"))
        .orderBy("doc_id")
    },
    // stride scheduling replay: per-lang rank, key (rank+1)/s_l (an
    // IEEE-identical integer division on both engines), ties broken
    // (lang, doc_id)
    Sql(
      """WITH n AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
        |sh AS (SELECT lang,
        |  CAST(floor(sqrt(CAST(n_l AS DOUBLE))) AS BIGINT) AS s_l FROM n),
        |r AS (SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7')) - 1
        |    AS lang_rank
        |  FROM documents),
        |k AS (SELECT doc_id, lang, lang_rank,
        |    CAST(lang_rank + 1 AS DOUBLE) / s_l AS stride
        |  FROM r JOIN sh USING (lang))
        |SELECT doc_id, lang, lang_rank,
        |  row_number() OVER (ORDER BY stride, lang, doc_id) - 1
        |    AS position
        |FROM k
        |ORDER BY doc_id""".stripMargin)),

    // ---- EXACT heavy hitters via the two-pass Misra–Gries
    //      discipline: per-partition bounded sketches emit a candidate
    //      SUPERSET (P×k rows), an exact verify pass counts only the
    //      broadcast candidates — the corpus token stream never
    //      shuffles on its raw key, yet the output is exact ----
    QueryDef("heavy_hitters", (s, dir) =>
      Sketch.heavyHitters(t(s, dir, "documents"), "text", phi = 0.034),
    // exact definition the two-pass MG + verify must reproduce: plain
    // GROUP BY + HAVING over the whole token stream
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH toked AS MATERIALIZED (
         |  SELECT unnest($toks) AS tok FROM documents),
         |n AS (SELECT count(*) AS n_tok FROM toked)
         |SELECT tok AS token, count(*) AS cnt
         |FROM toked CROSS JOIN n
         |GROUP BY tok, n_tok
         |HAVING count(*) >= ceil(0.034 * n_tok)
         |ORDER BY cnt DESC, token""".stripMargin
    }),

    // ---- robust outlier detection by MAD (median absolute
    //      deviation): two exact-quantile passes (each one range-sort
    //      rank selection, never a global single-partition sort) +
    //      one map-only count — the length-outlier filter that, unlike
    //      mean/stddev, a heavy tail cannot drag ----
    QueryDef("mad_outliers", (s, dir) => {
      val v = t(s, dir, "documents")
        .select(col("n_chars").cast("double").as("x"))
        .filter(col("x").isNotNull)
      val med = Sampling.exactQuantiles(v, "x", Seq(0.5))
        .collect()(0).getDouble(1)
      val mad = Sampling.exactQuantiles(
          v.select(abs(col("x") - med).as("d")), "d", Seq(0.5))
        .collect()(0).getDouble(1)
      v.agg(count(lit(1)).as("n_total"),
          sum(when(abs(col("x") - med) > lit(1.5) * mad, 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(lit(med).as("median"), lit(mad).as("mad"),
          col("n_total"), col("n_outliers"))
    },
    // same rank-at-floor(q(N-1)) discretization as quantiles_exact,
    // applied twice (median, then median of absolute deviations)
    Sql(
      """WITH v AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
        |  WHERE n_chars IS NOT NULL),
        |n AS (SELECT count(*) AS c FROM v),
        |med AS (
        |  SELECT x AS m FROM (
        |    SELECT x, row_number() OVER (ORDER BY x) - 1 AS r FROM v), n
        |  WHERE r = CAST(floor(0.5 * (c - 1)) AS BIGINT)),
        |mad AS (
        |  SELECT dv AS md FROM (
        |    SELECT abs(x - m) AS dv,
        |      row_number() OVER (ORDER BY abs(x - m)) - 1 AS r
        |    FROM v, med), n
        |  WHERE r = CAST(floor(0.5 * (c - 1)) AS BIGINT))
        |SELECT m AS median, md AS mad, c AS n_total,
        |  (SELECT count(*) FROM v, med, mad
        |   WHERE abs(x - m) > 1.5 * md) AS n_outliers
        |FROM med, mad, n""".stripMargin)),

    // ---- exact distributed quantiles: one range-sort shuffle +
    //      bounded per-partition counts; value at rank ⌊q·(N−1)⌋ ----
    QueryDef("quantiles_exact", (s, dir) =>
      Sampling.exactQuantiles(t(s, dir, "documents"), "n_chars",
        Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)),
    Sql(
      """WITH s AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE)) - 1 AS r
        |  FROM documents WHERE n_chars IS NOT NULL),
        |n AS (SELECT count(*) AS c FROM s),
        |qs AS (SELECT CAST(unnest(
        |  [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]) AS DOUBLE) AS q)
        |SELECT q, v AS value FROM s, n, qs
        |WHERE r = CAST(floor(q * (c - 1)) AS BIGINT)
        |ORDER BY q""".stripMargin)),

    // ---- per-GROUP exact quantiles (doc-length percentiles per
    //      language — the budget-tuning view): same two-phase rank
    //      machinery, never a whole-group window ----
    QueryDef("quantiles_by_lang", (s, dir) =>
      Sampling.groupedQuantiles(t(s, dir, "documents"), "lang", "n_chars",
          Seq(0.1, 0.5, 0.9))
        .select(col("group").as("lang"), col("q"), col("value")),
    Sql(
      """WITH s AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(n_chars AS DOUBLE)) - 1 AS r
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |n AS (SELECT lang, count(*) AS c FROM s GROUP BY lang),
        |qs AS (SELECT CAST(unnest([0.1, 0.5, 0.9]) AS DOUBLE) AS q)
        |SELECT s.lang, q, v AS value FROM s JOIN n USING (lang), qs
        |WHERE s.r = CAST(floor(q * (n.c - 1)) AS BIGINT)
        |ORDER BY lang, q""".stripMargin)),

    // ---- equi-depth histogram (the ANALYZE statistic a cost-based
    //      optimizer feeds on): 9 exact-quantile cut points (bounded
    //      scalar collect, the mad_outliers precedent), then one
    //      map-only bucket pass ----
    QueryDef("histogram_equidepth", (s, dir) => {
      val v = t(s, dir, "documents")
        .select(col("n_chars").cast("double").as("x"))
        .filter(col("x").isNotNull)
      val bounds = Sampling.exactQuantiles(v, "x",
          (1 to 9).map(_ / 10.0))
        .collect().map(_.getDouble(1))
      val bucket = bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col("x") > b, 1).otherwise(0)
      }
      v.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("x").as("lo"),
          max("x").as("hi"))
        .orderBy("bucket")
    },
    // same rank-at-floor(q(N-1)) cut points; bucket id = count of
    // bounds strictly below x (correlated over the 9-row bounds)
    Sql(
      """WITH v AS MATERIALIZED (
        |  SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
        |  WHERE n_chars IS NOT NULL),
        |b AS (
        |  SELECT x AS bv FROM (
        |    SELECT q, x, row_number() OVER (PARTITION BY q ORDER BY x)
        |      - 1 AS r, count(*) OVER (PARTITION BY q) AS c
        |    FROM v CROSS JOIN (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
        |      0.6, 0.7, 0.8, 0.9]) AS q))
        |  WHERE r = CAST(floor(q * (c - 1)) AS BIGINT))
        |SELECT bucket, count(*) AS n, min(x) AS lo, max(x) AS hi
        |FROM (
        |  SELECT x, (SELECT count(*) FROM b WHERE v.x > b.bv) AS bucket
        |  FROM v)
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin)),

    // ---- histogram QUANTILE sketch + exact audit — the third sketch
    //      calibration (HLL=distinct, CMS=frequency, this=quantiles):
    //      one map-only 256-bucket count pass (mergeable — the
    //      telemetry shape), estimates = the target rank's bucket
    //      right edge (≥ exact, err ≤ 1/n by construction), audited
    //      against the exact rank-selection quantiles ----
    QueryDef("quantile_sketch", (s, dir) =>
      Sketch.histogramQuantiles(
        t(s, dir, "documents").select(col("n_chars")),
        "n_chars", nBuckets = 256,
        qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)),
    // identical bucket arithmetic (division before the ×256, right-
    // edge estimate), cum over the bounded histogram, rank-form exact
    Sql(
      """WITH v AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE n_chars IS NOT NULL),
        |mm AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS n FROM v),
        |bk AS (
        |  SELECT CASE WHEN mm.hi > mm.lo
        |    THEN least(CAST(floor((v - lo) / (hi - lo) * 256) AS INT),
        |      255)
        |    ELSE 0 END AS b
        |  FROM v, mm),
        |h AS (SELECT b, count(*) AS cnt FROM bk GROUP BY b),
        |cum AS (
        |  SELECT b, CAST(sum(cnt) OVER (ORDER BY b
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM h),
        |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99])
        |  AS DOUBLE) AS q),
        |tgt AS (
        |  SELECT q, CAST(floor(q * (n - 1)) + 1 AS BIGINT) AS target,
        |    lo, hi FROM qs, mm),
        |pick AS (
        |  SELECT t.q, t.lo, t.hi, min(c.b) AS b
        |  FROM tgt t JOIN cum c ON c.cum >= t.target
        |  GROUP BY 1, 2, 3),
        |est AS (
        |  SELECT q,
        |    CASE WHEN hi > lo
        |      THEN lo + (b + 1) * (hi - lo) / 256 ELSE lo END
        |      AS estimate,
        |    CASE WHEN hi > lo THEN hi - lo ELSE 1.0 END AS span
        |  FROM pick),
        |s AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS r FROM v),
        |ex AS (
        |  SELECT q, v AS exact FROM s, mm, qs
        |  WHERE r = CAST(floor(q * (n - 1)) AS BIGINT))
        |SELECT e.q, x.exact, round(e.estimate, 6) AS estimate,
        |  round((e.estimate - x.exact) / e.span, 6) AS err_norm
        |FROM est e JOIN ex x USING (q)
        |ORDER BY q""".stripMargin)),

    // ---- HyperLogLog distinct-count calibration: the production
    //      cardinality sketch (m=256 registers via ONE map-side-
    //      partial max agg, no corpus-wide distinct shuffle) audited
    //      against the exact count — the count-distinct sibling of
    //      ann_recall / quantiles_sampled ----
    QueryDef("distinct_sketch", (s, dir) =>
      Sketch.hllDistinctCalibration(
        t(s, dir, "documents").select(
          explode(TextFunctions.tokensCol(col("text"),
            removeStopwords = false)).as("tok")),
        "tok", b = 8),
    // identical register construction (md5 32-bit slice, & / >> /
    // bin+lpad+instr rank) and identical estimator arithmetic; the
    // register sum is exact dyadic arithmetic, order-independent
    Sql {
      val toks = sqlToksKeepStop("text")
      val eRaw = "(0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z"
      s"""WITH toked AS MATERIALIZED (
         |  SELECT unnest($toks) AS tok FROM documents),
         |h AS (
         |  SELECT CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT
         |    AS BIGINT) AS hv
         |  FROM toked),
         |hw AS (SELECT hv & 255 AS j, hv >> 8 AS w FROM h),
         |regs AS (
         |  SELECT j, max(CASE WHEN w = 0 THEN 25
         |    ELSE instr(lpad(bin(w), 24, '0'), '1') END) AS mj
         |  FROM hw GROUP BY j),
         |sk AS (
         |  SELECT sum(power(2.0, -mj)) + (256.0 - count(*)) AS z,
         |    256 - count(*) AS v
         |  FROM regs),
         |est AS (
         |  SELECT CASE WHEN $eRaw <= 640.0 AND v > 0
         |    THEN 256.0 * ln(256.0 / v)
         |    ELSE $eRaw END AS estimate
         |  FROM sk),
         |ex AS (SELECT count(DISTINCT tok) AS n_exact FROM toked)
         |SELECT ex.n_exact, round(est.estimate, 4) AS n_estimate,
         |  round(abs(est.estimate - CAST(ex.n_exact AS DOUBLE))
         |    / ex.n_exact, 4) AS rel_error
         |FROM ex CROSS JOIN est""".stripMargin
    }),

    // ---- the per-group HLL — the sketch as the GROUP BY aggregate it
    //      is in production (distinct vocabulary per source): registers
    //      keyed by (source, j), ONE map-side-partial max agg, exact
    //      per-source count_distinct joined on for the audit only ----
    QueryDef("distinct_sketch_by_source", (s, dir) =>
      Sketch.hllDistinctByKey(
        t(s, dir, "documents").select(col("source"),
          explode(TextFunctions.tokensCol(col("text"),
            removeStopwords = false)).as("tok")),
        "source", "tok", b = 8),
    // identical register construction and estimator arithmetic as
    // distinct_sketch, grouped by source
    Sql {
      val toks = sqlToksKeepStop("text")
      val eRaw = "(0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z"
      s"""WITH toked AS MATERIALIZED (
         |  SELECT CAST(source AS VARCHAR) AS k, unnest($toks) AS tok
         |  FROM documents WHERE source IS NOT NULL),
         |h AS (
         |  SELECT k, CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT
         |    AS BIGINT) AS hv
         |  FROM toked),
         |hw AS (SELECT k, hv & 255 AS j, hv >> 8 AS w FROM h),
         |regs AS (
         |  SELECT k, j, max(CASE WHEN w = 0 THEN 25
         |    ELSE instr(lpad(bin(w), 24, '0'), '1') END) AS mj
         |  FROM hw GROUP BY k, j),
         |sk AS (
         |  SELECT k, sum(power(2.0, -mj)) + (256.0 - count(*)) AS z,
         |    256 - count(*) AS v
         |  FROM regs GROUP BY k),
         |est AS (
         |  SELECT k, CASE WHEN $eRaw <= 640.0 AND v > 0
         |    THEN 256.0 * ln(256.0 / v)
         |    ELSE $eRaw END AS estimate
         |  FROM sk),
         |ex AS (SELECT k, count(DISTINCT tok) AS n_exact
         |  FROM toked GROUP BY k)
         |SELECT ex.k AS key, ex.n_exact,
         |  round(est.estimate, 4) AS n_estimate,
         |  round(abs(est.estimate - CAST(ex.n_exact AS DOUBLE))
         |    / ex.n_exact, 4) AS rel_error
         |FROM ex JOIN est ON est.k = ex.k
         |ORDER BY key""".stripMargin
    }),

    // ---- corpus-composition diversity (Shannon / Simpson / Gini)
    //      over source and language shares — the mixture monitor a
    //      curation pipeline tracks per snapshot; integer sums
    //      everywhere except the bounded Σ n·ln n term ----
    QueryDef("corpus_diversity", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.diversity(docs, "source")
        .select(lit("source").as("dimension"), col("*"))
        .unionByName(TextAnalysis.diversity(docs, "lang")
          .select(lit("lang").as("dimension"), col("*")))
        .orderBy("dimension")
    },
    // integer sums (Σn, Σn², Σi·n) drive everything except Σ n·ln n,
    // whose bounded-relation addition drift sits far below 6 dp
    Sql(
      """WITH ds AS (
        |  SELECT CAST(source AS VARCHAR) AS g, count(*) AS n
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |dl AS (
        |  SELECT CAST(lang AS VARCHAR) AS g, count(*) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |rs AS (SELECT g, n, row_number() OVER (ORDER BY n, g) AS i
        |  FROM ds),
        |rl AS (SELECT g, n, row_number() OVER (ORDER BY n, g) AS i
        |  FROM dl),
        |a_s AS (
        |  SELECT count(*) AS gc, CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(n * n) AS BIGINT) AS sn2,
        |    CAST(sum(i * n) AS BIGINT) AS sin,
        |    sum(n * ln(n)) AS snln
        |  FROM rs),
        |a_l AS (
        |  SELECT count(*) AS gc, CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(n * n) AS BIGINT) AS sn2,
        |    CAST(sum(i * n) AS BIGINT) AS sin,
        |    sum(n * ln(n)) AS snln
        |  FROM rl),
        |out_s AS (
        |  SELECT 'source' AS dimension, gc AS n_groups,
        |    round(ln(nt) - snln / nt, 6) AS entropy,
        |    round(CASE WHEN gc > 1
        |      THEN (ln(nt) - snln / nt) / ln(gc) ELSE 0.0 END, 6)
        |      AS norm_entropy,
        |    round(CAST(sn2 AS DOUBLE) / (CAST(nt AS DOUBLE) * nt), 6)
        |      AS simpson,
        |    round((2.0 * sin - (gc + 1.0) * nt) /
        |      (CAST(gc AS DOUBLE) * nt), 6) AS gini
        |  FROM a_s)
        |SELECT * FROM out_s
        |UNION ALL
        |SELECT 'lang', gc,
        |  round(ln(nt) - snln / nt, 6),
        |  round(CASE WHEN gc > 1
        |    THEN (ln(nt) - snln / nt) / ln(gc) ELSE 0.0 END, 6),
        |  round(CAST(sn2 AS DOUBLE) / (CAST(nt AS DOUBLE) * nt), 6),
        |  round((2.0 * sin - (gc + 1.0) * nt) /
        |    (CAST(gc AS DOUBLE) * nt), 6)
        |FROM a_l
        |ORDER BY dimension""".stripMargin)),

    // ---- count-min sketch frequency calibration: the point-frequency
    //      sibling of distinct_sketch / heavy_hitters — 4×256 counters
    //      from ONE map-side-combinable (row, col) agg, top-20 exact
    //      probes audited for overestimate (CMS never underestimates;
    //      the min over rows picks the least collision mass) ----
    QueryDef("cms_calibration", (s, dir) =>
      Sketch.cmsCalibration(
        t(s, dir, "documents").select(
          explode(TextFunctions.tokensCol(col("text"),
            removeStopwords = false)).as("tok")),
        "tok", d = 4, wBits = 8, probeK = 20),
    // identical md5 32-bit-slice hashing and integer counters; the
    // min-over-rows estimate and the TakeOrdered probe cut replay
    // engine-exactly
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH toked AS MATERIALIZED (
         |  SELECT unnest($toks) AS tok FROM documents),
         |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |cells AS (
         |  SELECT r,
         |    ('0x' || substr(md5(r || ':' || tok), 1, 8))::UBIGINT % 256
         |      AS c
         |  FROM toked CROSS JOIN rs),
         |sketch AS MATERIALIZED (
         |  SELECT r, c, count(*) AS cnt FROM cells GROUP BY 1, 2),
         |probes AS (
         |  SELECT tok, count(*) AS n_exact FROM toked GROUP BY tok
         |  ORDER BY n_exact DESC, tok LIMIT 20),
         |pc AS (
         |  SELECT p.tok, p.n_exact, rs.r,
         |    ('0x' || substr(md5(rs.r || ':' || p.tok), 1, 8))::UBIGINT
         |      % 256 AS c
         |  FROM probes p CROSS JOIN rs),
         |est AS (
         |  SELECT tok, n_exact, min(cnt) AS n_est
         |  FROM pc JOIN sketch USING (r, c) GROUP BY 1, 2)
         |SELECT tok AS token, n_exact, n_est,
         |  n_est - n_exact AS overestimate
         |FROM est
         |ORDER BY n_exact DESC, token""".stripMargin
    }),

    // ---- the CLOSED count-min tuning loop (the third closed loop
    //      beside dedup_tuned and ann_tuned): widths 16/64/256 swept
    //      from ONE finest-sketch pass (power-of-two widths fold:
    //      cnt_w = Σ cnt_256 over c mod w), the smallest width whose
    //      max probe overestimate is ≤ 2% of N selected (none → the
    //      largest), and the tuned sketch's probe table emitted with
    //      its width on every row ----
    QueryDef("cms_tuned", (s, dir) =>
      Sketch.cmsTuned(
        t(s, dir, "documents").select(
          explode(TextFunctions.tokensCol(col("text"),
            removeStopwords = false)).as("tok")),
        "tok", d = 4, wBitsGrid = Seq(4, 6, 8), probeK = 20,
        relBound = 0.02),
    // one finest sketch, modulo folds per width, the same smallest-
    // width-at-the-2%-bound selection (none → widest), tuned probes out
    Sql {
      val toks = sqlToksKeepStop("text")
      def widthCtes(wb: Int): String = {
        val w = 1L << wb
        s"""sk_$wb AS (
           |  SELECT r, c % $w AS c, CAST(sum(cnt) AS BIGINT) AS cnt
           |  FROM fin GROUP BY 1, 2),
           |pc_$wb AS (
           |  SELECT p.tok, p.n_exact, rs.r,
           |    ('0x' || substr(md5(rs.r || ':' || p.tok), 1, 8))::UBIGINT
           |      % 256 % $w AS c
           |  FROM probes p CROSS JOIN rs),
           |est_$wb AS MATERIALIZED (
           |  SELECT tok, n_exact, min(cnt) AS n_est
           |  FROM pc_$wb JOIN sk_$wb USING (r, c) GROUP BY 1, 2)"""
          .stripMargin
      }
      val grid = Seq(4, 6, 8)
      val sweepRows = grid.map(wb =>
        s"SELECT $wb AS wbits, max(n_est - n_exact) AS mo FROM est_$wb")
        .mkString("\nUNION ALL\n")
      val finalRows = grid.map(wb =>
        s"SELECT $wb AS wbits, tok, n_exact, n_est FROM est_$wb")
        .mkString("\nUNION ALL\n")
      s"""WITH toked AS MATERIALIZED (
         |  SELECT unnest($toks) AS tok FROM documents),
         |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |cells AS (
         |  SELECT r,
         |    ('0x' || substr(md5(r || ':' || tok), 1, 8))::UBIGINT % 256
         |      AS c
         |  FROM toked CROSS JOIN rs),
         |fin AS MATERIALIZED (
         |  SELECT r, c, count(*) AS cnt FROM cells GROUP BY 1, 2),
         |nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM fin
         |  WHERE r = 0),
         |probes AS MATERIALIZED (
         |  SELECT tok, count(*) AS n_exact FROM toked GROUP BY tok
         |  ORDER BY n_exact DESC, tok LIMIT 20),
         |${grid.map(widthCtes).mkString(",\n")},
         |sweep AS (
         |  $sweepRows),
         |sel AS (
         |  SELECT coalesce(
         |    (SELECT min(wbits) FROM sweep, nt
         |     WHERE CAST(mo AS DOUBLE) <= 0.02 * nt.n),
         |    ${grid.max}) AS wbits),
         |allw AS (
         |  $finalRows)
         |SELECT a.wbits, a.tok AS token, a.n_exact, a.n_est,
         |  a.n_est - a.n_exact AS overestimate
         |FROM allw a JOIN sel s ON a.wbits = s.wbits
         |ORDER BY n_exact DESC, token""".stripMargin
    }),

    // ---- ε-DP Laplace release of per-language counts (sensitivity-1
    //      count + Laplace(1/ε) noise; the true count never appears in
    //      the output). The noise draw is the repo's deterministic
    //      md5-uniform so the release is testable — swap in a secure
    //      RNG in production and nothing else changes ----
    QueryDef("dp_counts", (s, dir) => {
      Privacy.dpGroupCounts(t(s, dir, "documents"), "lang",
          epsilon = 0.5)
        .orderBy("lang")
    },
    // identical inverse-CDF Laplace arithmetic on the same md5
    // uniform; ln drift between libms sits ~10 orders below the 6-dp
    // rounding
    Sql(
      """WITH g AS (
        |  SELECT lang, count(*) AS n,
        |    ('0x' || substr(md5(lang || ':42'), 1, 8))::UBIGINT
        |      / 4294967296.0 AS u
        |  FROM documents GROUP BY lang)
        |SELECT lang,
        |  round(CAST(n AS DOUBLE) + (-(1.0 / 0.5)) * sign(u - 0.5) *
        |    ln(greatest(1e-12, 1.0 - 2.0 * abs(u - 0.5))), 6)
        |    AS n_noisy,
        |  0.5 AS epsilon
        |FROM g ORDER BY lang""".stripMargin)),

    // ---- GROUP-ATOMIC split (GroupKFold / leakage-safe): the split
    //      key is the SOURCE hash, so near-duplicate docs from one
    //      source can never straddle train/test — hashSplit keyed on
    //      the group column, the one-line fix for split leakage ----
    QueryDef("split_grouped", (s, dir) =>
      TextAnalysis.hashSplit(t(s, dir, "documents"), "source",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          salt = "gsplit")
        .groupBy("split")
        .agg(count_distinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"))
        .orderBy("split"),
    // the same sha-uniform rule keyed on source; group atomicity is
    // structural (one hash -> one split)
    Sql(
      """WITH s AS (
        |  SELECT source,
        |    CASE WHEN u < 0.8 THEN 'train'
        |         WHEN u < 0.9 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (
        |    SELECT source,
        |      ('0x' || substr(sha256('gsplit:' || source), 1, 8))
        |        ::UBIGINT / 4294967296.0 AS u
        |    FROM documents))
        |SELECT split, count(DISTINCT source) AS n_sources,
        |  count(*) AS n_docs
        |FROM s GROUP BY split
        |ORDER BY split""".stripMargin)),

    // ---- sample-based quantile estimation with an HONEST rank-error
    //      audit (the ann_recall / dedup_calibration discipline for
    //      order statistics): estimate quantiles on a 20% sha-uniform
    //      sample, then measure each estimate's TRUE rank against the
    //      full corpus — the sampling-error tuning loop for "how small
    //      a sample can size my range partitioner / histogram" ----
    QueryDef("quantiles_sampled", (s, dir) => {
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("double").as("x"))
        .filter(col("x").isNotNull)
      val sample = TextAnalysis.hashSplit(docs, "doc_id",
          Seq("keep" -> 0.2, "rest" -> 0.8), salt = "qsample")
        .filter(col("split") === "keep")
      val est = Sampling.exactQuantiles(sample, "x", qs)
        .select(col("q"), col("value").as("est_value"))
      val exact = Sampling.exactQuantiles(docs, "x", qs)
        .select(col("q"), col("value").as("exact_value"))
      // true rank of each estimate: one pass over the corpus against
      // the broadcast 5-row estimate relation (map-side partials)
      val ranks = docs.crossJoin(broadcast(est))
        .groupBy("q", "est_value")
        .agg(sum(when(col("x") <= col("est_value"), 1L).otherwise(0L))
          .as("rank_le"), count(lit(1)).as("n"))
        .select(col("q"), col("est_value"),
          round(abs(col("rank_le").cast("double") / col("n")
            - col("q")), 6).as("rank_error"))
      exact.join(ranks, "q")
        .select(col("q"), col("exact_value"), col("est_value"),
          col("rank_error"))
        .orderBy("q")
    },
    // estimate = exact quantile over the sha-sampled subset; the rank
    // audit counts x <= estimate over the full corpus
    Sql {
      s"""WITH qs AS (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS q),
         |v AS MATERIALIZED (
         |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS x FROM documents
         |  WHERE n_chars IS NOT NULL),
         |samp AS MATERIALIZED (
         |  SELECT doc_id, x FROM v
         |  WHERE ('0x' || substr(sha256('qsample:' ||
         |      CAST(doc_id AS VARCHAR)), 1, 8))
         |    ::UBIGINT / 4294967296.0 < 0.2),
         |ex AS (
         |  SELECT q, x AS exact_value FROM (
         |    SELECT q, x, row_number() OVER (PARTITION BY q ORDER BY x)
         |      - 1 AS r, count(*) OVER (PARTITION BY q) AS c
         |    FROM v CROSS JOIN qs)
         |  WHERE r = CAST(floor(q * (c - 1)) AS BIGINT)),
         |es AS (
         |  SELECT q, x AS est_value FROM (
         |    SELECT q, x, row_number() OVER (PARTITION BY q ORDER BY x)
         |      - 1 AS r, count(*) OVER (PARTITION BY q) AS c
         |    FROM samp CROSS JOIN qs)
         |  WHERE r = CAST(floor(q * (c - 1)) AS BIGINT)),
         |rk AS (
         |  SELECT es.q, es.est_value,
         |    round(abs(CAST(sum(CASE WHEN v.x <= es.est_value THEN 1
         |      ELSE 0 END) AS DOUBLE) / count(*) - es.q), 6)
         |      AS rank_error
         |  FROM v CROSS JOIN es GROUP BY es.q, es.est_value)
         |SELECT ex.q, ex.exact_value, rk.est_value, rk.rank_error
         |FROM ex JOIN rk ON ex.q = rk.q
         |ORDER BY ex.q""".stripMargin
    })
  )
}

package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{BenchmarkRunner, Bm25, Interleave, IrMetrics}

import Fixtures._
import OracleSql._
import Oracle._

/** IR evaluation: benchmark runs, metrics, paired significance,
  * interleaving and hard-negative mining. */
object EvaluationQueries {
  val defs: Seq[QueryDef] = Seq(
    // ---- batch benchmark evaluation (A5+J6+W6 in one plan) ----
    QueryDef("bench_eval", (s, dir) => {
      // same ingested collection as search_hybrid (identical chunker
      // config), blue/green-persisted once per session — the reference
      // evaluates against an EXISTING index, so the bench times the
      // EVAL; the build path keeps its own probe (build_pipeline).
      // The oracle replays the identical chunk relation in SQL.
      val chunks = ingestedChunksSnapshot(s, dir)
      val spark = s
      import spark.implicits._
      val queries = BenchQueries.toDF("query_id", "query_text")
      // deterministic qrels: docs whose id ends in the query id's digit
      val qrels = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("doc_id"),
          (col("doc_id") % 3 + 1).cast("int").as("query_id"),
          (col("doc_id") % 4).cast("int").as("grade"))
        .select("query_id", "doc_id", "grade")
      BenchmarkRunner.evaluate(chunks, queries, qrels,
          mode = "hybrid", k = 20, dim = 32,
          index = Some(ingestedSparseIndex(s, dir)))
        .select(col("metric"), col("k"), round(col("value"), 6).as("value"),
          col("n_queries"))
        .orderBy("metric", "k")
    },
    // Batch benchmark eval over the REAL chunked corpus: the recursive
    // chunker CTE (same (20,20) instantiation as search_hybrid) feeds
    // per-query dense + sparse runs at k=20, RRF fusion, the W6
    // first-hit doc collapse (docs re-ranked 1..n by their best chunk's
    // fused rank), and the shared A5/J6 metric tail
    // (ref shared/benchmarks/evaluator.py:118-308).
    Sql {
      val denseSelects = BenchQueries.map { case (qid, qtext) =>
        val qv = TextFunctions.mockEmbeddingDouble(qtext, KnnTextDim)
        s"SELECT $qid AS query_id, chunk_id, ${mockDotExpr(qv)} AS score" +
          " FROM cvnrm"
      }.mkString("\nUNION ALL\n")
      val qtermVals = BenchQueries.flatMap { case (qid, qtext) =>
        TextFunctions.tokenize(qtext).groupBy(identity).view.mapValues(_.size)
          .toSeq.sortBy(_._1).map { case (t, n) => s"($qid, '$t', $n)" }
      }.mkString(", ")
      "WITH RECURSIVE " + recursiveChunkCtes(20, 20) + s""",
         |$ChunksFromRecursiveCte,
         |${bm25WeightsCtes(p = "b",
            source = "(SELECT chunk_id AS doc_id, content AS text FROM chunks)")},
         |${mockVecCtes("chunks", "chunk_id", "content", "cv")},
         |dscore AS (
         |  $denseSelects),
         |drun AS (
         |  SELECT query_id, chunk_id, r FROM (
         |    SELECT query_id, chunk_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, chunk_id) AS r
         |    FROM dscore) WHERE r <= 20),
         |bqterms AS (
         |  SELECT * FROM (VALUES $qtermVals) AS t(query_id, term, q_tf)),
         |bqw AS (
         |  SELECT bqterms.query_id, bqterms.term,
         |    CAST(bqterms.q_tf AS DOUBLE) * bidf.idf AS q_weight
         |  FROM bqterms JOIN bidf ON bqterms.term = bidf.term
         |  WHERE bidf.idf > 0),
         |sscore AS (
         |  SELECT bqw.query_id, w.doc_id AS chunk_id,
         |    list_sum(list(w.weight * bqw.q_weight ORDER BY w.term)) AS score
         |  FROM bweights w JOIN bqw ON w.term = bqw.term
         |  GROUP BY bqw.query_id, w.doc_id),
         |srun AS (
         |  SELECT query_id, chunk_id, r FROM (
         |    SELECT query_id, chunk_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, chunk_id) AS r
         |    FROM sscore) WHERE r <= 20),
         |fusedq AS (
         |  SELECT coalesce(d.query_id, s.query_id) AS query_id,
         |    coalesce(d.chunk_id, s.chunk_id) AS chunk_id,
         |    coalesce(1.0 / (60 + d.r), 0.0) +
         |      coalesce(1.0 / (60 + s.r), 0.0) AS score
         |  FROM drun d FULL OUTER JOIN srun s
         |    ON d.query_id = s.query_id AND d.chunk_id = s.chunk_id),
         |crun AS (
         |  SELECT query_id, chunk_id, crank FROM (
         |    SELECT query_id, chunk_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, chunk_id) AS crank
         |    FROM fusedq) WHERE crank <= 20),
         |collapsed AS (
         |  SELECT c.query_id, k.doc_id, min(c.crank) AS frank
         |  FROM crun c JOIN chunks k ON k.chunk_id = c.chunk_id
         |  GROUP BY c.query_id, k.doc_id),
         |runs AS (
         |  SELECT query_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY frank) AS rank,
         |    doc_id
         |  FROM collapsed),
         |qrels AS (
         |  SELECT CAST(doc_id % 3 + 1 AS INT) AS query_id,
         |    CAST(doc_id AS VARCHAR) AS doc_id,
         |    CAST(doc_id % 4 AS INT) AS grade
         |  FROM documents),
         |$irMetricsSqlTail""".stripMargin
    }),

    // ---- batch benchmark eval, chunker-free twin with a FULL SQL
    //      oracle: docs-as-chunks, so the dense+sparse+RRF runs, the W6
    //      collapse and the A5/J6 metric fan-out are hash-checked ----
    QueryDef("bench_eval_docs", (s, dir) => {
      val docsAsChunks = docsAsChunksSnapshot(s, dir)
      val spark = s
      import spark.implicits._
      val queries = BenchQueries.toDF("query_id", "query_text")
      val qrels = t(s, dir, "documents")
        .select((col("doc_id") % 3 + 1).cast("int").as("query_id"),
          col("doc_id").cast("string").as("doc_id"),
          (col("doc_id") % 4).cast("int").as("grade"))
      BenchmarkRunner.evaluate(docsAsChunks, queries, qrels,
          mode = "hybrid", k = 20, dim = KnnTextDim,
          index = Some(docsSparseIndex(s, dir)))
        .select(col("metric"), col("k"), round(col("value"), 6).as("value"),
          col("n_queries"))
        .orderBy("metric", "k")
    }, Sql {
      val denseSelects = BenchQueries.map { case (qid, qtext) =>
        val qv = TextFunctions.mockEmbeddingDouble(qtext, KnnTextDim)
        s"SELECT $qid AS query_id, doc_id, ${mockDotExpr(qv)} AS score FROM nrm"
      }.mkString("\nUNION ALL\n")
      val qtermVals = BenchQueries.flatMap { case (qid, qtext) =>
        TextFunctions.tokenize(qtext).groupBy(identity).view.mapValues(_.size)
          .toSeq.sortBy(_._1).map { case (t, n) => s"($qid, '$t', $n)" }
      }.mkString(", ")
      s"""WITH $Bm25WeightsCtes,
         |$mockDocVecCtes,
         |dscore AS (
         |  $denseSelects),
         |drun AS (
         |  SELECT query_id, chunk_id, r FROM (
         |    SELECT query_id, CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, CAST(doc_id AS VARCHAR)) AS r
         |    FROM dscore) WHERE r <= 20),
         |bqterms AS (
         |  SELECT * FROM (VALUES $qtermVals) AS t(query_id, term, q_tf)),
         |bqw AS (
         |  SELECT bqterms.query_id, bqterms.term,
         |    CAST(bqterms.q_tf AS DOUBLE) * idf.idf AS q_weight
         |  FROM bqterms JOIN idf ON bqterms.term = idf.term
         |  WHERE idf.idf > 0),
         |sscore AS (
         |  SELECT bqw.query_id, w.doc_id,
         |    list_sum(list(w.weight * bqw.q_weight ORDER BY w.term)) AS score
         |  FROM weights w JOIN bqw ON w.term = bqw.term
         |  GROUP BY bqw.query_id, w.doc_id),
         |srun AS (
         |  SELECT query_id, chunk_id, r FROM (
         |    SELECT query_id, CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, CAST(doc_id AS VARCHAR)) AS r
         |    FROM sscore) WHERE r <= 20),
         |fusedq AS (
         |  SELECT coalesce(d.query_id, s.query_id) AS query_id,
         |    coalesce(d.chunk_id, s.chunk_id) AS chunk_id,
         |    coalesce(1.0 / (60 + d.r), 0.0) +
         |      coalesce(1.0 / (60 + s.r), 0.0) AS score
         |  FROM drun d FULL OUTER JOIN srun s
         |    ON d.query_id = s.query_id AND d.chunk_id = s.chunk_id),
         |runs AS (
         |  SELECT query_id, rank, chunk_id AS doc_id FROM (
         |    SELECT query_id, chunk_id, score,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, chunk_id) AS rank
         |    FROM fusedq) WHERE rank <= 20),
         |qrels AS (
         |  SELECT CAST(doc_id % 3 + 1 AS INT) AS query_id,
         |    CAST(doc_id AS VARCHAR) AS doc_id,
         |    CAST(doc_id % 4 AS INT) AS grade
         |  FROM documents),
         |$irMetricsSqlTail""".stripMargin
    }),

    // ---- hard-negative mining for contrastive training: per bench
    //      query, the top BM25-scored docs that are NOT qrels
    //      positives. One relational plan: query-term weights joined
    //      to the pinned doc-weight relation, an anti-join against the
    //      positives, then TopK.perGroup's two-phase bounded cut — no
    //      per-query rank window ever shuffles the full scored set.
    //      Scores are rounded BEFORE the cut so the rank order is
    //      bit-replayable cross-engine (sum order differs; 6 dp
    //      absorbs it). ----
    QueryDef("hard_negatives", (s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = docsTextIndex(s, dir)
      val spark = s
      import spark.implicits._
      val qterms = BenchQueries.flatMap { case (qid, qt) =>
        TextFunctions.tokenize(qt).groupBy(identity).view.mapValues(_.size)
          .toSeq.map { case (term, n) => (qid, term, n) }
      }.toDF("query_id", "term", "q_tf")
      val qw = qterms.join(idx.stats.select("term", "idf"), "term")
        .filter(col("idf") > 0)
        .select(col("query_id"), col("term"),
          (col("q_tf").cast("double") * col("idf")).as("q_weight"))
      val scored = idx.docWeights.join(broadcast(qw), "term")
        .groupBy("query_id", "id")
        .agg(round(sum(col("weight") * col("q_weight")), 6).as("score"))
      val positives = docs
        .select(((col("doc_id") % 3) + 1).cast("int").as("query_id"),
          col("doc_id").as("id"))
        .filter(col("doc_id") % 4 > 0)
      val negs = scored.join(positives, Seq("query_id", "id"), "left_anti")
      graft.operators.TopK.perGroup(
          negs.select(col("query_id"),
            col("id").cast("string").as("doc_id"),
            col("id").cast("string").as("chunk_id"), col("score")),
          "query_id", 10)
        .select(col("query_id"), col("rank"),
          col("doc_id").cast("long").as("doc_id"), col("score"))
        .orderBy("query_id", "rank")
    }, Sql {
      val qtermVals = BenchQueries.flatMap { case (qid, qtext) =>
        TextFunctions.tokenize(qtext).groupBy(identity).view.mapValues(_.size)
          .toSeq.sortBy(_._1).map { case (t, n) => s"($qid, '$t', $n)" }
      }.mkString(", ")
      s"""WITH $Bm25WeightsCtes,
         |bqterms AS (
         |  SELECT * FROM (VALUES $qtermVals) AS t(query_id, term, q_tf)),
         |bqw AS (
         |  SELECT bqterms.query_id, bqterms.term,
         |    CAST(bqterms.q_tf AS DOUBLE) * idf.idf AS q_weight
         |  FROM bqterms JOIN idf ON bqterms.term = idf.term
         |  WHERE idf.idf > 0),
         |sscore AS (
         |  SELECT bqw.query_id, w.doc_id,
         |    round(list_sum(list(w.weight * bqw.q_weight ORDER BY w.term)),
         |      6) AS score
         |  FROM weights w JOIN bqw ON w.term = bqw.term
         |  GROUP BY bqw.query_id, w.doc_id),
         |negs AS (
         |  SELECT query_id, doc_id, score FROM sscore
         |  WHERE NOT (doc_id % 3 + 1 = query_id AND doc_id % 4 > 0)),
         |ranked AS (
         |  SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, CAST(doc_id AS VARCHAR)) AS rank
         |  FROM negs)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    }),

    // ---- paired significance between two rankers (Smucker et al.,
    //      CIKM 2007): BM25 vs the doc-length prior baseline over the
    //      bench_eval panel/qrels, per-query nDCG@10 deltas → paired
    //      t statistic + sign-test counts — the statistical guard
    //      every "ranker B beats ranker A" bench claim needs ----
    QueryDef("ir_significance", (s, dir) => {
      val docs = t(s, dir, "documents")
      // ONE multi-query plan instead of 11 unioned searchTopK legs
      // (r15): per-query top-20 sets and scores are identical
      // (searchTopKMulti preserves the fold order and the
      // (score desc, id) cut tie-break); the pinned doc-weight
      // relation is scanned once, not once per leg
      val runA = Bm25.searchTopKMulti(BenchQueries, 20,
          docsTextIndex(s, dir), s)
        .select(col("query_id"), col("id").as("doc_id"), col("score"))
      val wq = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"))
      val ranksA = runA.withColumn("rank", row_number().over(wq))
        .select("query_id", "rank", "doc_id")
      val prior = docs
        .orderBy(col("n_chars").desc, col("doc_id")).limit(20)
        .select("doc_id", "n_chars")
      val spark = s
      import spark.implicits._
      val qids = BenchQueries.map(_._1).toDF("query_id")
      val ranksB = qids.crossJoin(prior)
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .select("query_id", "rank", "doc_id")
      val qrels = docs.select(
        (col("doc_id") % 3 + 1).cast("int").as("query_id"),
        col("doc_id"), (col("doc_id") % 4).cast("int").as("grade"))
      IrMetrics.pairedSignificance(ranksA, ranksB, qrels, "ndcg", 10)
        .select(col("n_queries"), round(col("mean_a"), 6).as("mean_a"),
          round(col("mean_b"), 6).as("mean_b"),
          round(col("mean_delta"), 6).as("mean_delta"),
          round(col("t_stat"), 6).as("t_stat"),
          col("wins"), col("losses"), col("ties"))
    },
    // per-query BM25 legs vs the static length-prior run, nDCG@10 per
    // query quantized to the 1e-6 integer grid, then the paired t from
    // EXACT integer sums — the same fixed-order expression as
    // IrMetrics.pairedSignificance
    Sql {
      val legs = BenchQueries.map { case (qid, qtext) =>
        s"""q${qid}w AS (
           |  SELECT q.term, CAST(q.q_tf AS DOUBLE) * idf.idf AS q_weight
           |  FROM (VALUES ${queryValuesFor(qtext)}) AS q(term, q_tf)
           |  JOIN idf ON q.term = idf.term
           |  WHERE idf.idf > 0),
           |r$qid AS (
           |  SELECT $qid AS query_id,
           |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
           |    doc_id
           |  FROM (
           |    SELECT w.doc_id,
           |      list_sum(list(w.weight * qw.q_weight ORDER BY w.term))
           |        AS score
           |    FROM weights w JOIN q${qid}w qw ON w.term = qw.term
           |    GROUP BY w.doc_id
           |    ORDER BY score DESC, doc_id LIMIT 20))""".stripMargin
      }.mkString(",\n")
      val runsA = BenchQueries.map(q => s"SELECT * FROM r${q._1}")
        .mkString("\n  UNION ALL ")
      val qidVals = BenchQueries.map(q => s"(${q._1})").mkString(", ")
      s"""WITH $Bm25WeightsCtes,
         |$legs,
         |runs_a AS ($runsA),
         |prior AS (
         |  SELECT doc_id, n_chars FROM documents
         |  ORDER BY n_chars DESC, doc_id LIMIT 20),
         |runs_b AS (
         |  SELECT q.query_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY p.n_chars DESC, p.doc_id) AS rank,
         |    p.doc_id
         |  FROM (VALUES $qidVals) AS q(query_id) CROSS JOIN prior p),
         |rels AS (
         |  SELECT CAST(doc_id % 3 + 1 AS INT) AS query_id, doc_id,
         |    CAST(doc_id % 4 AS INT) AS grade
         |  FROM documents),
         |ideal AS (
         |  SELECT query_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY grade DESC, doc_id) AS irank, grade
         |  FROM rels),
         |idcg AS (
         |  SELECT query_id,
         |    sum(CAST(grade AS DOUBLE) / log2(irank + 1)) AS idcg
         |  FROM ideal WHERE irank <= 10 GROUP BY query_id),
         |na AS (
         |  SELECT r.query_id,
         |    sum(CAST(coalesce(q.grade, 0) AS DOUBLE) / log2(r.rank + 1))
         |      AS dcg
         |  FROM runs_a r LEFT JOIN rels q USING (query_id, doc_id)
         |  WHERE r.rank <= 10 GROUP BY r.query_id),
         |nb AS (
         |  SELECT r.query_id,
         |    sum(CAST(coalesce(q.grade, 0) AS DOUBLE) / log2(r.rank + 1))
         |      AS dcg
         |  FROM runs_b r LEFT JOIN rels q USING (query_id, doc_id)
         |  WHERE r.rank <= 10 GROUP BY r.query_id),
         |va AS (
         |  SELECT n.query_id, CAST(round(
         |    (CASE WHEN i.idcg > 0 THEN n.dcg / i.idcg ELSE 0.0 END)
         |      * 1e6, 0) AS BIGINT) AS qa
         |  FROM na n JOIN idcg i USING (query_id)),
         |vb AS (
         |  SELECT n.query_id, CAST(round(
         |    (CASE WHEN i.idcg > 0 THEN n.dcg / i.idcg ELSE 0.0 END)
         |      * 1e6, 0) AS BIGINT) AS qb
         |  FROM nb n JOIN idcg i USING (query_id)),
         |dd AS (
         |  SELECT va.query_id, qa, qb, qa - qb AS d
         |  FROM va JOIN vb USING (query_id)),
         |st AS (
         |  SELECT count(*) AS n, CAST(sum(qa) AS BIGINT) AS sa,
         |    CAST(sum(qb) AS BIGINT) AS sb, CAST(sum(d) AS BIGINT) AS sd,
         |    CAST(sum(d * d) AS BIGINT) AS sdd,
         |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS wins,
         |    CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS losses,
         |    CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ties
         |  FROM dd)
         |SELECT n AS n_queries,
         |  round(CAST(sa AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
         |    AS mean_a,
         |  round(CAST(sb AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
         |    AS mean_b,
         |  round(CAST(sd AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
         |    AS mean_delta,
         |  round(CASE WHEN (CAST(sdd AS DOUBLE) -
         |      CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) /
         |        CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0
         |    THEN (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) /
         |      sqrt(((CAST(sdd AS DOUBLE) -
         |        CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) /
         |          CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) /
         |        CAST(n AS DOUBLE))
         |    ELSE 0.0 END, 6) AS t_stat,
         |  wins, losses, ties
         |FROM st""".stripMargin
    }),

    // ---- team-draft interleaving (Radlinski et al. 2008), the
    //      deterministic variant: the ONLINE ranker comparison beside
    //      ir_significance's offline test — BM25 and the length prior
    //      merge into one page per panel query, clicks (grade > 0)
    //      credit the contributing team, verdict columns ride every
    //      row ----
    QueryDef("eval_interleaving", (s, dir) => {
      val docs = t(s, dir, "documents")
      // one multi-query plan, not 11 unioned legs (see ir_significance)
      val runA = Bm25.searchTopKMulti(BenchQueries, 10,
          docsTextIndex(s, dir), s)
        .select(col("query_id"), col("id").as("doc_id"), col("score"))
      val wq = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"))
      val ranksA = runA.withColumn("rank", row_number().over(wq))
        .select("query_id", "rank", "doc_id")
      val prior = docs.orderBy(col("n_chars").desc, col("doc_id"))
        .limit(10).select("doc_id", "n_chars")
      val spark = s
      import spark.implicits._
      val ranksB = BenchQueries.map(_._1).toDF("query_id")
        .select(col("query_id").cast("int").as("query_id"))
        .crossJoin(prior)
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .select("query_id", "rank", "doc_id")
      val clicks = docs.filter(col("doc_id") % 4 =!= 0)
        .select((col("doc_id") % 3 + 1).cast("int").as("query_id"),
          col("doc_id"))
      val il = Interleave.teamDraft(ranksA, ranksB, clicks, depth = 10)
        .localCheckpoint() // list + verdict both consume it
      il.join(Interleave.verdict(il), "query_id")
        .orderBy("query_id", "pos")
    },
    // the draft replayed as `depth` chained MATERIALIZED state CTEs
    // (the BPE-oracle discipline), parity baked per step; clicks and
    // the credit verdict join back onto the unnested page
    Sql {
      val depth = 10
      val legs = BenchQueries.map { case (qid, qtext) =>
        s"""ilq${qid}w AS (
           |  SELECT q.term, CAST(q.q_tf AS DOUBLE) * idf.idf AS q_weight
           |  FROM (VALUES ${queryValuesFor(qtext)}) AS q(term, q_tf)
           |  JOIN idf ON q.term = idf.term
           |  WHERE idf.idf > 0),
           |ilr$qid AS (
           |  SELECT $qid AS query_id, doc_id,
           |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
           |  FROM (
           |    SELECT w.doc_id,
           |      list_sum(list(w.weight * qw.q_weight ORDER BY w.term))
           |        AS score
           |    FROM weights w JOIN ilq${qid}w qw ON w.term = qw.term
           |    GROUP BY w.doc_id
           |    ORDER BY score DESC, doc_id LIMIT 10))""".stripMargin
      }.mkString(",\n")
      val runsA = BenchQueries.map(q => s"SELECT * FROM ilr${q._1}")
        .mkString("\n  UNION ALL\n  ")
      val qidVals = BenchQueries.map(q => s"(${q._1})").mkString(", ")
      def pick(l: String) =
        s"list_filter($l, x -> NOT list_contains(" +
          s"list_transform(acc, y -> y.d), x))[1]"
      val steps = (0 until depth).map { i =>
        val (pl, pt, fl, ft) =
          if (i % 2 == 0) ("la", "A", "lb", "B")
          else ("lb", "B", "la", "A")
        s"""s${i + 1} AS MATERIALIZED (
           |  SELECT query_id, la, lb,
           |    CASE WHEN pv IS NOT NULL
           |      THEN list_append(acc, {'d': pv, 'team': '$pt'})
           |    WHEN fv IS NOT NULL
           |      THEN list_append(acc, {'d': fv, 'team': '$ft'})
           |    ELSE acc END AS acc
           |  FROM (
           |    SELECT query_id, la, lb, acc,
           |      ${pick(pl)} AS pv, ${pick(fl)} AS fv
           |    FROM s$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH $Bm25WeightsCtes,
         |$legs,
         |ila AS (
         |  SELECT query_id, list(doc_id ORDER BY rank) AS la
         |  FROM ($runsA) GROUP BY query_id),
         |ilprior AS (
         |  SELECT doc_id, n_chars FROM documents
         |  ORDER BY n_chars DESC, doc_id LIMIT 10),
         |ilb AS (
         |  SELECT q.query_id, list(p.doc_id
         |    ORDER BY p.n_chars DESC, p.doc_id) AS lb
         |  FROM (VALUES $qidVals) AS q(query_id) CROSS JOIN ilprior p
         |  GROUP BY q.query_id),
         |s0 AS (
         |  SELECT a.query_id, a.la, b.lb,
         |    CAST([] AS STRUCT(d BIGINT, team VARCHAR)[]) AS acc
         |  FROM ila a JOIN ilb b USING (query_id)),
         |$steps,
         |page AS (
         |  SELECT query_id, unnest(range(len(acc)))::INT + 1 AS pos,
         |    unnest(acc) AS e
         |  FROM s$depth),
         |clk AS (
         |  SELECT CAST(doc_id % 3 + 1 AS INT) AS query_id, doc_id
         |  FROM documents WHERE doc_id % 4 <> 0),
         |pagerows AS MATERIALIZED (
         |  SELECT p.query_id, p.pos, p.e.d AS doc_id, p.e.team AS team,
         |    (c.doc_id IS NOT NULL) AS clicked
         |  FROM page p LEFT JOIN clk c
         |    ON c.query_id = p.query_id AND c.doc_id = p.e.d),
         |ver AS (
         |  SELECT query_id,
         |    CAST(sum(CASE WHEN clicked AND team = 'A' THEN 1 ELSE 0
         |      END) AS BIGINT) AS credit_a,
         |    CAST(sum(CASE WHEN clicked AND team = 'B' THEN 1 ELSE 0
         |      END) AS BIGINT) AS credit_b
         |  FROM pagerows GROUP BY query_id)
         |SELECT r.query_id, r.pos, r.doc_id, r.team, r.clicked,
         |  v.credit_a, v.credit_b,
         |  CASE WHEN v.credit_a > v.credit_b THEN 'A'
         |       WHEN v.credit_b > v.credit_a THEN 'B'
         |       ELSE 'tie' END AS winner
         |FROM pagerows r JOIN ver v USING (query_id)
         |ORDER BY query_id, pos""".stripMargin
    }),

    // ---- IR metrics macro-averaged (A5) over a deterministic run ----
    QueryDef("ir_metrics", (s, dir) => {
      val ev = t(s, dir, "events")
      val counts = ev.groupBy(col("event_type").as("query_id"),
          col("user_id").as("doc_id"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cnt").desc, col("doc_id"))
      val runs = counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("query_id", "rank", "doc_id")
      val qrels = ev.filter(col("user_id") % 3 === 0)
        .select(col("event_type").as("query_id"),
          col("user_id").as("doc_id"),
          (col("user_id") % 4).cast("int").as("grade"))
        .distinct()
      IrMetrics.macroAveraged(runs, qrels)
        .select(col("metric"), col("k"), round(col("value"), 6).as("value"),
          col("n_queries"))
        .orderBy("metric", "k")
    }, Sql(
      s"""WITH counts AS (
         |  SELECT event_type AS query_id, user_id AS doc_id,
         |    count(*) AS cnt
         |  FROM events GROUP BY event_type, user_id),
         |runs AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cnt DESC, doc_id) AS rank
         |    FROM counts) WHERE rank <= 10),
         |qrels AS (
         |  SELECT DISTINCT event_type AS query_id, user_id AS doc_id,
         |    CAST(user_id % 4 AS INT) AS grade
         |  FROM events WHERE user_id % 3 = 0),
         |$irMetricsSqlTail""".stripMargin))
  )
}

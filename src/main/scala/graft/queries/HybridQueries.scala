package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Bm25, Chunking, Dedup, Rrf}
import graft.search.{Ingest, SearchEngine}

import Fixtures._
import OracleSql._
import Oracle._

/** Dense and hybrid retrieval: k-NN, RRF and score fusion, HyDE, id
  * remapping, path filters, multi-collection fan-out and the hybrid
  * fusion tuning loop. */
object HybridQueries {
  /** Dense-leg query vector after MockHyde expansion (F14) — the
    * oracle literal for search_hyde's expanded variant; the sparse leg
    * stays on [[SearchQuery]] (contracts/search.py:21-26). */
  private lazy val HydeQueryVec: Array[Double] =
    TextFunctions.mockEmbeddingDouble(
      SearchEngine.formatQuery(
        graft.plugins.Providers.MockHyde().expand(SearchQuery).get,
        "semantic", None), KnnTextDim)

  /** Parity-half snapshot re-embedded at a NON-default dimension — the
    * heterogeneous-dim multi-collection fixture (each collection's
    * embedding model, and so its vector width, differs; SURVEY §7.4
    * risk 6). Content and ids match [[docsAsChunksSnapshot]]'s halves,
    * so the standing per-half BM25 indexes are shared. */
  private def heteroHalfSnapshot(s: SparkSession, dir: String,
      parity: Int, dim: Int): DataFrame =
    StandingArtifacts(s, dir, s"heteroHalfSnapshot/$parity/$dim")(
      Tables.load(s, dir, "documents")
        .filter(col("doc_id").cast("long") % 2 === parity)
        .select(
          col("doc_id").cast("string").as("doc_id"),
          col("doc_id").cast("string").as("chunk_id"),
          lit(0).as("chunk_index"), lit(1).as("total_chunks"),
          col("doc_id").cast("string").as("path"),
          lit(null).cast("string").as("path_id"),
          col("text").as("content"),
          TextFunctions.mockEmbeddingCol(col("text"), dim).as("vector"))
        .localCheckpoint())

  /** Standing per-collection indexes for the multi-collection twin
    * (each parity half is its own collection with its own corpus
    * stats). */
  private def halfSparseIndex(s: SparkSession, dir: String,
      parity: Int): Bm25.Index =
    StandingArtifacts(s, dir, s"halfSparseIndex/$parity")(
      pinnedSparseIndex(docsAsChunksSnapshot(s, dir)
        .filter(col("doc_id").cast("long") % 2 === parity)))

  val defs: Seq[QueryDef] = Seq(
    // ---- dense k-NN over stored embeddings (W1) ----
    QueryDef("knn_vec", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("raw", VectorFunctions.cosine(col("embedding"), col("q_vec")))
        .orderBy(col("raw").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("raw"), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }, Sql(
      """SELECT vec_id, round(raw, 6) AS score FROM (
        |  SELECT b.vec_id AS vec_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS raw
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id = 0 AND b.vec_id <> 0
        |  ORDER BY raw DESC, b.vec_id LIMIT 10)
        |ORDER BY score DESC, vec_id""".stripMargin)),

    // ---- RRF hybrid fusion (J1 + W3) ----
    QueryDef("rrf_fuse", (s, dir) => {
      val docs = t(s, dir, "documents")
      val dense = docs
        .select(col("doc_id"), col("n_chars").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      val sparse = Bm25.searchTopK(docs, "doc_id", "text", SearchQuery, 50,
          index = Some(docsTextIndex(s, dir)))
        .withColumnRenamed("id", "doc_id")
      Rrf.fuse(dense, sparse, "doc_id", "score", k = 20)
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          col("_dense_rank"), col("_sparse_rank"))
        .orderBy(col("score").desc, col("doc_id"))
    }, Sql(
      s"""WITH $Bm25ScoresCtes,
         |dense AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY n_chars DESC, doc_id) AS r
         |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50),
         |sparse AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY score DESC, doc_id) AS r
         |  FROM bm25_scores ORDER BY score DESC, doc_id LIMIT 50),
         |fused AS (
         |  SELECT coalesce(d.doc_id, sp.doc_id) AS doc_id,
         |    coalesce(1.0 / (60 + d.r), 0.0) +
         |      coalesce(1.0 / (60 + sp.r), 0.0) AS score,
         |    d.r AS _dense_rank, sp.r AS _sparse_rank
         |  FROM dense d FULL OUTER JOIN sparse sp ON d.doc_id = sp.doc_id)
         |SELECT doc_id, round(score, 6) AS score, _dense_rank, _sparse_rank
         |FROM (SELECT * FROM fused ORDER BY score DESC, doc_id LIMIT 20)
         |ORDER BY score DESC, doc_id""".stripMargin)),

    // ---- WEIGHTED RRF (the fusion knob production rankers tune):
    //      same legs as rrf_fuse, dense leg at 0.7 / sparse at 0.3 —
    //      1.0/1.0 recovers classic RRF bit-exactly ----
    QueryDef("rrf_fuse_weighted", (s, dir) => {
      val docs = t(s, dir, "documents")
      val dense = docs
        .select(col("doc_id"), col("n_chars").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      val sparse = Bm25.searchTopK(docs, "doc_id", "text", SearchQuery, 50,
          index = Some(docsTextIndex(s, dir)))
        .withColumnRenamed("id", "doc_id")
      Rrf.fuse(dense, sparse, "doc_id", "score", k = 20,
          wDense = 0.7, wSparse = 0.3)
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          col("_dense_rank"), col("_sparse_rank"))
        .orderBy(col("score").desc, col("doc_id"))
    },
    // same legs, per-leg weights 0.7/0.3 applied to the reciprocal
    // ranks
    Sql(
      s"""WITH $Bm25ScoresCtes,
         |dense AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY n_chars DESC, doc_id) AS r
         |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50),
         |sparse AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY score DESC, doc_id) AS r
         |  FROM bm25_scores ORDER BY score DESC, doc_id LIMIT 50),
         |fused AS (
         |  SELECT coalesce(d.doc_id, sp.doc_id) AS doc_id,
         |    0.7 * coalesce(1.0 / (60 + d.r), 0.0) +
         |      0.3 * coalesce(1.0 / (60 + sp.r), 0.0) AS score,
         |    d.r AS _dense_rank, sp.r AS _sparse_rank
         |  FROM dense d FULL OUTER JOIN sparse sp ON d.doc_id = sp.doc_id)
         |SELECT doc_id, round(score, 6) AS score, _dense_rank, _sparse_rank
         |FROM (SELECT * FROM fused ORDER BY score DESC, doc_id LIMIT 20)
         |ORDER BY score DESC, doc_id""".stripMargin)),

    // ---- dense text search with full SQL oracle (W1 + F3 + F6) ----
    QueryDef("knn_text", (s, dir) => {
      val q = array(KnnQueryVec.toIndexedSeq.map(lit): _*)
      t(s, dir, "documents")
        .withColumn("raw_score", VectorFunctions.dot(
          TextFunctions.mockEmbeddingCol(col("text"), KnnTextDim), q))
        .orderBy(col("raw_score").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), round(col("raw_score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }, Sql(knnTextOracle
)),

    // ---- end-to-end hybrid search over an ingested chunks table
    //      (§3.1 + §3.3) — HASH-CHECKED: the oracle composes the
    //      recursive-chunker CTE with the full dense+sparse+RRF+rerank
    //      SQL (see the search_hybrid entry in oracleSql) ----
    QueryDef("search_hybrid", (s, dir) => {
      // the §3.1 query is measured against an ALREADY-INGESTED
      // collection, as in the reference (search hits a persisted
      // index; the build path is the build_pipeline probe) — the
      // snapshot is built once per session via the T6 blue/green swap
      val chunks = ingestedChunksSnapshot(s, dir)
      SearchEngine.search(chunks, SearchEngine.SearchRequest(
          query = SearchQuery, searchMode = "hybrid", k = 10,
          useReranker = true, vectorDim = 32),
        sparseIndex = Some(ingestedSparseIndex(s, dir)))
        .select(col("doc_id"), col("chunk_id"),
          round(col("score"), 6).as("score"),
          round(col("reranked_score"), 6).as("reranked_score"))
        .orderBy(col("reranked_score").desc, col("score").desc, col("chunk_id"))
    },
    // §3.1 flagship: the SAME dense+sparse+RRF+rerank oracle as
    // search_hybrid_docs, but over the REAL ingested chunk relation —
    // the recursive-chunker CTE (budget 20 = maxTokens 40 − effective
    // overlap 20, the ingestedChunksSnapshot config) feeds chunk-level
    // BM25 stats, chunk-level mock embeddings, both candidate legs at
    // fetchK = candidateK(10) = 50, RRF k=60, the mock cross-encoder
    // rerank, and the final top-10 (ref vecpipe/search/service.py:73-408).
    Sql {
      val qtoks = TextFunctions.tokenize(SearchQuery).distinct.sorted
      val qtoksList = qtoks.map(t => s"'$t'").mkString("[", ", ", "]")
      "WITH RECURSIVE " + recursiveChunkCtes(20, 20) + s""",
         |$ChunksFromRecursiveCte,
         |${bm25WeightsCtes(p = "b",
            source = "(SELECT chunk_id AS doc_id, content AS text FROM chunks)")},
         |bqw AS (
         |  SELECT q.term, CAST(q.q_tf AS DOUBLE) * i.idf AS q_weight
         |  FROM (VALUES $bm25QueryValues) AS q(term, q_tf)
         |  JOIN bidf i ON q.term = i.term WHERE i.idf > 0),
         |bscores AS (
         |  SELECT w.doc_id AS chunk_id,
         |    list_sum(list(w.weight * qw.q_weight ORDER BY w.term)) AS score
         |  FROM bweights w JOIN bqw qw ON w.term = qw.term
         |  GROUP BY w.doc_id),
         |${mockVecCtes("chunks", "chunk_id", "content", "cv")},
         |dscored AS (
         |  SELECT chunk_id, ${mockDotExpr(KnnQueryVec)} AS dscore FROM cvnrm),
         |dense AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT chunk_id,
         |      row_number() OVER (ORDER BY dscore DESC, chunk_id) AS r
         |    FROM dscored) WHERE r <= 50),
         |sparse AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT chunk_id,
         |      row_number() OVER (ORDER BY score DESC, chunk_id) AS r
         |    FROM bscores) WHERE r <= 50),
         |fused AS (
         |  SELECT coalesce(d.chunk_id, sp.chunk_id) AS chunk_id,
         |    coalesce(1.0 / (60 + d.r), 0.0) +
         |      coalesce(1.0 / (60 + sp.r), 0.0) AS score
         |  FROM dense d FULL OUTER JOIN sparse sp ON d.chunk_id = sp.chunk_id),
         |pool AS (
         |  SELECT chunk_id, score FROM fused
         |  ORDER BY score DESC, chunk_id LIMIT 50),
         |rer AS (
         |  SELECT p.chunk_id, p.score,
         |    CAST(len(list_intersect(${sqlToks("c.content")}, $qtoksList))
         |      AS DOUBLE) / ${qtoks.size} AS rscore
         |  FROM pool p JOIN chunks c ON c.chunk_id = p.chunk_id),
         |topr AS (
         |  SELECT chunk_id, score, rscore FROM rer
         |  ORDER BY rscore DESC, score DESC, chunk_id LIMIT 10)
         |SELECT c.doc_id AS doc_id, t.chunk_id AS chunk_id,
         |  round(t.score, 6) AS score, round(t.rscore, 6) AS reranked_score
         |FROM topr t JOIN chunks c ON c.chunk_id = t.chunk_id
         |ORDER BY reranked_score DESC, score DESC, chunk_id""".stripMargin
    }),

    // ---- §3.1 hybrid search, chunker-free twin with a FULL SQL oracle:
    //      every doc is one chunk, so the dense + sparse + RRF + rerank
    //      composition (incl. W5's mock cross-encoder) is hash-checked
    //      end-to-end against DuckDB ----
    QueryDef("search_hybrid_docs", (s, dir) => {
      SearchEngine.search(docsAsChunksSnapshot(s, dir),
          SearchEngine.SearchRequest(
          query = SearchQuery, searchMode = "hybrid", k = 10,
          useReranker = true, vectorDim = KnnTextDim),
          sparseIndex = Some(docsSparseIndex(s, dir)))
        .select(col("doc_id"), col("chunk_id"),
          round(col("score"), 6).as("score"),
          round(col("reranked_score"), 6).as("reranked_score"))
        .orderBy(col("reranked_score").desc, col("score").desc,
          col("chunk_id"))
    }, Sql {
      val qtoks = TextFunctions.tokenize(SearchQuery).distinct.sorted
      val qtoksList = qtoks.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH $Bm25ScoresCtes,
         |$mockDocVecCtes,
         |dense_scored AS (
         |  SELECT doc_id, ${mockDotExpr(KnnQueryVec)} AS dscore FROM nrm),
         |dense AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (ORDER BY dscore DESC,
         |        CAST(doc_id AS VARCHAR)) AS r
         |    FROM dense_scored) WHERE r <= 50),
         |sparse AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (ORDER BY score DESC,
         |        CAST(doc_id AS VARCHAR)) AS r
         |    FROM bm25_scores) WHERE r <= 50),
         |fused AS (
         |  SELECT coalesce(d.chunk_id, sp.chunk_id) AS chunk_id,
         |    coalesce(1.0 / (60 + d.r), 0.0) +
         |      coalesce(1.0 / (60 + sp.r), 0.0) AS score
         |  FROM dense d FULL OUTER JOIN sparse sp ON d.chunk_id = sp.chunk_id),
         |pool AS (
         |  SELECT chunk_id, score FROM fused
         |  ORDER BY score DESC, chunk_id LIMIT 50),
         |rer AS (
         |  SELECT p.chunk_id, p.score,
         |    CAST(len(list_intersect(${sqlToks("d.text")}, $qtoksList))
         |      AS DOUBLE) / ${qtoks.size} AS rscore
         |  FROM pool p JOIN documents d
         |    ON CAST(d.doc_id AS VARCHAR) = p.chunk_id),
         |topr AS (
         |  SELECT chunk_id, score, rscore FROM rer
         |  ORDER BY rscore DESC, score DESC, chunk_id LIMIT 10)
         |SELECT chunk_id AS doc_id, chunk_id, round(score, 6) AS score,
         |  round(rscore, 6) AS reranked_score
         |FROM topr
         |ORDER BY reranked_score DESC, score DESC, chunk_id""".stripMargin
    }),

    // ---- WEIGHTED hybrid at the ENGINE surface (VERDICT r9 #6):
    //      (wDense, wSparse) threaded through SearchRequest into
    //      Rrf.fuse — dense leg 0.7 / sparse 0.3 through the full
    //      §3.1 plan incl. the reranker; search_hybrid/search_hybrid
    //      _docs stay on the 1.0/1.0 defaults (bit-unchanged) ----
    QueryDef("search_hybrid_weighted", (s, dir) => {
      SearchEngine.search(docsAsChunksSnapshot(s, dir),
          SearchEngine.SearchRequest(
          query = SearchQuery, searchMode = "hybrid", k = 10,
          wDense = 0.7, wSparse = 0.3,
          useReranker = true, vectorDim = KnnTextDim),
          sparseIndex = Some(docsSparseIndex(s, dir)))
        .select(col("doc_id"), col("chunk_id"),
          round(col("score"), 6).as("score"),
          round(col("reranked_score"), 6).as("reranked_score"))
        .orderBy(col("reranked_score").desc, col("score").desc,
          col("chunk_id"))
    },
    // search_hybrid_docs with the per-leg fusion weights threaded
    // through the engine: fused = 0.7/(60+dr) + 0.3/(60+sr)
    Sql {
      val qtoks = TextFunctions.tokenize(SearchQuery).distinct.sorted
      val qtoksList = qtoks.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH $Bm25ScoresCtes,
         |$mockDocVecCtes,
         |dense_scored AS (
         |  SELECT doc_id, ${mockDotExpr(KnnQueryVec)} AS dscore FROM nrm),
         |dense AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (ORDER BY dscore DESC,
         |        CAST(doc_id AS VARCHAR)) AS r
         |    FROM dense_scored) WHERE r <= 50),
         |sparse AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (ORDER BY score DESC,
         |        CAST(doc_id AS VARCHAR)) AS r
         |    FROM bm25_scores) WHERE r <= 50),
         |fused AS (
         |  SELECT coalesce(d.chunk_id, sp.chunk_id) AS chunk_id,
         |    0.7 * coalesce(1.0 / (60 + d.r), 0.0) +
         |      0.3 * coalesce(1.0 / (60 + sp.r), 0.0) AS score
         |  FROM dense d FULL OUTER JOIN sparse sp ON d.chunk_id = sp.chunk_id),
         |pool AS (
         |  SELECT chunk_id, score FROM fused
         |  ORDER BY score DESC, chunk_id LIMIT 50),
         |rer AS (
         |  SELECT p.chunk_id, p.score,
         |    CAST(len(list_intersect(${sqlToks("d.text")}, $qtoksList))
         |      AS DOUBLE) / ${qtoks.size} AS rscore
         |  FROM pool p JOIN documents d
         |    ON CAST(d.doc_id AS VARCHAR) = p.chunk_id),
         |topr AS (
         |  SELECT chunk_id, score, rscore FROM rer
         |  ORDER BY rscore DESC, score DESC, chunk_id LIMIT 10)
         |SELECT chunk_id AS doc_id, chunk_id, round(score, 6) AS score,
         |  round(rscore, 6) AS reranked_score
         |FROM topr
         |ORDER BY reranked_score DESC, score DESC, chunk_id""".stripMargin
    }),

    // ---- F14 HyDE on the driver surface: the deterministic MockHyde
    //      passage drives ONLY the dense leg while the original query
    //      string drives the sparse leg (contracts/search.py:21-26,
    //      search_service.py:469-498); a second variant routes through
    //      a FAILING expander to exercise the fallback-to-original
    //      path end-to-end (hyde.py:40-173). Docs-as-chunks twin so
    //      both variants carry a full SQL oracle. ----
    QueryDef("search_hyde", (s, dir) => {
      val docsAsChunks = docsAsChunksSnapshot(s, dir)
      val base = SearchEngine.SearchRequest(query = SearchQuery,
        searchMode = "hybrid", k = 10, vectorDim = KnnTextDim)
      val hyde = SearchEngine.withHyde(base,
        graft.plugins.Providers.MockHyde())
      val failing = new graft.plugins.Providers.QueryExpander {
        override def expand(query: String): Option[String] = None
      }
      val fallback = SearchEngine.withHyde(base, failing)
      // both variants score against the session's STANDING docs index
      // (r6: an earlier in-plan shared cache measured slower, but the
      // memoized pinned index — built once per dir, off the query
      // clock — is the ingestedSparseIndex discipline and wins)
      val idx = Some(docsSparseIndex(s, dir))
      // the two variants differ ONLY in the dense leg (HyDE expands
      // denseQuery; the sparse leg always scores the ORIGINAL query) —
      // compute the shared sparse leg ONCE and feed both hybrid plans
      // (guide §2.4: AQE cannot reuse stages across union legs, so the
      // union re-derived the identical sparse subtree per leg, r15
      // carry-item 1). localCheckpoint is EAGER and runs on the query
      // clock every invocation — k rows, one sparse scan instead of
      // two. docsAsChunks carries no original_chunk_id, so sparseHits
      // here IS the raw retrieval-id leg the parameter contract wants.
      val sharedSparse = SearchEngine.sparseHits(docsAsChunks, base,
        base.k, idx).localCheckpoint()
      SearchEngine.search(docsAsChunks, hyde, sparseIndex = idx,
          precomputedSparseHits = Some(sharedSparse))
        .withColumn("variant", lit("hyde"))
        .unionByName(
          SearchEngine.search(docsAsChunks, fallback, sparseIndex = idx,
              precomputedSparseHits = Some(sharedSparse))
            .withColumn("variant", lit("fallback")))
        .select(col("variant"), col("doc_id"), col("chunk_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("variant"), col("score").desc, col("chunk_id"))
    },
    // F14 HyDE: the expanded-passage vector drives the dense leg only;
    // the sparse leg and the fallback variant stay on the original
    // query. No reranker → fetchK = k = 10 on every leg.
    Sql {
      def leg(p: String, qv: Array[Double]): String =
        s"""${p}dense AS (
           |  SELECT chunk_id, r FROM (
           |    SELECT CAST(doc_id AS VARCHAR) AS chunk_id,
           |      row_number() OVER (ORDER BY dscore DESC,
           |        CAST(doc_id AS VARCHAR)) AS r
           |    FROM (SELECT doc_id, ${mockDotExpr(qv)} AS dscore FROM nrm))
           |  WHERE r <= 10),
           |${p}fused AS (
           |  SELECT coalesce(d.chunk_id, sp.chunk_id) AS chunk_id,
           |    coalesce(1.0 / (60 + d.r), 0.0) +
           |      coalesce(1.0 / (60 + sp.r), 0.0) AS score
           |  FROM ${p}dense d FULL OUTER JOIN sparse sp
           |    ON d.chunk_id = sp.chunk_id),
           |${p}top AS (
           |  SELECT chunk_id, score FROM ${p}fused
           |  ORDER BY score DESC, chunk_id LIMIT 10)"""
      s"""WITH $Bm25ScoresCtes,
         |$mockDocVecCtes,
         |sparse AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (ORDER BY score DESC,
         |        CAST(doc_id AS VARCHAR)) AS r
         |    FROM bm25_scores) WHERE r <= 10),
         |${leg("h_", HydeQueryVec)},
         |${leg("f_", KnnQueryVec)}
         |SELECT variant, chunk_id AS doc_id, chunk_id,
         |  round(score, 6) AS score
         |FROM (
         |  SELECT 'hyde' AS variant, chunk_id, score FROM h_top
         |  UNION ALL
         |  SELECT 'fallback', chunk_id, score FROM f_top)
         |ORDER BY variant, score DESC, chunk_id""".stripMargin
    }),

    // ---- J2 sparse id remap on the driver surface: sparse points
    //      indexed under DERIVED ids (here 'd'||doc_id) carry an
    //      original_chunk_id payload; hits re-key to the original
    //      chunk BEFORE any consumer (service.py:248-274). Top-k and
    //      its tie-break run on the derived ids; the remap happens
    //      after — the oracle replays exactly that order. ----
    QueryDef("sparse_remap", (s, dir) => {
      val derived = t(s, dir, "documents").select(
        concat(lit("d"), col("doc_id")).as("chunk_id"),
        col("doc_id").cast("string").as("original_chunk_id"),
        col("text").as("content"))
      SearchEngine.sparseHits(derived,
          SearchEngine.SearchRequest(query = SearchQuery,
            searchMode = "sparse", k = 20), limit = 20)
        .select(
          // F13 naming: the sparse sibling collection these hits live in
          lit(Ingest.sparseCollectionName("docs", "bm25"))
            .as("sparse_collection"),
          col("chunk_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("chunk_id"))
    },
    // J2: BM25 over the derived-id corpus — identical weights, and the
    // derived ids ('d' || doc_id) share the doc-id string order, so the
    // top-20 tie-break is the same; ids remap to originals afterwards.
    Sql(
      s"""WITH $Bm25ScoresCtes
         |SELECT 'docs_sparse_bm25' AS sparse_collection,
         |  CAST(doc_id AS VARCHAR) AS chunk_id,
         |  round(score, 6) AS score
         |FROM (SELECT doc_id, score FROM bm25_scores
         |  ORDER BY score DESC, CAST(doc_id AS VARCHAR) LIMIT 20)
         |ORDER BY score DESC, chunk_id""".stripMargin)),

    // ---- P4 path_id filter on the driver surface: pipeline-path
    //      routing tags (null = 'default') filter the FUSED result set
    //      — after RRF, before threshold (service.py:313-318), so the
    //      output is the alpha-path SUBSET of the global top-10, not a
    //      top-10 over the alpha corpus. The row count (< k) proves
    //      the filter position. ----
    QueryDef("search_path_filter", (s, dir) => {
      // same standing snapshot, with the pipeline-path tags overlaid
      // (the path_id column does not feed the sparse index)
      val docsAsChunks = docsAsChunksSnapshot(s, dir)
        .withColumn("path_id",
          when(col("doc_id").cast("long") % 3 === 1, lit("alpha"))
            .when(col("doc_id").cast("long") % 3 === 2, lit("beta"))
            .otherwise(lit(null).cast("string")))
      SearchEngine.search(docsAsChunks, SearchEngine.SearchRequest(
          query = SearchQuery, searchMode = "hybrid", k = 10,
          pathId = Some("alpha"), vectorDim = KnnTextDim),
          sparseIndex = Some(docsSparseIndex(s, dir)))
        .select(col("doc_id"), col("chunk_id"), col("path_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("chunk_id"))
    },
    // P4: the alpha-path subset of the GLOBAL fused top-10 (filter
    // sits after fusion, before threshold — fewer than k rows out).
    Sql(
      s"""WITH $Bm25ScoresCtes,
         |$mockDocVecCtes,
         |dscored AS (
         |  SELECT doc_id, ${mockDotExpr(KnnQueryVec)} AS dscore FROM nrm),
         |dense AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (ORDER BY dscore DESC,
         |        CAST(doc_id AS VARCHAR)) AS r
         |    FROM dscored) WHERE r <= 10),
         |sparse AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (ORDER BY score DESC,
         |        CAST(doc_id AS VARCHAR)) AS r
         |    FROM bm25_scores) WHERE r <= 10),
         |fused AS (
         |  SELECT coalesce(d.chunk_id, sp.chunk_id) AS chunk_id,
         |    coalesce(1.0 / (60 + d.r), 0.0) +
         |      coalesce(1.0 / (60 + sp.r), 0.0) AS score
         |  FROM dense d FULL OUTER JOIN sparse sp ON d.chunk_id = sp.chunk_id),
         |top10 AS (
         |  SELECT chunk_id, score FROM fused
         |  ORDER BY score DESC, chunk_id LIMIT 10)
         |SELECT chunk_id AS doc_id, chunk_id, 'alpha' AS path_id,
         |  round(score, 6) AS score
         |FROM top10 WHERE CAST(chunk_id AS BIGINT) % 3 = 1
         |ORDER BY score DESC, chunk_id""".stripMargin)),

    // ---- §3.2 multi-collection fan-out (J7 + W7), chunker-free twin
    //      with a full SQL oracle: per-collection BM25 corpora + dense
    //      legs, RRF per collection, global top-k across both ----
    QueryDef("search_multi_docs", (s, dir) => {
      // halves of the standing snapshot (embeddings already
      // materialized); each collection keeps its own standing index —
      // per-collection corpus stats, built once per dir
      def half(parity: Int) = docsAsChunksSnapshot(s, dir)
        .filter(col("doc_id").cast("long") % 2 === parity)
      val idx = Map(
        "even" -> halfSparseIndex(s, dir, 0),
        "odd" -> halfSparseIndex(s, dir, 1))
      SearchEngine.searchMany(
          Seq("even" -> half(0), "odd" -> half(1)),
          SearchEngine.SearchRequest(query = SearchQuery,
            searchMode = "hybrid", k = 10, vectorDim = KnnTextDim),
          indexes = idx)
        .select(col("collection_id"), col("doc_id"), col("chunk_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("collection_id"), col("chunk_id"))
    }, Sql(multiCollectionOracleSql("even", "odd", None)
)),

    // ---- heterogeneous-dim multi-collection fan-out: two collections
    //      whose embedding models differ (dim 16 vs dim 32), each
    //      sub-plan embedding the query at ITS dimension with the
    //      declared dim ENFORCED against the stored vectors; vec_dim
    //      is measured from the stored column, not declared ----
    QueryDef("search_multi_hetero", (s, dir) => {
      val colls = Seq(
        "narrow" -> heteroHalfSnapshot(s, dir, parity = 0, dim = 16),
        "wide" -> heteroHalfSnapshot(s, dir, parity = 1, dim = 32))
      val res = SearchEngine.searchMany(colls,
        SearchEngine.SearchRequest(query = SearchQuery,
          searchMode = "hybrid", k = 10),
        dims = Map("narrow" -> 16, "wide" -> 32),
        indexes = Map(
          "narrow" -> halfSparseIndex(s, dir, 0),
          "wide" -> halfSparseIndex(s, dir, 1)))
      val measured = colls.map { case (cid, df) =>
        df.select(lit(cid).as("collection_id"), col("chunk_id"),
          size(col("vector")).as("vec_dim"))
      }.reduce(_ unionByName _)
      res.join(broadcast(measured), Seq("collection_id", "chunk_id"))
        .select(col("collection_id"), col("doc_id"), col("chunk_id"),
          col("vec_dim"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("collection_id"), col("chunk_id"))
    },
    // the heterogeneous-dim twin: same fusion algebra (the mock
    // embedding has 8 nonzero components, so its normalized dot is
    // dimension-invariant — the dims differ, the SCORES must not),
    // with each collection's expected vector width asserted
    Sql(
      multiCollectionOracleSql("narrow", "wide", Some((16, 32))))),

    // ---- full build path: chunk -> embed -> index-ready rows; Bench
    //      time / 500 docs gives the BASELINE docs/s comparison ----
    QueryDef("build_pipeline", (s, dir) => {
      Ingest.buildChunks(t(s, dir, "documents"), "bench", "doc_id", "text",
          "character", Chunking.ChunkConfig(minTokens = 10, maxTokens = 100,
            overlapTokens = 10), dim = 64)
        .select(col("chunk_id"), col("doc_id"), col("token_count"),
          size(col("vector")).as("dim"))
        .orderBy("chunk_id")
    },
    // S6/§3.3 build path: the chunk skeleton of Ingest.buildChunks —
    // the character chunker at (maxTokens=100, overlap=10) via the
    // same parameterized recursive CTE, chunk ids doc_id||'_'||idx,
    // and the embed leg pinned by its dimension (the vector VALUES are
    // hash-checked end-to-end by knn_text / search_hybrid_docs, which
    // embed with the identical mockEmbeddingCol arithmetic).
    Sql(
      ("WITH RECURSIVE " + characterChunkCtes(100, 10, 10) + """
        |SELECT chunk_id, doc_id, token_count, dim FROM (
        |  SELECT doc_id, doc_id || '_' || emit_idx AS chunk_id,
        |    CAST(length(regexp_extract_all(substr(text, CAST(a AS INT) + 1,
        |      CAST(b - a AS INT)), '\S+')) AS INT) AS token_count,
        |    64 AS dim
        |  FROM st WHERE emit_idx IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, doc_id || '_0' AS chunk_id,
        |    CAST(length(regexp_extract_all(substr(text, CAST(a AS INT) + 1,
        |      CAST(b - a AS INT)), '\S+')) AS INT) AS token_count,
        |    64 AS dim
        |  FROM small WHERE b > a)
        |ORDER BY chunk_id""".stripMargin))),

    // ---- SPLADE-shaped sparse encoding (F12 activation shape) ----
    QueryDef("splade_mock", (s, dir) => {
      graft.plugins.Providers.SpladeLikeMockIndexer(Dedup.HashFamily.Sha256Slice)
        .encodeDocuments(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").cast("long").as("doc_id"), col("term"),
          round(col("weight"), 6).as("weight"))
        .orderBy("doc_id", "term")
    }, Sql {
      val toks = sqlToks("text")
      val h = "('0x' || substr(sha256('0:' || term), 1, 8))::UBIGINT::BIGINT"
      s"""WITH terms AS (
         |  SELECT doc_id, unnest($toks) AS term FROM documents),
         |acts AS (
         |  SELECT doc_id, term,
         |    max(ln(1.0 + greatest(
         |      CAST($h % 4096 AS DOUBLE) / 1024.0 - 1.0, 0.0))) AS weight
         |  FROM terms GROUP BY doc_id, term)
         |SELECT doc_id, term, round(weight, 6) AS weight
         |FROM acts WHERE weight > 0.0
         |ORDER BY doc_id, term""".stripMargin
    }),

    // ---- CombSUM / CombMNZ score fusion (Fox & Shaw 1994) — the
    //      score-space sibling of rrf_fuse over the SAME two legs:
    //      per-leg min–max normalization, sum, and MNZ's
    //      multi-evidence multiplier ----
    QueryDef("fuse_combsum", (s, dir) => {
      val docs = t(s, dir, "documents")
      val dense = docs
        .select(col("doc_id"), col("n_chars").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      val sparse = Bm25.searchTopK(docs, "doc_id", "text", SearchQuery, 50,
          index = Some(docsTextIndex(s, dir)))
        .withColumnRenamed("id", "doc_id")
      Rrf.combSum(dense, sparse, "doc_id", "score", k = 20)
        .select(col("doc_id"), round(col("combsum"), 6).as("combsum"),
          round(col("combmnz"), 6).as("combmnz"), col("n_legs"))
        .orderBy(col("combmnz").desc, col("doc_id"))
    },
    // per-leg min-max normalization over each leg's own candidate
    // list; the fused merge replayed as a FULL OUTER JOIN (the Spark
    // side's union+max aggregation is value-identical)
    Sql(
      s"""WITH $Bm25ScoresCtes,
         |sp AS (
         |  SELECT doc_id, score FROM bm25_scores
         |  ORDER BY score DESC, doc_id LIMIT 50),
         |dn AS (
         |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS score
         |  FROM documents ORDER BY score DESC, doc_id LIMIT 50),
         |spn AS (
         |  SELECT doc_id, CASE WHEN st.mx > st.mn
         |    THEN (score - st.mn) / (st.mx - st.mn) ELSE 1.0 END AS ns
         |  FROM sp, (SELECT min(score) AS mn, max(score) AS mx FROM sp) st),
         |dnn AS (
         |  SELECT doc_id, CASE WHEN st.mx > st.mn
         |    THEN (score - st.mn) / (st.mx - st.mn) ELSE 1.0 END AS nd
         |  FROM dn, (SELECT min(score) AS mn, max(score) AS mx FROM dn) st),
         |fused AS (
         |  SELECT coalesce(d.doc_id, s.doc_id) AS doc_id,
         |    coalesce(d.nd, 0.0) + coalesce(s.ns, 0.0) AS combsum,
         |    (coalesce(d.nd, 0.0) + coalesce(s.ns, 0.0)) *
         |      CAST((CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END) +
         |        (CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
         |      AS combmnz,
         |    (CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END) +
         |      (CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END) AS n_legs
         |  FROM dnn d FULL OUTER JOIN spn s ON d.doc_id = s.doc_id)
         |SELECT doc_id, round(combsum, 6) AS combsum,
         |  round(combmnz, 6) AS combmnz, n_legs
         |FROM (SELECT * FROM fused ORDER BY combmnz DESC, doc_id LIMIT 20)
         |ORDER BY combmnz DESC, doc_id""".stripMargin)),

    // ---- the CLOSED hybrid-fusion tuning loop (the fifth, after
    //      dedup banding / LSH probing / CMS width / IVF nprobe): the
    //      wDense grid sweeps on the bench panel's qrels — per config,
    //      weighted RRF over the SAME leg-rank relations (checkpointed
    //      once), per-query nDCG@10 through IrMetrics.perQuery,
    //      quantized to the 1e-6 grid and summed EXACTLY — selection =
    //      max panel total, tie to the lowest cfg id (total rule), and
    //      the SearchQuery fusion RUNS with the pick; the selected
    //      config and its panel evidence ride every output row ----
    QueryDef("hybrid_tuned", (s, dir) => {
      val docs = t(s, dir, "documents")
      val htIdx = docsTextIndex(s, dir)
      // STANDING per-dir selection fit (r13 — the dedup_tuned
      // pattern): panel legs, sweep, and max-nDCG selection are
      // corpus-deterministic, so they run once per dir; only the
      // tuned fusion serves on the query clock. The oracle still
      // replays legs + sweep + selection + run.
      val (bestCfg, wSel, bestNdcg) = hybridTunedFit(s, dir)
      val dense = docs
        .select(col("doc_id"), col("n_chars").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      val sparse = Bm25.searchTopK(docs, "doc_id", "text", SearchQuery,
          50, index = Some(htIdx))
        .withColumnRenamed("id", "doc_id")
      Rrf.fuse(dense, sparse, "doc_id", "score", k = 20,
          wDense = wSel, wSparse = 1.0 - wSel)
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          col("_dense_rank"), col("_sparse_rank"),
          lit(bestCfg).as("cfg_id"), lit(wSel).as("w_dense"),
          lit(1.0 - wSel).as("w_sparse"),
          lit(bestNdcg).as("sum_ndcg_micro"))
        .orderBy(col("score").desc, col("doc_id"))
    },
    // the fifth closed loop replayed end-to-end: leg ranks once, the
    // whole wDense grid fused via one cross join, per-(cfg, query)
    // nDCG@10 quantized and summed exactly, selection (tot desc, cfg),
    // final SearchQuery fusion parameterized by the SELECTED w
    Sql {
      val grid = Seq(0.25, 0.5, 0.75, 1.0)
      val legs = BenchQueries.map { case (qid, qtext) =>
        s"""htq${qid}w AS (
           |  SELECT q.term, CAST(q.q_tf AS DOUBLE) * idf.idf AS q_weight
           |  FROM (VALUES ${queryValuesFor(qtext)}) AS q(term, q_tf)
           |  JOIN idf ON q.term = idf.term
           |  WHERE idf.idf > 0),
           |hts$qid AS (
           |  SELECT $qid AS query_id, doc_id,
           |    row_number() OVER (ORDER BY score DESC, doc_id) AS sr
           |  FROM (
           |    SELECT w.doc_id,
           |      list_sum(list(w.weight * qw.q_weight ORDER BY w.term))
           |        AS score
           |    FROM weights w JOIN htq${qid}w qw ON w.term = qw.term
           |    GROUP BY w.doc_id
           |    ORDER BY score DESC, doc_id LIMIT 50))""".stripMargin
      }.mkString(",\n")
      val sparseUnion = BenchQueries
        .map(q => s"SELECT * FROM hts${q._1}")
        .mkString("\n  UNION ALL\n  ")
      val qidVals = BenchQueries.map(q => s"(${q._1})").mkString(", ")
      val gridVals = grid.zipWithIndex
        .map { case (w, i) => s"($i, CAST($w AS DOUBLE))" }
        .mkString(", ")
      s"""WITH $Bm25ScoresCtes,
         |$legs,
         |htsparse AS ($sparseUnion),
         |htprior AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS dr
         |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50),
         |htdense AS (
         |  SELECT q.query_id, p.doc_id, p.dr
         |  FROM (VALUES $qidVals) AS q(query_id) CROSS JOIN htprior p),
         |htgrid AS (SELECT cfg, w FROM (VALUES $gridVals) AS g(cfg, w)),
         |htmerged AS MATERIALIZED (
         |  SELECT coalesce(d.query_id, s.query_id) AS query_id,
         |    coalesce(d.doc_id, s.doc_id) AS doc_id, d.dr, s.sr
         |  FROM htdense d FULL OUTER JOIN htsparse s
         |    ON d.query_id = s.query_id AND d.doc_id = s.doc_id),
         |htruns AS (
         |  SELECT cfg, query_id, doc_id, rank FROM (
         |    SELECT g.cfg, m.query_id, m.doc_id,
         |      row_number() OVER (PARTITION BY g.cfg, m.query_id
         |        ORDER BY g.w * coalesce(1.0 / (60 + m.dr), 0.0) +
         |          (1.0 - g.w) * coalesce(1.0 / (60 + m.sr), 0.0) DESC,
         |          m.doc_id) AS rank
         |    FROM htmerged m CROSS JOIN htgrid g) WHERE rank <= 20),
         |htrels AS (
         |  SELECT CAST(doc_id % 3 + 1 AS INT) AS query_id, doc_id,
         |    CAST(doc_id % 4 AS INT) AS grade
         |  FROM documents),
         |htideal AS (
         |  SELECT query_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY grade DESC, doc_id) AS irank, grade
         |  FROM htrels),
         |htidcg AS (
         |  SELECT query_id,
         |    sum(CAST(grade AS DOUBLE) / log2(irank + 1)) AS idcg
         |  FROM htideal WHERE irank <= 10 GROUP BY query_id),
         |htdcg AS (
         |  SELECT r.cfg, r.query_id,
         |    sum(CAST(coalesce(q.grade, 0) AS DOUBLE) / log2(r.rank + 1))
         |      AS dcg
         |  FROM htruns r LEFT JOIN htrels q USING (query_id, doc_id)
         |  WHERE r.rank <= 10 GROUP BY r.cfg, r.query_id),
         |httot AS (
         |  SELECT d.cfg, CAST(sum(CAST(round(
         |    (CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg ELSE 0.0 END)
         |      * 1e6, 0) AS BIGINT)) AS BIGINT) AS tot
         |  FROM htdcg d JOIN htidcg i USING (query_id)
         |  GROUP BY d.cfg),
         |htsel AS MATERIALIZED (
         |  SELECT g.cfg, g.w, t.tot
         |  FROM httot t JOIN htgrid g USING (cfg)
         |  ORDER BY t.tot DESC, g.cfg LIMIT 1),
         |fdense AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
         |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50),
         |fsparse AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |  FROM bm25_scores ORDER BY score DESC, doc_id LIMIT 50),
         |ffused AS (
         |  SELECT coalesce(d.doc_id, sp.doc_id) AS doc_id,
         |    sel.w * coalesce(1.0 / (60 + d.r), 0.0) +
         |      (1.0 - sel.w) * coalesce(1.0 / (60 + sp.r), 0.0) AS score,
         |    d.r AS _dense_rank, sp.r AS _sparse_rank
         |  FROM fdense d FULL OUTER JOIN fsparse sp
         |    ON d.doc_id = sp.doc_id, htsel sel)
         |SELECT f.doc_id, round(f.score, 6) AS score,
         |  f._dense_rank, f._sparse_rank,
         |  sel.cfg AS cfg_id, sel.w AS w_dense,
         |  1.0 - sel.w AS w_sparse, sel.tot AS sum_ndcg_micro
         |FROM (SELECT * FROM ffused
         |  ORDER BY score DESC, doc_id LIMIT 20) f, htsel sel
         |ORDER BY score DESC, f.doc_id""".stripMargin
    })
  )
}

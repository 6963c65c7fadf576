package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{QueryDot, QueryVector, SparseDot, TextFunctions, VectorExpressions}
import graft.operators.{Bm25, Rrf}
import graft.pipeline.Predicates
import graft.plans.PreparedPlan

/** The core retrieval query (SURVEY.md §3.1) as ONE DataFrame plan:
  * dense cosine top-k ⊕ BM25 sparse top-k → RRF fusion → shaping →
  * filters → optional rerank → top-k.
  *
  * The chunks-table contract is FIXTURES.md §2: a wide DataFrame with at
  * least (collection_id, doc_id, chunk_id, chunk_index, total_chunks,
  * path, content, path_id, vector). Dense scoring assumes vectors are
  * L2-normalized at index time (cosine == dot).
  *
  * Scale posture: both legs end in TakeOrderedAndProject; RRF merges two
  * ≤candidate_k row sets in one partition. The dense leg is one
  * scan+score map over the chunks — brute-force exact, by design the
  * correctness-equivalent of the reference's ANN (SURVEY.md §0); swap
  * in Knn.lshTopK bucketing for the approximate path. What else a
  * request costs depends on its shape:
  *  - a request in any mode against a standing index (docWeights
  *    persisted by the caller) built over the table it searches, on a
  *    table without derived ids and without precomputed sparse hits,
  *    reads the index's serving relation for that table
  *    ([[Bm25.Index.serving]]: payload, vector, forward entries and doc
  *    length per chunk, built once, on the second such request for the
  *    table): every leg scans it, each leg carries its payload through
  *    fusion, and there is no join. Unfiltered, the sparse leg is
  *    scored by the SparseDot kernel and the request runs as one Spark
  *    job. Filtered on served columns, the legs scan the filtered rows;
  *    one aggregate over them collects the filtered corpus's BM25
  *    statistics, the ReweightedSparseDot kernel scores under them, and
  *    the request runs as two jobs, with no tokenize and no shuffle;
  *  - among those, an unfiltered request without the reranker is
  *    answered from a PREPARED plan once its shape has been served
  *    before on the index ([[Bm25.Index.preparedPlan]]; a shape is the
  *    request minus its query: mode, k, content, fusion knobs, score
  *    threshold, path filter and vector dimension). The first served
  *    request of a shape plans in full and keeps its final physical
  *    plan; each later one binds its query terms and query vector into
  *    it ([[graft.plans.PreparedPlan]]) and skips building the
  *    DataFrame, analysis, optimization and physical planning, which
  *    were most of a served request's driver time. Prepared plans read
  *    only the serving relation and live as long as the index, at most
  *    [[Bm25.MaxPreparedShapes]] of them;
  *  - every other request, the first eligible one on each table
  *    included, builds its legs over the (filtered) chunks table and
  *    joins the payload back after fusion (a broadcast). Its sparse leg
  *    depends on the index ([[Bm25.searchTopK]]): a standing one is a
  *    narrow scan of its forward relation; a filtered request, or one
  *    without a standing index, derives the index in-plan and scores by
  *    the postings join, a broadcast of the query weights plus a
  *    shuffle on chunk id. Dense mode is one scan either way.
  */
object SearchEngine {

  /** Search request mirroring shared/contracts/search.py:17-143. */
  final case class SearchRequest(
      query: String,
      denseQuery: Option[String] = None, // HyDE-expanded (F14): dense leg only
      k: Int = 10,
      searchMode: String = "hybrid", // dense | sparse | hybrid
      searchType: String = "semantic",
      instruction: Option[String] = None,
      rrfK: Int = 60,
      // per-leg fusion weights (VERDICT r9 #6): the knob production
      // rankers tune; 1.0/1.0 is classic RRF, so existing requests
      // are bit-unchanged
      wDense: Double = 1.0,
      wSparse: Double = 1.0,
      scoreThreshold: Double = 0.0,
      filters: Map[String, Any] = Map.empty,
      pathId: Option[String] = None,
      useReranker: Boolean = false,
      includeContent: Boolean = false,
      vectorDim: Int = 64)

  /** Per-search-type query instructions
    * (ref packages/vecpipe/search/service.py:49-54). */
  val SearchInstructions: Map[String, String] = Map(
    "semantic" -> "Represent this sentence for searching relevant passages:",
    "question" -> "Represent this question for retrieving supporting documents:",
    "code" -> "Represent this code query for finding similar code snippets:",
    "hybrid" -> "Generate a comprehensive embedding for multi-modal search:")

  /** Instruction formatting (F6): queries embed as
    * "Instruct: {instruction}\nQuery:{text}"; documents embed unchanged.
    * Ref: shared/embedding/dense.py:450-452. */
  def formatQuery(text: String, searchType: String,
                  instruction: Option[String]): String = {
    val instr = instruction.orElse(SearchInstructions.get(searchType))
    instr match {
      case Some(i) => s"Instruct: $i\nQuery:$text"
      case None => text
    }
  }

  /** Candidate pool size when reranking: clamp(k*5, 20, 200) — W4.
    * Ref: vecpipe/search/rerank.py:24-34. */
  def candidateK(k: Int): Int = math.max(20, math.min(k * 5, 200))

  /** HyDE expansion (F14): expand the dense query via the pluggable
    * expander; failure (None) falls back to the original query with the
    * original always driving the sparse leg
    * (shared/llm/hyde.py:40-173; search_service.py:469-498). */
  def withHyde(req: SearchRequest,
               expander: graft.plugins.Providers.QueryExpander): SearchRequest =
    expander.expand(req.query) match {
      case Some(expanded) => req.copy(denseQuery = Some(expanded))
      case None => req
    }

  /** Dense leg (W1): cosine top-k via the deterministic mock embedding
    * of the (instruction-formatted) query. */
  def denseLeg(chunks: DataFrame, req: SearchRequest, limit: Int): DataFrame =
    chunks
      .withColumn("score",
        VectorExpressions.queryDotExpr(col("vector"), queryVector(req)))
      .orderBy(col("score").desc, col("chunk_id"))
      .limit(limit)

  /** The dense leg's query vector, as the [[QueryDot]] parameter. */
  private def queryVector(req: SearchRequest): QueryVector =
    new QueryVector(TextFunctions.mockEmbeddingDouble(
      formatQuery(req.denseQuery.getOrElse(req.query), req.searchType,
        req.instruction), req.vectorDim))

  /** The columns every answer has, in order (P6); content and the
    * rerank score follow when asked for. */
  private val Answer = Seq("doc_id", "chunk_id", "score", "path",
    "chunk_index", "total_chunks", "path_id")

  /** The payload a request answers with, content included: what the
    * serving path carries from each leg through fusion. */
  private val Payload = Answer.filterNot(_ == "score") :+ "content"

  /** The serving relation `search` scores a request from
    * ([[Bm25.Index.serving]]): one row per chunk with its payload,
    * vector and forward entries; None when the request takes the
    * in-plan path. Only the table the index was built over is served:
    * the relation's entries and doc lengths are that table's. A
    * filtered request is served when every filter field's root column
    * is a served column, so the filter means the same on the relation
    * as on the table. The in-plan path stays for
    * other tables, filters on other columns, derived-id tables (J2
    * re-keys hits before the payload lookup), precomputed sparse hits,
    * non-standing indexes, tables missing a served column, and the first
    * eligible request on an index: the
    * relation is built on the second, once the index has shown that it
    * serves more than one request. */
  private def servingRelation(chunks: DataFrame, req: SearchRequest,
      index: Option[Bm25.Index],
      precomputedSparseHits: Option[DataFrame]): Option[DataFrame] = {
    val cols = Payload :+ "vector"
    def served(field: String) =
      cols.contains(Predicates.translatePath(field).takeWhile(_ != '.'))
    index.filter(i => i.isStanding && req.filters.keys.forall(served) &&
        precomputedSparseHits.isEmpty &&
        !chunks.columns.contains("original_chunk_id") &&
        cols.forall(chunks.columns.contains))
      .flatMap(_.serving(chunks, "chunk_id", cols))
  }

  /** A request answered from a serving relation: the same legs, ranks
    * and fusion as the in-plan path, but each leg carries its payload, so
    * there is no payload join. An unfiltered request scores with the
    * index's own weights and runs as one Spark job; a filtered sparse or
    * hybrid one scores the filtered rows under their own statistics
    * ([[Bm25.filteredForwardScore]]), one more job. */
  private def servedFused(serving: DataFrame, req: SearchRequest,
      fetchK: Int): DataFrame = {
    val rows =
      if (req.filters.isEmpty) serving
      else serving.filter(Predicates.compile(req.filters))
    def sparse = {
      val score =
        if (req.filters.isEmpty) Bm25.forwardScore(col("fwd"), req.query)
        else Bm25.filteredForwardScore(rows, req.query)
      Bm25.topKScored(rows.select(Payload.map(col) :+ score.as("score"): _*),
        "chunk_id", fetchK)
    }
    // the in-plan payload join is an inner equi-join, which drops a null
    // id; dense mode has no payload join
    def joined(df: DataFrame) = df.filter(col("chunk_id").isNotNull)
    req.searchMode match {
      case "dense" => denseLeg(rows, req, fetchK)
      case "sparse" => joined(sparse)
      case "hybrid" => joined(Rrf.fuse(denseLeg(rows, req, fetchK)
          .select(Payload.map(col) :+ col("score"): _*),
        sparse, "chunk_id", "score", fetchK, req.rrfK,
        wDense = req.wDense, wSparse = req.wSparse,
        carry = Payload.filterNot(_ == "chunk_id")))
      case other =>
        throw new IllegalArgumentException(s"unknown search mode: $other")
    }
  }

  /** What a prepared plan is kept for: a request minus its query, every
    * field that shapes the plan, compared by value (doubles bit for bit). */
  private final case class Shape(mode: String, k: Int, fetchK: Int,
      includeContent: Boolean, rrfK: Int, wDense: Long, wSparse: Long,
      scoreThreshold: Long, pathId: Option[String], vectorDim: Int)

  private object Shape {
    def apply(req: SearchRequest, fetchK: Int): Shape = {
      def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
      Shape(req.searchMode, req.k, fetchK, req.includeContent, req.rrfK,
        bits(req.wDense), bits(req.wSparse), bits(req.scoreThreshold),
        req.pathId, req.vectorDim)
    }
  }

  /** `prepared` bound to `req`'s query: its query terms into every
    * [[SparseDot]], its query vector into every [[QueryDot]]. These are
    * the only places a served request's query enters its plan. */
  private def bind(prepared: PreparedPlan, req: SearchRequest): PreparedPlan = {
    lazy val terms = Bm25.queryTerms(req.query)
    lazy val vector = queryVector(req)
    prepared.bind {
      case e: SparseDot => e.copy(query = terms)
      case e: QueryDot => e.copy(query = vector)
    }
  }

  /** Sparse leg (W2): BM25 over chunk content — uses the ORIGINAL query
    * even when HyDE expanded the dense leg (contracts/search.py:21-26).
    * If the table carries `original_chunk_id` (sparse points indexed
    * under derived ids), hits re-key to the original chunk first —
    * operator J2 (service.py:248-274). */
  def sparseLeg(chunks: DataFrame, req: SearchRequest, limit: Int,
                index: Option[Bm25.Index] = None): DataFrame = {
    val hits = sparseHits(chunks, req, limit, index)
    // J2 can map several derived hits to one original — sparse mode has
    // no fusion stage to collapse them, so do it here (hybrid's dedup
    // lives inside Rrf.fuse)
    val unique =
      if (chunks.columns.contains("original_chunk_id")) collapseBest(hits)
      else hits
    unique.join(payloadByOriginal(chunks), Seq("chunk_id"))
  }

  /** The chunks table re-keyed by ORIGINAL chunk id for payload joins
    * (J2): sparseHits re-keys its hits to `original_chunk_id`, so the
    * payload side must be keyed the same way or the join finds nothing.
    * Derived rows sharing an original collapse to one payload row
    * (lowest derived chunk_id — deterministic). Identity for tables
    * without derived ids, so the standard path is untouched. */
  private def payloadByOriginal(chunks: DataFrame): DataFrame =
    if (!chunks.columns.contains("original_chunk_id")) chunks
    else {
      val keyed = chunks.withColumn("_eff",
        coalesce(col("original_chunk_id"), col("chunk_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("_eff").orderBy(col("chunk_id"))
      keyed.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("chunk_id", "_rn")
        .withColumnRenamed("_eff", "chunk_id")
    }

  /** Re-key a leg's (chunk_id, …) hits to original chunk ids when the
    * table indexes derived points (J2) — ranks stay as assigned on the
    * derived ids (top-k first, remap after, service.py:248-274);
    * duplicate originals fuse to their best rank inside Rrf.fuse. */
  private def remapToOriginal(hits: DataFrame, chunks: DataFrame): DataFrame =
    if (!chunks.columns.contains("original_chunk_id")) hits
    else hits.join(chunks.select("chunk_id", "original_chunk_id"), "chunk_id")
      .withColumn("chunk_id",
        coalesce(col("original_chunk_id"), col("chunk_id")))
      .drop("original_chunk_id")

  /** The sparse leg's (chunk_id, score) hits WITHOUT the payload join —
    * what hybrid fusion consumes. An inner join the consumer's
    * projection discards cannot be pruned by the optimizer (it could
    * change cardinality), so hybrid mode must not pay for it; payload
    * enrichment happens once, after fusion (J3).
    *
    * `index`: a prebuilt (persisted) BM25 index for the collection —
    * the reference keeps a STANDING sparse index per collection
    * (vecpipe/sparse.py), so repeated queries must not re-derive
    * corpus statistics; omitted, the index derives in-plan. */
  def sparseHits(chunks: DataFrame, req: SearchRequest, limit: Int,
                 index: Option[Bm25.Index] = None): DataFrame =
    remapToOriginal(rawSparseHits(chunks, req, limit, index), chunks)

  /** The sparse hits on their RETRIEVAL (possibly derived) ids — the
    * single owner of the BM25-leg recipe (top-k over `content` with
    * the ORIGINAL query string, id renamed to chunk_id); sparseHits
    * and hybrid's leg both build on it so the contract cannot drift. */
  private def rawSparseHits(chunks: DataFrame, req: SearchRequest,
                            limit: Int,
                            index: Option[Bm25.Index]): DataFrame =
    Bm25.searchTopK(chunks, "chunk_id", "content", req.query,
        limit, index = index)
      .withColumnRenamed("id", "chunk_id")

  /** Collapse duplicate ids a J2 remap can produce (several derived
    * points mapping to one original chunk) to the best-scoring hit —
    * the same best-row-wins rule Rrf.fuse applies during fusion. */
  private def collapseBest(hits: DataFrame): DataFrame =
    hits.groupBy("chunk_id").agg(max("score").as("score"))

  /** The fused hits of a request that does not take the serving path:
    * legs over `filtered`, the sparse leg from `idx` or derived in-plan,
    * then the payload joined back from `filtered`. */
  private def inPlanFused(filtered: DataFrame, req: SearchRequest,
      fetchK: Int, idx: Option[Bm25.Index],
      precomputedSparseHits: Option[DataFrame]): DataFrame =
    req.searchMode match {
      case "dense" =>
        // J2 applies to dense over a derived-id table too: re-key,
        // collapse duplicates to the best hit, rebuild the payload —
        // so all three modes answer with original chunk ids
        if (!filtered.columns.contains("original_chunk_id"))
          denseLeg(filtered, req, fetchK)
        else collapseBest(remapToOriginal(
            denseLeg(filtered, req, fetchK).select("chunk_id", "score"),
            filtered))
          // payload rows must honor P2 like the hits do (the reference
          // merges the user filter into the payload scroll,
          // payloads.py:60-74) — joining the unfiltered table could
          // resurrect an excluded derived sibling's metadata
          .join(payloadByOriginal(filtered), Seq("chunk_id"))
      case "sparse" => sparseLeg(filtered, req, fetchK, idx)
      case "hybrid" =>
        // J2: on a derived-id table BOTH legs re-key to original ids
        // before fusion, so dense and sparse hits actually meet. Leg
        // ranks are assigned on the DERIVED retrieval lists FIRST
        // (service.py:222-233 collects dense ranks pre-remap), then
        // the remap carries them — re-ranking after the remap would
        // tie-break equal scores by the original id instead of the
        // retrieval order. Duplicate originals keep their best
        // (lowest-rank) row, rank/score staying aligned since rank asc
        // ↔ score desc within a leg.
        val derived = filtered.columns.contains("original_chunk_id")
        def prepared(leg: DataFrame): DataFrame =
          if (!derived) leg
          else remapToOriginal(
              Rrf.ranked(leg, "chunk_id", "score"), filtered)
            .groupBy("chunk_id")
            .agg(min("rank").as("rank"), max("score").as("score"))
        val d = prepared(
          denseLeg(filtered, req, fetchK).select("chunk_id", "score"))
        val s = prepared(
          precomputedSparseHits.getOrElse(
              rawSparseHits(filtered, req, fetchK, idx))
            .select("chunk_id", "score"))
        // J1 fusion, then payload enrichment from the dense-first union
        Rrf.fuse(d, s, "chunk_id", "score", fetchK, req.rrfK,
            preRanked = derived,
            wDense = req.wDense, wSparse = req.wSparse)
          .select("chunk_id", "score", "_dense_rank", "_sparse_rank",
            "_dense_score", "_sparse_score")
          // filtered for the same P2 reason as dense mode above
          .join(payloadByOriginal(filtered), Seq("chunk_id")) // J3 payload
      case other =>
        throw new IllegalArgumentException(s"unknown search mode: $other")
    }

  /** Full §3.1 plan over one collection's chunks table. Output columns:
    * doc_id, chunk_id, score, path, chunk_index, total_chunks, path_id
    * [+ content when included] [+ reranked_score when reranking].
    *
    * `sparseIndex`: the collection's BM25 index. A standing one built
    * over `chunks` serves requests, filtered ones too, from its serving
    * relation, and keeps the prepared plans of unfiltered ones (see the
    * Scale posture above); otherwise
    * unfiltered requests score with it ([[Bm25.searchTopK]] says which
    * indexes get the forward scan) and filtered ones derive the index
    * over the filtered corpus in-plan.
    *
    * `precomputedSparseHits`: the RAW sparse-leg hits (chunk_id, score)
    * for THIS request — exactly what `rawSparseHits(filtered, req,
    * fetchK, idx)` would return — computed once by a caller that
    * serves several request VARIANTS differing only in the dense leg
    * (HyDE expansion changes only denseQuery; the sparse leg always
    * scores the ORIGINAL query, contracts/search.py:21-26). Each
    * variant's plan would otherwise re-derive the identical sparse
    * subtree: AQE cannot reuse stages across union legs (guide §2.4 —
    * remove duplicated subtrees). Hybrid mode only; the caller owns
    * the equivalence (same corpus, same query string, same fetchK, no
    * row filters). */
  def search(chunks: DataFrame, req: SearchRequest,
             reranker: graft.plugins.Providers.Reranker =
               graft.plugins.Providers.MockReranker(),
             sparseIndex: Option[Bm25.Index] = None,
             precomputedSparseHits: Option[DataFrame] = None): DataFrame = {
    val fetchK = if (req.useReranker) candidateK(req.k) else req.k
    val serving =
      servingRelation(chunks, req, sparseIndex, precomputedSparseHits)
    // an unfiltered, unreranked served request has a prepared plan per
    // shape on its index: its query is the only thing that changes
    val shape = for {
      _ <- serving if req.filters.isEmpty && !req.useReranker
      idx <- sparseIndex
    } yield (idx, Shape(req, fetchK))
    shape.flatMap { case (idx, s) => idx.preparedPlan(s) } match {
      case Some(prepared) => bind(prepared, req).toDF(chunks.sparkSession)
      case None =>
        val out = plan(chunks, req, reranker, sparseIndex,
          precomputedSparseHits, fetchK, serving)
        for ((idx, s) <- shape; prepared <- PreparedPlan.of(out))
          idx.keepPreparedPlan(s, prepared)
        out
    }
  }

  /** [[search]]'s DataFrame, built in full. */
  private def plan(chunks: DataFrame, req: SearchRequest,
      reranker: graft.plugins.Providers.Reranker,
      sparseIndex: Option[Bm25.Index],
      precomputedSparseHits: Option[DataFrame], fetchK: Int,
      serving: Option[DataFrame]): DataFrame = {
    val fused: DataFrame =
      serving match {
        case Some(serving) => servedFused(serving, req, fetchK)
        case None =>
          // P2: user metadata filters push into the scan
          val filtered =
            if (req.filters.isEmpty) chunks
            else chunks.filter(Predicates.compile(req.filters))
          // a standing index's weights are the WHOLE collection's; with
          // row filters in play the in-plan sparse leg derives the index
          // over the filtered corpus instead (the hit set, not just the
          // payload join, has to honor P2)
          val idx = if (req.filters.isEmpty) sparseIndex else None
          inPlanFused(filtered, req, fetchK, idx, precomputedSparseHits)
      }

    val shaped = fused
      .filter(col("doc_id").isNotNull) // P5 malformed-row guard
      .transform(df => req.pathId match { // P4 path filter
        case Some(p) =>
          df.filter(coalesce(col("path_id"), lit("default")) === lit(p))
        case None => df
      })
      .filter(col("score") >= req.scoreThreshold) // P3 before rerank

    // P6 projection + W5 rerank
    val withContent = req.includeContent || req.useReranker
    val cols = if (withContent) Answer :+ "content" else Answer
    val projected = shaped.select(cols.map(col): _*)

    if (req.useReranker) {
      // W5 failure fallback (ref vecpipe/search/rerank.py:37-126): a
      // reranker that throws at plan build degrades to the retrieval
      // order; a reranker that yields NULL scores degrades per-row to
      // the retrieval score. Either way the request still answers.
      val rerankCol = scala.util.Try(reranker.score(req.query)(col("content")))
        .toOption.map(c => coalesce(c, col("score")))
        .getOrElse(col("score"))
      val reranked = projected
        .withColumn("reranked_score", rerankCol)
        .orderBy(col("reranked_score").desc, col("score").desc, col("chunk_id"))
        .limit(req.k)
      if (req.includeContent) reranked else reranked.drop("content")
    } else {
      projected.orderBy(col("score").desc, col("chunk_id")).limit(req.k)
    }
  }

  /** Multi-collection search (§3.2, J7 + W7): fan the request out over
    * up to 10 collections, tag rows with collection identity, global
    * sort by coalesce(reranked_score, score) desc, top k.
    * Heterogeneous vector dims stay inside each per-collection sub-plan
    * (SURVEY.md §7.4 risk 6). */
  def searchMany(collections: Seq[(String, DataFrame)],
                 req: SearchRequest,
                 dims: Map[String, Int] = Map.empty,
                 indexes: Map[String, Bm25.Index] = Map.empty): DataFrame = {
    require(collections.nonEmpty && collections.size <= 10,
      "1-10 collections per query (webui/api/v2/search.py:54)")
    val per = collections.map { case (cid, chunks) =>
      // heterogeneous embedding models: each collection's sub-plan
      // embeds the query at ITS dimension; vector columns never mix
      // across models (service.py:185-207 dimension validation). A
      // DECLARED dimension is also ENFORCED against the stored
      // vectors — a mismatch is the reference's 400, here a typed
      // execution failure, never a silently-truncated dot product.
      val (perReq, checked) = dims.get(cid) match {
        case Some(d) =>
          val validated =
            if (chunks.columns.contains("vector"))
              // cid goes in as a %s ARGUMENT — interpolating it into
              // the printf pattern would let a '%' in a collection
              // name corrupt the format and mask the typed error
              chunks.filter(assert_true(size(col("vector")) === d,
                format_string("collection '%s': stored vector " +
                  "dimension %s does not match its declared dimension %s",
                  lit(cid), size(col("vector")), lit(d))).isNull)
            else chunks
          (req.copy(vectorDim = d), validated)
        case None => (req, chunks)
      }
      search(checked, perReq, sparseIndex = indexes.get(cid))
        .withColumn("collection_id", lit(cid))
    }
    val all = per.reduce(_ unionByName _)
    val sortKey =
      if (req.useReranker) coalesce(col("reranked_score"), col("score"), lit(0.0))
      else coalesce(col("score"), lit(0.0)) // F15 score fallback
    all.orderBy(sortKey.desc, col("collection_id"), col("chunk_id"))
      .limit(req.k)
  }
}

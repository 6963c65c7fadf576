package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.Bm25
import graft.plans.PreparedPlanExec
import graft.search.{Ingest, SearchEngine}
import graft.search.SearchEngine.SearchRequest

class SearchEngineSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 32

  private lazy val docs = Seq(
    (1L, "spark shuffle join performance tuning guide. partitions and executors."),
    (2L, "cooking pasta with tomato sauce. boil water and add salt."),
    (3L, "spark streaming watermark semantics. stateful aggregation windows."),
    (4L, "gardening tips for tomato plants in summer heat."),
    (5L, "join strategies in distributed query engines: broadcast and shuffle."))
    .toDF("doc_id", "text")

  private lazy val chunks = Ingest.buildChunks(docs, "c1", "doc_id", "text",
    strategy = "recursive",
    cfg = graft.operators.Chunking.ChunkConfig(minTokens = 1, maxTokens = 50),
    dim = Dim).cache()

  test("mockEmbeddingCol is bit-close to the Scala implementation") {
    val got = Seq("hello world", "spark", "x").toDF("t")
      .select(TextFunctions.mockEmbeddingCol(col("t"), Dim).as("v"), col("t"))
      .collect().map(r => r.getString(1) -> r.getSeq[Double](0)).toMap
    for (t <- Seq("hello world", "spark", "x")) {
      val exp = TextFunctions.mockEmbeddingDouble(t, Dim)
      got(t).zip(exp).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) < 1e-12, s"'$t' dim $i: $a vs $b")
      }
    }
  }

  test("chunks table honors the FIXTURES schema and unit vectors") {
    val row = chunks.filter($"doc_id" === "1").head()
    assert(row.getAs[String]("chunk_id") == "1_0")
    val v = row.getSeq[Double](row.fieldIndex("vector"))
    assert(v.length == Dim)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
    assert(chunks.select("partition_key").distinct().count() == 1)
  }

  test("dense search ranks the lexically-identical query text first") {
    // mock embeddings are hash-based: only an EXACT text match aligns;
    // craft a chunk whose content equals the formatted query embedding
    // input to pin determinism end-to-end instead
    val req = SearchRequest(query = "spark shuffle join", searchMode = "dense",
      k = 3, vectorDim = Dim)
    val got = SearchEngine.search(chunks, req).collect()
    // default score_threshold = 0.0 drops negative-cosine hits (P3),
    // mirroring contracts/search.py — so <= k rows, all non-negative
    assert(got.nonEmpty && got.length <= 3)
    got.foreach(r => assert(r.getDouble(2) >= 0.0))
    // with the threshold disabled we get exactly k
    val all = SearchEngine.search(chunks,
      req.copy(scoreThreshold = -1e9)).collect()
    assert(all.length == 3)
    // deterministic: same request twice -> same result
    val again = SearchEngine.search(chunks, req).collect()
    assert(got.map(_.getString(1)).toSeq == again.map(_.getString(1)).toSeq)
  }

  test("sparse search finds BM25 term matches") {
    val req = SearchRequest(query = "tomato", searchMode = "sparse", k = 5,
      vectorDim = Dim)
    val got = SearchEngine.search(chunks, req).collect()
    val docIds = got.map(_.getString(0)).toSet
    assert(docIds == Set("2", "4"))
  }

  test("hybrid fuses both legs with RRF and keeps annotations internal") {
    val req = SearchRequest(query = "spark join", searchMode = "hybrid",
      k = 5, vectorDim = Dim)
    val got = SearchEngine.search(chunks, req)
    assert(got.columns.toSeq == Seq("doc_id", "chunk_id", "score", "path",
      "chunk_index", "total_chunks", "path_id"))
    val rows = got.collect()
    assert(rows.nonEmpty && rows.length <= 5)
    // RRF scores are sums of 1/(60+rank) terms
    rows.foreach(r => assert(r.getDouble(2) > 0 && r.getDouble(2) <= 2.0 / 61))
  }

  test("J2: search over a derived-id table re-keys BOTH legs and the payload") {
    // sparse points indexed under derived ids with original_chunk_id
    // payload (service.py:248-274): full search() must return rows
    // keyed by ORIGINAL ids — sparse mode used to inner-join the
    // remapped hits back to the derived-keyed table and return nothing
    val derivedBase = chunks
      .withColumn("original_chunk_id", col("chunk_id"))
      .withColumn("chunk_id", concat(lit("d"), col("chunk_id")))
    // a SECOND derived point for doc 2's chunk (sub-token split shape):
    // both score on 'tomato', must collapse to ONE original hit
    val derived = derivedBase.unionByName(
      derivedBase.filter($"doc_id" === "2")
        .withColumn("chunk_id", concat(lit("e"), col("original_chunk_id"))))
    val sparse = SearchEngine.search(derived, SearchRequest(
      query = "tomato", searchMode = "sparse", k = 5, vectorDim = Dim))
      .collect()
    assert(sparse.nonEmpty, "sparse over derived-id table returned nothing")
    assert(sparse.forall(!_.getString(1).startsWith("d")),
      "hits not re-keyed to original ids")
    assert(sparse.map(_.getString(0)).toSet == Set("2", "4"))
    val ids = sparse.map(_.getString(1)).toSeq
    assert(ids.distinct == ids,
      s"duplicate original ids in sparse results: $ids")

    // dense mode answers with original ids too (mode consistency)
    val dense = SearchEngine.search(derived, SearchRequest(
      query = "tomato", searchMode = "dense", k = 5,
      scoreThreshold = -1e9, vectorDim = Dim)).collect()
    assert(dense.nonEmpty)
    assert(dense.forall(!_.getString(1).startsWith("d")),
      "dense hits not re-keyed to original ids")
    val dids = dense.map(_.getString(1)).toSeq
    assert(dids.distinct == dids, s"duplicate ids in dense results: $dids")

    val hybrid = SearchEngine.search(derived, SearchRequest(
      query = "spark join", searchMode = "hybrid", k = 5, vectorDim = Dim))
      .collect()
    assert(hybrid.nonEmpty)
    assert(hybrid.forall(r => !r.getString(1).startsWith("d") &&
      !r.getString(1).startsWith("e")))
    val hids = hybrid.map(_.getString(1)).toSeq
    assert(hids.distinct == hids, s"duplicate ids in hybrid results: $hids")
    // both legs meet on original ids: some hit carries BOTH rank terms
    assert(hybrid.exists(_.getDouble(2) > 1.0 / 60),
      "no fused hit scored by both legs — legs did not meet on one key")
  }

  test("score threshold and path filter apply before rerank") {
    val req = SearchRequest(query = "tomato", searchMode = "sparse", k = 5,
      scoreThreshold = 1e9, vectorDim = Dim)
    assert(SearchEngine.search(chunks, req).count() == 0)
    val reqPath = SearchRequest(query = "tomato", searchMode = "sparse",
      k = 5, pathId = Some("nonexistent"), vectorDim = Dim)
    assert(SearchEngine.search(chunks, reqPath).count() == 0)
    // null path_id counts as "default"
    val reqDefault = SearchRequest(query = "tomato", searchMode = "sparse",
      k = 5, pathId = Some("default"), vectorDim = Dim)
    assert(SearchEngine.search(chunks, reqDefault).count() == 2)
  }

  test("reranker expands candidates, reorders by overlap, returns k") {
    val req = SearchRequest(query = "broadcast shuffle join strategies",
      searchMode = "hybrid", k = 2, useReranker = true, vectorDim = Dim)
    val got = SearchEngine.search(chunks, req).collect()
    assert(got.length <= 2)
    // doc 5 has the densest token overlap with the query
    assert(got.head.getString(0) == "5")
    assert(got.head.schema.fieldNames.contains("reranked_score"))
    assert(!got.head.schema.fieldNames.contains("content")) // not requested
    assert(SearchEngine.candidateK(2) == 20)
    assert(SearchEngine.candidateK(10) == 50)
    assert(SearchEngine.candidateK(100) == 200)
  }

  test("W5 rerank failure degrades to pre-rerank retrieval order") {
    val req = SearchRequest(query = "broadcast shuffle join strategies",
      searchMode = "hybrid", k = 3, useReranker = true, vectorDim = Dim)
    // a reranker that throws while building its plan
    val throwing = new graft.plugins.Providers.Reranker {
      override def score(q: String)(content: org.apache.spark.sql.Column) =
        throw new RuntimeException("model down")
    }
    val degraded = SearchEngine.search(chunks, req, reranker = throwing)
      .collect()
    assert(degraded.nonEmpty && degraded.length <= 3)
    // the request still answers, ordered by the RETRIEVAL score
    // (reranked_score degrades to score per row)
    val scores = degraded.map(r => (r.getDouble(2),
      r.getDouble(r.fieldIndex("reranked_score"))))
    scores.foreach { case (s, rs) => assert(rs == s) }
    assert(scores.map(_._1).zip(scores.map(_._1).tail)
      .forall { case (a, b) => a >= b }, "fallback keeps retrieval order")
    // a reranker that yields NULL scores degrades per-row, same result
    val nullScoring = new graft.plugins.Providers.Reranker {
      override def score(q: String)(content: org.apache.spark.sql.Column) =
        org.apache.spark.sql.functions.lit(null).cast("double")
    }
    val nulled = SearchEngine.search(chunks, req, reranker = nullScoring)
      .collect()
    assert(nulled.map(_.getString(1)).toSeq ==
      degraded.map(_.getString(1)).toSeq)
  }

  test("include_content projects content") {
    val req = SearchRequest(query = "tomato", searchMode = "sparse", k = 2,
      includeContent = true, vectorDim = Dim)
    val got = SearchEngine.search(chunks, req)
    assert(got.columns.contains("content"))
  }

  test("metadata filters restrict the corpus (P2)") {
    val req = SearchRequest(query = "tomato", searchMode = "sparse", k = 5,
      filters = Map("doc_id" -> "4"), vectorDim = Dim)
    val got = SearchEngine.search(chunks, req).collect()
    assert(got.map(_.getString(0)).toSet == Set("4"))
  }

  test("HyDE dense_query drives ONLY the dense leg (F14)") {
    val base = SearchRequest(query = "tomato", searchMode = "sparse", k = 5,
      vectorDim = Dim)
    val hyde = base.copy(denseQuery = Some("totally different expansion"))
    // sparse results identical regardless of denseQuery
    val a = SearchEngine.search(chunks, base).collect().map(_.getString(1))
    val b = SearchEngine.search(chunks, hyde).collect().map(_.getString(1))
    assert(a.toSeq == b.toSeq)
    // dense results change with denseQuery
    val d1 = SearchEngine.search(chunks, base.copy(searchMode = "dense"))
      .collect().map(_.getDouble(2)).toSeq
    val d2 = SearchEngine.search(chunks, hyde.copy(searchMode = "dense"))
      .collect().map(_.getDouble(2)).toSeq
    assert(d1 != d2)
  }

  test("instruction formatting (F6)") {
    assert(SearchEngine.formatQuery("q", "semantic", None) ==
      "Instruct: Represent this sentence for searching relevant passages:\nQuery:q")
    assert(SearchEngine.formatQuery("q", "unknown", None) == "q")
    assert(SearchEngine.formatQuery("q", "semantic", Some("Custom:")) ==
      "Instruct: Custom:\nQuery:q")
  }

  test("multi-collection fan-out tags and globally sorts (J7/W7)") {
    val docs2 = Seq((10L, "tomato tomato tomato soup recipe"))
      .toDF("doc_id", "text")
    val chunks2 = Ingest.buildChunks(docs2, "c2", "doc_id", "text",
      cfg = graft.operators.Chunking.ChunkConfig(minTokens = 1, maxTokens = 50),
      dim = Dim)
    val req = SearchRequest(query = "tomato", searchMode = "sparse", k = 4,
      vectorDim = Dim)
    val got = SearchEngine.searchMany(
      Seq("c1" -> chunks, "c2" -> chunks2), req).collect()
    assert(got.map(_.getAs[String]("collection_id")).toSet == Set("c1", "c2"))
    val scores = got.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse)
    assertThrows[IllegalArgumentException] {
      SearchEngine.searchMany(Seq.empty, req)
    }
  }

  test("heterogeneous dims: per-collection sub-plans embed at their own " +
      "dimension; a declared/stored mismatch is a typed failure") {
    val docs16 = Seq((20L, "tomato soup simmering on the stove"))
      .toDF("doc_id", "text")
    val chunks16 = Ingest.buildChunks(docs16, "c16", "doc_id", "text",
      cfg = graft.operators.Chunking.ChunkConfig(minTokens = 1, maxTokens = 50),
      dim = 16)
    val req = SearchRequest(query = "tomato spark", searchMode = "hybrid",
      k = 5, scoreThreshold = -1e9)
    // correct declaration: both collections answer, each at its own dim
    val got = SearchEngine.searchMany(
      Seq("c1" -> chunks, "c16" -> chunks16), req,
      dims = Map("c1" -> Dim, "c16" -> 16)).collect()
    assert(got.map(_.getAs[String]("collection_id")).toSet == Set("c1", "c16"))
    // mixed-dim misuse: declaring 16 for the dim-32 collection raises
    // the reference's dimension-validation error as a typed failure
    val e = intercept[Exception] {
      SearchEngine.searchMany(
        Seq("c1" -> chunks, "c16" -> chunks16), req,
        dims = Map("c1" -> 16, "c16" -> 16)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("does not match its declared " +
      "dimension 16")), messages(e).mkString(" | "))
  }

  test("change-skip drops unchanged docs (P7)") {
    val incoming = Seq((1L, "same text"), (2L, "changed text v2"))
      .toDF("doc_id", "text")
    val existing = Seq((1L, "same text"), (2L, "changed text v1"))
      .toDF("doc_id", "text")
    val toProcess = Ingest.changeSkip(incoming, existing, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(toProcess == Set(2L))
  }

  test("blue/green reindex swap is atomic and generational (T6)") {
    val root = java.nio.file.Files.createTempDirectory("bg").toString
    Ingest.reindexSwap(spark, chunks.limit(2), root)
    assert(Ingest.readCurrent(spark, root).count() == 2)
    Ingest.reindexSwap(spark, chunks.limit(4), root)
    assert(Ingest.readCurrent(spark, root).count() == 4)
    assert(new java.io.File(root, "gen-1").exists())
  }

  test("fusion weights thread through SearchRequest: 1.0/1.0 is " +
      "bit-identical to the default; weighted scores follow " +
      "w_d/(60+dr) + w_s/(60+sr)") {
    val base = SearchRequest(query = "tomato spark", searchMode = "hybrid",
      k = 5, scoreThreshold = -1e9)
    val classic = SearchEngine.search(chunks, base)
      .select("chunk_id", "score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val explicit = SearchEngine.search(chunks,
        base.copy(wDense = 1.0, wSparse = 1.0))
      .select("chunk_id", "score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(classic == explicit) // defaults bit-unchanged
    // weighted: every fused score must be reproducible from the legs'
    // ranks at the requested weights
    val weighted = SearchEngine.search(chunks,
        base.copy(wDense = 0.7, wSparse = 0.3, includeContent = false))
      .select("chunk_id", "score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dRanks = graft.operators.Rrf.ranked(
        SearchEngine.denseLeg(chunks, base, 5)
          .select("chunk_id", "score"), "chunk_id", "score")
      .select("chunk_id", "rank").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val sRanks = graft.operators.Rrf.ranked(
        SearchEngine.sparseHits(chunks, base, 5), "chunk_id", "score")
      .select("chunk_id", "rank").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    weighted.foreach { case (id, sc) =>
      val exp = 0.7 * dRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        0.3 * sRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(math.abs(sc - exp) < 1e-12, s"$id: $sc vs $exp")
    }
  }

  test("PRF expander is a QueryExpander sibling of MockHyde: expands " +
      "the query with Rocchio feedback terms; blank queries and empty " +
      "feedback fall back (None)") {
    import graft.plugins.Providers
    val prf = Providers.PrfExpander(docs, "doc_id", "text",
      fbDocs = 3, fbTerms = 2)
    val expanded = prf.expand("spark join")
    assert(expanded.isDefined && expanded.get.startsWith("spark join "))
    val extra = expanded.get.stripPrefix("spark join ").split(" ")
    assert(extra.length == 2 && !extra.contains("spark") &&
      !extra.contains("join"), expanded.get)
    assert(prf.expand("  ").isEmpty) // blank → fallback contract
    // engine wiring: the same withHyde hook drives the DENSE leg only
    val req = SearchEngine.withHyde(
      SearchRequest(query = "spark join", searchMode = "hybrid", k = 3,
        scoreThreshold = -1e9, vectorDim = Dim), prf)
    assert(req.denseQuery == expanded && req.query == "spark join")
    assert(SearchEngine.search(chunks, req).collect().nonEmpty)
  }

  /** The standing-index fixture: docs 6/7 are identical (tied scores on
    * different chunk ids), doc 8 is all stopwords (a chunk with no
    * indexed term). */
  private lazy val tiedDocs = docs.unionByName(Seq(
      (6L, "tomato sauce for spark clusters."),
      (7L, "tomato sauce for spark clusters."),
      (8L, "it is not what it was, but all of this is the same."))
    .toDF("doc_id", "text"))

  private def chunked(maxTokens: Int) = Ingest.buildChunks(tiedDocs, "c1",
    "doc_id", "text", strategy = "recursive",
    cfg = graft.operators.Chunking.ChunkConfig(minTokens = 1,
      maxTokens = maxTokens), dim = Dim).cache()

  private lazy val tiedTable = chunked(50)

  private def pinned(table: org.apache.spark.sql.DataFrame) =
    graft.operators.Bm25.buildIndex(table, "chunk_id", "content",
      pinStats = true).pin()

  test("search against a standing index (forward-scan sparse leg) " +
      "returns the in-plan index's exact rows in every mode") {
    val standing = pinned(tiedTable)
    val rows = tiedTable.count().toInt
    // repeated terms; stopwords and unknown words only (matches
    // nothing); k = 1000 is above the row count
    val queries = Seq("spark join", "tomato tomato sauce spark",
      "the of and zzz")
    val cases = for (q <- queries; mode <- Seq("dense", "sparse", "hybrid");
        k <- Seq(1, 10, 100, 1000)) yield (q, mode, k)
    assert(cases.map(_._3).max > rows)
    // every four consecutive cases (one query and mode, each k) cover
    // the four rerank x includeContent settings
    for (((q, mode, k), i) <- cases.zipWithIndex) {
      val req = SearchRequest(query = q, searchMode = mode, k = k,
        useReranker = i % 2 == 0, includeContent = i / 2 % 2 == 0,
        scoreThreshold = -1e9, vectorDim = Dim)
      val inPlan = SearchEngine.search(tiedTable, req).collect().toSeq
      val served = SearchEngine.search(tiedTable, req,
        sparseIndex = Some(standing)).collect().toSeq
      assert(served == inPlan, s"q='$q' mode=$mode k=$k $req")
    }
    // the tie and the matchless query are exercised, not vacuous
    val tie = SearchEngine.search(tiedTable, SearchRequest(
        query = "tomato sauce clusters", searchMode = "sparse", k = 2,
        vectorDim = Dim), sparseIndex = Some(standing)).collect()
    assert(tie.map(_.getAs[Double]("score")).distinct.length == 1 &&
      tie.map(_.getAs[String]("chunk_id")).distinct.length == 2)
    assert(SearchEngine.search(tiedTable, SearchRequest(
        query = "the of and zzz", searchMode = "sparse", vectorDim = Dim),
      sparseIndex = Some(standing)).collect().isEmpty)
    // searchMany: per-collection standing indexes against none
    val req = SearchRequest(query = "tomato spark", searchMode = "hybrid",
      k = 6, scoreThreshold = -1e9, vectorDim = Dim)
    val colls = Seq("a" -> tiedTable, "b" -> chunks)
    val other = pinned(chunks)
    assert(SearchEngine.searchMany(colls, req,
        indexes = Map("a" -> standing, "b" -> other)).collect().toSeq ==
      SearchEngine.searchMany(colls, req).collect().toSeq)
    standing.docWeights.unpersist()
    other.docWeights.unpersist()
  }

  test("a standing index builds its serving relation once per table, on " +
      "the second request; a non-standing index never builds one") {
    val standing = pinned(tiedTable)
    val unpinned = graft.operators.Bm25.buildIndex(tiedTable, "chunk_id",
      "content")
    assert(!unpinned.isStanding)
    for ((q, i) <- Seq("spark", "tomato sauce", "spark").zipWithIndex;
         mode <- Seq("sparse", "hybrid", "dense")) {
      val req = SearchRequest(query = q, searchMode = mode, k = 3,
        vectorDim = Dim)
      SearchEngine.search(tiedTable, req, sparseIndex = Some(standing))
        .collect()
      // one request on the pair builds nothing: an index probed once
      // per table never pays for the relation
      if (i == 0 && mode == "sparse") assert(standing.servingsBuilt == 0)
      SearchEngine.search(tiedTable, req, sparseIndex = Some(unpinned))
        .collect()
    }
    // a filtered request reads the same relation; one filtering on a
    // column the relation does not carry keeps the in-plan path
    for (f <- Seq("doc_id" -> "1", "collection_id" -> "c1"))
      SearchEngine.search(tiedTable, SearchRequest(query = "spark",
        searchMode = "hybrid", filters = Map(f), vectorDim = Dim),
        sparseIndex = Some(standing)).collect()
    assert(standing.servingsBuilt == 1)
    assert(unpinned.servingsBuilt == 0 && !unpinned.forwardBuilt)
    standing.docWeights.unpersist()
  }

  test("a new table generation gets its own serving relation and serves " +
      "no stale rows") {
    val root = java.nio.file.Files.createTempDirectory("serving").toString
    Ingest.reindexSwap(spark, tiedTable, root)
    val gen1 = Ingest.readCurrent(spark, root)
    val idx1 = pinned(gen1)
    val req = SearchRequest(query = "tomato spark sauce",
      searchMode = "hybrid", k = 20, scoreThreshold = -1e9,
      includeContent = true, vectorDim = Dim)
    // two requests on one (index, table) pair: the first is planned
    // in-plan, the second builds and reads the serving relation
    def twice(table: org.apache.spark.sql.DataFrame,
        idx: graft.operators.Bm25.Index) =
      Seq.fill(2)(SearchEngine.search(table, req, sparseIndex = Some(idx))
        .collect().toSeq)
    val Seq(first1, second1) = twice(gen1, idx1)
    assert(second1 == first1)
    assert(idx1.servingsBuilt == 1)
    // generation 2 drops docs 6/7 and rewrites doc 4 under the same ids
    val docs2 = docs.filter(col("doc_id") =!= 4L).unionByName(
      Seq((4L, "spark tomato sauce tuning for gardeners.")).toDF("doc_id", "text"))
    Ingest.reindexSwap(spark, Ingest.buildChunks(docs2, "c1", "doc_id", "text",
      strategy = "recursive",
      cfg = graft.operators.Chunking.ChunkConfig(minTokens = 1, maxTokens = 50),
      dim = Dim), root)
    val gen2 = Ingest.readCurrent(spark, root)
    val current = gen2.select("chunk_id", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val idx2 = pinned(gen2)
    val Seq(first2, served) = twice(gen2, idx2)
    assert(served == first2 &&
      served == SearchEngine.search(gen2, req).collect().toSeq)
    // the old index asked for the new table builds no relation: it was
    // built over another table, so both requests go in-plan and answer
    // the same rows, with the new generation's payload
    val Seq(stale1, stale2) = twice(gen2, idx1)
    assert(stale2 == stale1)
    assert(idx1.servingsBuilt == 1 && idx2.servingsBuilt == 1)
    for (r <- served ++ stale1)
      assert(current.get(r.getAs[String]("chunk_id"))
        .contains(r.getAs[String]("content")), r)
    assert(served.exists(_.getAs[String]("content").contains("gardeners")))
    Seq(idx1, idx2).foreach(_.docWeights.unpersist())
  }

  /** [[tiedTable]]'s documents in chunks of at most 8 tokens, so that
    * chunk_index filters select: docs 6/7 tie, doc 8's chunks have no
    * indexed term. */
  private lazy val smallChunks = chunked(8)

  test("a filtered request served from the standing relation answers the " +
      "in-plan path's exact rows") {
    val standing = pinned(smallChunks)
    val query = "spark tomato spark sauce"
    // the first two requests on the pair build the serving relation
    for (_ <- 0 until 2)
      SearchEngine.search(smallChunks, SearchRequest(query = query,
        searchMode = "hybrid", vectorDim = Dim), sparseIndex = Some(standing))
        .collect()
    assert(standing.servingsBuilt == 1)
    val single = smallChunks.filter(col("doc_id") === "3")
      .select("chunk_id").head().getString(0)
    val filters = Seq(Map("chunk_index" -> "<= 0"), Map("chunk_index" -> "<= 1"),
      Map("doc_id" -> "[5-8]*"), Map("doc_id" -> "9*"),
      Map("chunk_id" -> single), Map("collection_id" -> "c1"))
    def run(f: Map[String, Any], mode: String, k: Int, rerank: Boolean,
        index: Option[graft.operators.Bm25.Index]) =
      SearchEngine.search(smallChunks, SearchRequest(query = query,
        searchMode = mode, k = k, useReranker = rerank,
        includeContent = rerank, scoreThreshold = -1e9, filters = f,
        vectorDim = Dim), sparseIndex = index).collect().toSeq
    val answered = for (f <- filters; mode <- Seq("sparse", "hybrid");
        k <- Seq(1, 10, 100); rerank <- Seq(false, true)) yield {
      val inPlan = run(f, mode, k, rerank, None)
      val served = run(f, mode, k, rerank, Some(standing))
      assert(served == inPlan, s"filters=$f mode=$mode k=$k rerank=$rerank")
      (f, served)
    }
    assert(standing.servingsBuilt == 1)
    // the filters select what they are meant to: nothing, one chunk, and
    // a set holding the tie and zero-token chunks, which N counts
    val rows = answered.groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap
    assert(rows(Map("doc_id" -> "9*")).isEmpty)
    assert(rows(Map("chunk_id" -> single)).map(_.getAs[String]("chunk_id"))
      .toSet == Set(single))
    assert(smallChunks.filter(col("doc_id") === "8").count() > 0)
    val tie = run(Map("doc_id" -> "[5-8]*"), "sparse", 100, false,
      Some(standing)).groupBy(_.getAs[Double]("score")).values
    assert(tie.exists(_.map(_.getAs[String]("doc_id")).toSet == Set("6", "7")))
    for ((f, bound) <- filters.take(2).zip(Seq(0, 1)))
      assert(rows(f).forall(_.getAs[Int]("chunk_index") <= bound))
    standing.docWeights.unpersist()
  }

  test("filtered requests served from a standing index leave no cached " +
      "relation behind") {
    val standing = pinned(smallChunks)
    val req = SearchRequest(query = "spark tomato", searchMode = "hybrid",
      vectorDim = Dim)
    for (_ <- 0 until 2)
      SearchEngine.search(smallChunks, req, sparseIndex = Some(standing))
        .collect()
    // compared by id: the ContextCleaner may drop an earlier test's
    // garbage-collected relation meanwhile, which a count would mix in
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (f <- Seq("chunk_index" -> "<= 0", "chunk_index" -> "<= 1",
        "doc_id" -> "1*", "doc_id" -> "[2-4]*", "chunk_id" -> "5_0"))
      SearchEngine.search(smallChunks, req.copy(filters = Map(f)),
        sparseIndex = Some(standing)).collect()
    val added = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }
    assert(added.isEmpty, added.values.mkString("\n"))
    standing.docWeights.unpersist()
  }

  /** Whether `df` answers from a prepared plan. */
  private def isPrepared(df: DataFrame) =
    df.queryExecution.executedPlan.isInstanceOf[PreparedPlanExec]

  /** Two requests on the (index, table) pair: the first goes in-plan, the
    * second builds the serving relation. */
  private def warmServing(table: DataFrame, idx: Bm25.Index): Unit =
    for (_ <- 0 until 2)
      SearchEngine.search(table, SearchRequest(query = "warm",
        searchMode = "hybrid", k = 7, rrfK = 59, vectorDim = Dim),
        sparseIndex = Some(idx)).collect()

  test("a repeated request shape answers from its prepared plan the full " +
      "path's exact rows, in every mode") {
    val standing = pinned(tiedTable)
    warmServing(tiedTable, standing)
    val rows = tiedTable.count().toInt
    // the first query of a shape prepares its plan; the others are
    // bound into it: a tie, repeated terms, a query matching no term,
    // and the first query again
    val queries = Seq("spark join", "tomato sauce clusters",
      "tomato tomato sauce spark", "the of and zzz", "spark join")
    val ks = Seq(1, 10, 100, 1000)
    assert(ks.max > rows)
    for (mode <- Seq("dense", "sparse", "hybrid"); (k, i) <- ks.zipWithIndex) {
      val shape = SearchRequest(query = "", searchMode = mode, k = k,
        includeContent = i % 2 == 0, scoreThreshold = -1e9, vectorDim = Dim)
      for ((q, j) <- queries.zipWithIndex) {
        val req = shape.copy(query = q)
        val df = SearchEngine.search(tiedTable, req,
          sparseIndex = Some(standing))
        assert(isPrepared(df) == (j > 0), s"q='$q' mode=$mode k=$k")
        assert(df.collect().toSeq ==
          SearchEngine.search(tiedTable, req).collect().toSeq,
          s"q='$q' mode=$mode k=$k $req")
      }
    }
    // the tie and the matchless query are exercised, not vacuous
    val sparse10 = SearchRequest(query = "", searchMode = "sparse", k = 10,
      scoreThreshold = -1e9, vectorDim = Dim)
    val tie = SearchEngine.search(tiedTable,
      sparse10.copy(query = "tomato sauce clusters"), sparseIndex = Some(standing))
    val top2 = tie.collect().take(2)
    assert(top2.map(_.getAs[Double]("score")).distinct.length == 1 &&
      top2.map(_.getAs[String]("chunk_id")).distinct.length == 2)
    val none = SearchEngine.search(tiedTable,
      sparse10.copy(query = "the of and zzz"), sparseIndex = Some(standing))
    assert(isPrepared(tie) && isPrepared(none) && none.collect().isEmpty)
    // filtered and reranked requests keep the full path
    for (req <- Seq(SearchRequest(query = "spark", filters = Map(
          "doc_id" -> "1"), vectorDim = Dim),
        SearchRequest(query = "spark", useReranker = true, vectorDim = Dim));
        _ <- 0 until 2)
      assert(!isPrepared(SearchEngine.search(tiedTable, req,
        sparseIndex = Some(standing))))
    // one per (mode, k), and the warm-up's
    assert(standing.servingsBuilt == 1 &&
      standing.preparedShapes == 3 * ks.size + 1)
    standing.docWeights.unpersist()
  }

  test("searchMany over collections with prepared shapes answers the " +
      "full path's rows") {
    val a = pinned(tiedTable)
    val b = pinned(chunks)
    val colls = Seq("a" -> tiedTable, "b" -> chunks)
    val indexes = Map("a" -> a, "b" -> b)
    val req = SearchRequest(query = "tomato spark", searchMode = "hybrid",
      k = 6, scoreThreshold = -1e9, vectorDim = Dim)
    for ((cid, t) <- colls) {
      warmServing(t, indexes(cid))
      SearchEngine.search(t, req, sparseIndex = indexes.get(cid)).collect()
    }
    for (q <- Seq("spark join", "tomato sauce", "zzz")) {
      val many = SearchEngine.searchMany(colls, req.copy(query = q),
        indexes = indexes)
      assert(many.queryExecution.executedPlan.collect {
        case p: PreparedPlanExec => p }.size == 2, q)
      assert(many.collect().toSeq ==
        SearchEngine.searchMany(colls, req.copy(query = q)).collect().toSeq, q)
    }
    Seq(a, b).foreach(_.docWeights.unpersist())
  }

  test("a prepared plan answers only its own index and table") {
    val root = java.nio.file.Files.createTempDirectory("prepared").toString
    Ingest.reindexSwap(spark, tiedTable, root)
    val gen1 = Ingest.readCurrent(spark, root)
    val idx1 = pinned(gen1)
    val req = SearchRequest(query = "tomato spark sauce",
      searchMode = "hybrid", k = 20, scoreThreshold = -1e9,
      includeContent = true, vectorDim = Dim)
    def ask(table: DataFrame, idx: Bm25.Index, q: String) = {
      val df = SearchEngine.search(table, req.copy(query = q),
        sparseIndex = Some(idx))
      (isPrepared(df), df.collect().toSeq)
    }
    warmServing(gen1, idx1)
    ask(gen1, idx1, "spark")
    // the request's shape and the warm-up's
    assert(ask(gen1, idx1, "tomato")._1 && idx1.preparedShapes == 2)
    // generation 2 rewrites doc 4 under the same chunk ids
    val docs2 = docs.filter(col("doc_id") =!= 4L).unionByName(
      Seq((4L, "spark tomato sauce tuning for gardeners.")).toDF("doc_id", "text"))
    Ingest.reindexSwap(spark, Ingest.buildChunks(docs2, "c1", "doc_id", "text",
      strategy = "recursive",
      cfg = graft.operators.Chunking.ChunkConfig(minTokens = 1, maxTokens = 50),
      dim = Dim), root)
    val gen2 = Ingest.readCurrent(spark, root)
    val idx2 = pinned(gen2)
    def fullPath(q: String) =
      SearchEngine.search(gen2, req.copy(query = q)).collect().toSeq
    // the new generation's index prepares its own plan: the first two
    // requests go in-plan and served, the third is prepared
    warmServing(gen2, idx2)
    for ((q, i) <- Seq("tomato", "gardeners tomato", "spark").zipWithIndex) {
      val (prepared, rows) = ask(gen2, idx2, q)
      assert(prepared == (i > 0), q)
      assert(rows == fullPath(q), q)
    }
    assert(ask(gen2, idx2, "gardeners")._2
      .exists(_.getAs[String]("content").contains("gardeners")))
    // the old index asked about the new table never reaches its prepared
    // plan, however often it is asked: every request goes in-plan and
    // answers with the new generation's rows
    val current = gen2.select("chunk_id", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val stale = for (q <- Seq("tomato", "tomato", "gardeners tomato")) yield {
      val (prepared, rows) = ask(gen2, idx1, q)
      assert(!prepared, q)
      for (r <- rows)
        assert(current.get(r.getAs[String]("chunk_id"))
          .contains(r.getAs[String]("content")), r)
      rows
    }
    assert(stale(0) == stale(1) && stale(2).exists(
      _.getAs[String]("content").contains("gardeners")))
    assert(idx1.preparedShapes == 2 && idx2.preparedShapes == 2)
    Seq(idx1, idx2).foreach(_.docWeights.unpersist())
  }

  test("concurrent requests of one prepared shape each get their own rows") {
    val standing = pinned(tiedTable)
    warmServing(tiedTable, standing)
    val req = SearchRequest(query = "spark", searchMode = "hybrid", k = 4,
      scoreThreshold = -1e9, vectorDim = Dim)
    SearchEngine.search(tiedTable, req, sparseIndex = Some(standing)).collect()
    val queries = Seq("tomato sauce", "spark streaming", "join strategies",
      "gardening tips")
    val expected = queries.map(q =>
      q -> SearchEngine.search(tiedTable, req.copy(query = q)).collect().toSeq)
      .toMap
    assert(expected.values.toSet.size == queries.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val answers = queries.map(q => pool.submit(
        new java.util.concurrent.Callable[Seq[(String, Boolean, Boolean)]] {
          def call() = (0 until 5).map { _ =>
            val df = SearchEngine.search(tiedTable, req.copy(query = q),
              sparseIndex = Some(standing))
            (q, isPrepared(df), df.collect().toSeq == expected(q))
          }
        }))
      val got = answers.flatMap(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      assert(got.size == 20 && got.forall(g => g._2 && g._3), got)
    } finally pool.shutdown()
    standing.docWeights.unpersist()
  }

  test("an index keeps at most MaxPreparedShapes prepared plans; an " +
      "evicted shape prepares again") {
    import graft.operators.Bm25.MaxPreparedShapes
    val standing = pinned(tiedTable)
    warmServing(tiedTable, standing)
    def ask(k: Int, q: String) = {
      val req = SearchRequest(query = q, searchMode = "sparse", k = k,
        scoreThreshold = -1e9, vectorDim = Dim)
      val df = SearchEngine.search(tiedTable, req, sparseIndex = Some(standing))
      assert(df.collect().toSeq ==
        SearchEngine.search(tiedTable, req).collect().toSeq, s"k=$k q=$q")
      isPrepared(df)
    }
    for (k <- 1 to MaxPreparedShapes + 1) {
      assert(!ask(k, "spark"), s"k=$k")
      assert(ask(k, "tomato"), s"k=$k")
    }
    assert(standing.preparedShapes == MaxPreparedShapes)
    // k = 1, the least recently used shape, was dropped for the last one
    assert(ask(2, "sauce"))
    assert(!ask(1, "spark") && ask(1, "sauce"))
    // and k = 3 made room for it
    assert(!ask(3, "sauce") && ask(3, "spark"))
    standing.docWeights.unpersist()
  }
}

package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Bm25, Chunking, Dedup, Spell, TextRank, TopK}

import Fixtures._
import OracleSql._
import Oracle._

/** Retrieval composites around search: percolation, RAG context packing,
  * late interaction, suggestions, spelling correction, resource
  * selection and document authority. */
object RetrievalQueries {
  /** The STANDING (64,16) hierarchy + its leaf BM25 index, built once
    * per sf dir — the ingested-index discipline (search_hybrid's): the
    * parent-context retrieval queries measure the SERVE path, exactly
    * as a product queries an already-ingested hierarchy; the build
    * path keeps its own probes (chunk_hier for the relation, the
    * oracle replays the spans). Leaf text is the span substring, the
    * same definition the oracles replay. */
  private def hierLeafIndex(s: SparkSession,
      dir: String): (DataFrame, Bm25.Index) =
    StandingArtifacts(s, dir, "hierLeafIndex") {
      val docs = t(s, dir, "documents")
      val hier = Chunking.chunkHierarchical(docs, "doc_id", "text",
        Chunking.ChunkConfig(hierarchicalSizes = Seq(64, 16))).cache()
      hier.count()
      val docText = docs.select(
        col("doc_id").cast("string").as("doc_id"),
        col("text").as("_doc_text"))
      val leaves = hier.filter(col("level") === 1).join(docText, "doc_id")
        .select(col("chunk_id"),
          expr("substring(_doc_text, start_offset + 1, " +
            "end_offset - start_offset)").as("chunk_text"))
      (hier, Bm25.buildIndex(leaves, "chunk_id", "chunk_text",
        pinStats = true).pin())
    }

  /** Standing SymSpell delete dictionary at depth `maxDist` (VERDICT
    * r13 #4): the vocabulary-side deletion-variant relation is
    * corpus-deterministic — Garbe's algorithm precomputes exactly this
    * offline — so the spell/fallback serving rows probe a pinned
    * dictionary instead of re-expanding the vocabulary per request.
    * `fallback_index_persist` deliberately does NOT use it: its point
    * is pricing the read-back + refit path. */
  private def docsVocabVariants(s: SparkSession, dir: String,
      maxDist: Int): DataFrame =
    StandingArtifacts.relation(s, dir, s"docsVocabVariants/$maxDist")(
      graft.operators.Spell.vocabVariants(docsVocab(s, dir), maxDist))

  val defs: Seq[QueryDef] = Seq(
    // ---- PERCOLATOR — reverse search (the Elasticsearch percolate /
    //      alerting primitive): STORED queries match INCOMING docs.
    //      The stored-query relation broadcasts (it is always tiny
    //      next to the corpus); a doc matches when it contains EVERY
    //      required term — one distinct-token pass, one broadcast
    //      join, one conjunction count. Query 4 requires a term absent
    //      from the corpus, pinning the no-match path ----
    QueryDef("percolate_match", (s, dir) => {
      val alerts = Seq(
        (1L, Seq("spark", "join")), (2L, Seq("customer")),
        (3L, Seq("stream", "data", "table")), (4L, Seq("zzznope")))
      import s.implicits._
      val qterms = alerts
        .flatMap { case (q, ts) => ts.distinct.map(t => (q, t, ts.distinct.size)) }
        .toDF("query_id", "tok", "n_req")
      val toks = docsGateToks(s, dir).select(col("id").as("doc_id"),
        col("tok"))
      toks.join(broadcast(qterms), "tok")
        .groupBy("query_id", "doc_id", "n_req")
        .agg(countDistinct("tok").as("n_hit"))
        .filter(col("n_hit") === col("n_req"))
        .select("query_id", "doc_id")
        .orderBy("query_id", "doc_id")
    },
    // the same all-required-terms conjunction over the distinct token
    // stream; query 4's absent term matches nothing
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH alerts AS (
         |  SELECT * FROM (VALUES
         |    (1, 'spark', 2), (1, 'join', 2),
         |    (2, 'customer', 1),
         |    (3, 'stream', 3), (3, 'data', 3), (3, 'table', 3),
         |    (4, 'zzznope', 1)) AS t(query_id, tok, n_req)),
         |dtoks AS (
         |  SELECT DISTINCT doc_id, unnest($toks) AS tok
         |  FROM documents)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id
         |FROM dtoks JOIN alerts USING (tok)
         |GROUP BY query_id, doc_id, n_req
         |HAVING count(DISTINCT tok) = n_req
         |ORDER BY query_id, doc_id""".stripMargin
    }),

    // ---- PERCOLATOR with PHRASE legs — stored queries carrying both
    //      a term conjunction AND an exact-phrase constraint (the
    //      alerting percolator's next rung: "notify me on docs that
    //      contain spark AND join AND the exact phrase 'big data'"):
    //      term legs match as percolate_match; each stored phrase adds
    //      one positional-intersection gate (bounded by the stored-
    //      query count — the stored relation is always tiny next to
    //      the corpus). Query 3's phrase is absent corpus-wide,
    //      pinning the phrase-rejects-terms-match path ----
    QueryDef("percolate_phrase", (s, dir) => {
      val docs = t(s, dir, "documents")
      val alerts = Seq(
        (1L, Seq("spark", "join"), Some(Seq("big", "data"))),
        (2L, Seq("customer"), None),
        (3L, Seq("data"), Some(Seq("zzznope", "data"))))
      import s.implicits._
      val qterms = alerts
        .flatMap { case (q, ts, _) =>
          ts.distinct.map(tk => (q, tk, ts.distinct.size)) }
        .toDF("query_id", "tok", "n_req")
      val toks = docsGateToks(s, dir).select(col("id").as("doc_id"),
        col("tok"))
      val termMatch = toks.join(broadcast(qterms), "tok")
        .groupBy("query_id", "doc_id", "n_req")
        .agg(countDistinct("tok").as("n_hit"))
        .filter(col("n_hit") === col("n_req"))
        .select("query_id", "doc_id")
      alerts.foldLeft(termMatch) { case (acc, (q, _, ph)) =>
        ph.fold(acc) { phrase =>
          val ok = graft.operators.Phrase
            .phraseSearch(docs, "doc_id", "text", phrase,
              standingPostings = Some(docsPosToks(s, dir)))
            .select(col("doc_id").as("_pd"))
          acc.filter(col("query_id") =!= q)
            .unionByName(acc.filter(col("query_id") === q)
              .join(ok, col("doc_id") === col("_pd"), "left_semi"))
        }
      }.orderBy("query_id", "doc_id")
    },
    // the term-conjunction percolator gated per stored query by its
    // phrase's positional-intersection match set
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH palerts AS (
         |  SELECT * FROM (VALUES
         |    (1, 'spark', 2), (1, 'join', 2),
         |    (2, 'customer', 1),
         |    (3, 'data', 1)) AS t(query_id, tok, n_req)),
         |ptoked AS MATERIALIZED (
         |  SELECT doc_id, unnest($toks) AS tok,
         |    unnest(range(len($toks))) AS pos
         |  FROM documents),
         |ph1 AS (
         |  SELECT DISTINCT t.doc_id FROM ptoked t
         |  JOIN (VALUES ('big', 0), ('data', 1)) AS w(w, i)
         |    ON t.tok = w.w
         |  GROUP BY t.doc_id, t.pos - w.i
         |  HAVING count(*) = 2 AND (t.pos - w.i) >= 0),
         |ph3 AS (
         |  SELECT DISTINCT t.doc_id FROM ptoked t
         |  JOIN (VALUES ('zzznope', 0), ('data', 1)) AS w(w, i)
         |    ON t.tok = w.w
         |  GROUP BY t.doc_id, t.pos - w.i
         |  HAVING count(*) = 2 AND (t.pos - w.i) >= 0),
         |tmatch AS (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id
         |  FROM (SELECT DISTINCT doc_id, tok FROM ptoked) d
         |  JOIN palerts USING (tok)
         |  GROUP BY query_id, doc_id, n_req
         |  HAVING count(DISTINCT tok) = n_req)
         |SELECT query_id, doc_id FROM tmatch
         |WHERE (query_id <> 1 OR doc_id IN (SELECT doc_id FROM ph1))
         |  AND (query_id <> 3 OR doc_id IN (SELECT doc_id FROM ph3))
         |ORDER BY query_id, doc_id""".stripMargin
    }),

    // ---- RAG context packing: the retrieval→prompt assembly step —
    //      top-20 BM25 hits greedily packed into a 400-token budget in
    //      rank order (prefix cut: the first hit whose cumulative
    //      token count would exceed the budget ends the context).
    //      Rank + running sum over the 20-row post-cut relation ----
    QueryDef("rag_context_pack", (s, dir) => {
      val docs = t(s, dir, "documents")
      val top = Bm25.searchTopK(docs, "doc_id", "text", SearchQuery, 20,
          index = Some(docsTextIndex(s, dir)))
        .select(col("id").as("doc_id"),
          round(col("score"), 6).as("score"))
      val w = Window.orderBy(col("score").desc, col("doc_id"))
      // broadcast the 20-row cut into the docs scan so only the kept
      // documents tokenize; the pack windows run on ≤20 rows
      docs.join(broadcast(top), "doc_id")
        .select(col("doc_id"), col("score"),
          size(TextFunctions.tokensCol(col("text"),
            removeStopwords = false)).cast("long").as("n_tokens"))
        .withColumn("context_pos", row_number().over(w).cast("long"))
        .withColumn("cum_tokens",
          sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("cum_tokens") <= 400L)
        .select("context_pos", "doc_id", "score", "n_tokens", "cum_tokens")
        .orderBy("context_pos")
    },
    // same top-20 cut (rounded scores), per-doc token counts, greedy
    // prefix pack under the 400-token budget
    Sql {
      val toks = sqlToksKeepStop("d.text")
      s"""WITH $Bm25ScoresCtes,
         |top20 AS (
         |  SELECT doc_id, round(score, 6) AS score FROM (
         |    SELECT doc_id, score FROM bm25_scores
         |    ORDER BY score DESC, doc_id LIMIT 20)),
         |packed AS (
         |  SELECT t.doc_id, t.score,
         |    CAST(len($toks) AS BIGINT) AS n_tokens
         |  FROM top20 t JOIN documents d USING (doc_id)),
         |ranked AS (
         |  SELECT *,
         |    row_number() OVER (ORDER BY score DESC, doc_id)
         |      AS context_pos,
         |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_tokens
         |  FROM packed)
         |SELECT CAST(context_pos AS BIGINT) AS context_pos, doc_id,
         |  score, n_tokens, cum_tokens
         |FROM ranked WHERE cum_tokens <= 400
         |ORDER BY context_pos""".stripMargin
    }),

    // ---- PARENT-CONTEXT retrieval (VERDICT r10 #5 — the RAG
    //      parent-document pattern the reference's hierarchical
    //      chunker exists for, hierarchical_strategy.py:78-260 / W8):
    //      hits rank at the FINE level (BM25 over the (64,16)
    //      hierarchy's 16-word leaves — precise matching), context
    //      serves from the level ABOVE via the deterministic
    //      parent_id link (no join needed to DERIVE the link; the
    //      result-set-bounded joins here only LOOK UP the ≤10 winners'
    //      parents). Chunk text is the span substring on BOTH engines,
    //      so leaf ranking replays exactly; composes with
    //      rag_context_pack by packing parents, not leaves ----
    QueryDef("search_parent_context", (s, dir) => {
      val (hier, idx) = hierLeafIndex(s, dir)
      val hits = Bm25.searchTopK(hier /* session only */, "chunk_id",
          "chunk_text", SearchQuery, 10, index = Some(idx))
        .select(col("id").as("chunk_id"),
          round(col("score"), 6).as("score"))
      val leafMeta = hier.filter(col("level") === 1)
        .select(col("chunk_id"), col("parent_id"), col("doc_id"))
      val parents = hier.filter(col("level") === 0)
        .select(col("chunk_id").as("parent_id"),
          col("start_offset").as("parent_start"),
          col("end_offset").as("parent_end"),
          col("token_count").as("parent_tokens"))
      hits.join(leafMeta, "chunk_id")
        .join(parents, "parent_id")
        .select(col("chunk_id"), col("doc_id").cast("long").as("doc_id"),
          col("score"), col("parent_id"), col("parent_start"),
          col("parent_end"), col("parent_tokens"))
        .orderBy(col("score").desc, col("chunk_id"))
    },
    // leaf BM25 over the l1 chunk-span substrings (the same spans on
    // both engines), top-10 cut, then the winners' parent rows looked
    // up through the deterministic parent_id link
    Sql(
      s"""WITH $ParentLeafHitsCtes
         |SELECT h.chunk_id, CAST(l1.doc_id AS BIGINT) AS doc_id,
         |  h.score, l1.parent_id,
         |  l0.start_offset AS parent_start,
         |  l0.end_offset AS parent_end,
         |  l0.token_count AS parent_tokens
         |FROM hhits h
         |JOIN l1 ON h.chunk_id = l1.chunk_id
         |JOIN l0 ON l1.parent_id = l0.chunk_id
         |ORDER BY h.score DESC, h.chunk_id""".stripMargin)),

    // ---- MULTI-VECTOR late-interaction retrieval (the ColBERT
    //      MaxSim shape, Khattab & Zaharia 2020, over chunk
    //      granularity): each doc is represented by its 16-word leaf
    //      chunk vectors; score(doc) = Σ_q max_chunk cos(q_vec,
    //      chunk_vec) over the query's token vectors — fine-grained
    //      matching BM25's bag-of-words and single-vector cosine both
    //      miss. ONE aggregation pass: all |q| maxes ride the same
    //      doc-keyed groupBy (map-side combined), summed in fixed
    //      token order; at scale this is the standard late-interaction
    //      plan (chunk vectors ⨝ broadcast query tokens) ----
    QueryDef("colbert_maxsim", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (hier, _) = hierLeafIndex(s, dir) // the standing hierarchy
      val docText = docs.select(col("doc_id").cast("string").as("doc_id"),
        col("text").as("_doc_text"))
      val leaves = hier.filter(col("level") === 1).join(docText, "doc_id")
        .select(col("doc_id"),
          expr("substring(_doc_text, start_offset + 1, " +
            "end_offset - start_offset)").as("chunk_text"))
      val qtoks = TextFunctions.tokenize(SearchQuery).distinct.sorted
      val qvecs = qtoks.map(tk =>
        TextFunctions.mockEmbeddingDouble(tk, KnnTextDim))
      val withV = leaves.withColumn("v",
        TextFunctions.mockEmbeddingCol(col("chunk_text"), KnnTextDim))
      val aggs = qvecs.zipWithIndex.map { case (q, i) =>
        max(VectorFunctions.dot(col("v"),
          array(q.toIndexedSeq.map(lit): _*))).as(s"m$i")
      }
      val scored = withV.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      val score = qvecs.indices.map(i => col(s"m$i")).reduce(_ + _)
      scored
        .select(col("doc_id").cast("long").as("doc_id"),
          round(score, 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .orderBy(col("score").desc, col("doc_id"))
    },
    // per-chunk mock vectors from the l1 leaf substrings; |q| maxes in
    // one GROUP BY, summed in the same fixed token order
    Sql {
      val qtoks = TextFunctions.tokenize(SearchQuery).distinct.sorted
      val qvecs = qtoks.map(tk =>
        TextFunctions.mockEmbeddingDouble(tk, KnnTextDim))
      val maxCols = qvecs.zipWithIndex.map { case (q, i) =>
        s"max(${mockDotExpr(q)}) AS m$i"
      }.mkString(",\n    ")
      val sumExpr = qvecs.indices.map(i => s"m$i").mkString(" + ")
      s"""WITH $HierChunkCtes,
         |${mockVecCtes(
          "(SELECT l1.doc_id AS doc_id, substring(d.text, " +
            "l1.start_offset + 1, l1.end_offset - l1.start_offset) " +
            "AS text FROM l1 JOIN docs d USING (doc_id)) cbsrc",
          "doc_id", "text", "cb")},
         |cbms AS (
         |  SELECT doc_id,
         |    $maxCols
         |  FROM cbnrm GROUP BY doc_id)
         |SELECT doc_id, score FROM (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |    round($sumExpr, 6) AS score
         |  FROM cbms
         |  ORDER BY score DESC, doc_id LIMIT 10)
         |ORDER BY score DESC, doc_id""".stripMargin
    }),

    // ---- the parent-document RAG assembly end-to-end (the verdict's
    //      "pack parents, not fine chunks"): leaf hits collapse to
    //      their parents FIRST-HIT style (best child score per parent
    //      — max over 6-dp-rounded scores, order-free), then the
    //      64-token parents greedily pack the 400-token budget in
    //      (best_score desc, parent_id) order — context windows built
    //      from coherent parent spans instead of 16-word fragments ----
    QueryDef("rag_parent_pack", (s, dir) => {
      val (hier, idx) = hierLeafIndex(s, dir)
      val hits = Bm25.searchTopK(hier /* session only */, "chunk_id",
          "chunk_text", SearchQuery, 10, index = Some(idx))
        .select(col("id").as("chunk_id"),
          round(col("score"), 6).as("score"))
      val leafMeta = hier.filter(col("level") === 1)
        .select(col("chunk_id"), col("parent_id"))
      val bestPerParent = hits.join(leafMeta, "chunk_id")
        .groupBy("parent_id").agg(max("score").as("best_score"))
      val parents = hier.filter(col("level") === 0)
        .select(col("chunk_id").as("parent_id"), col("doc_id"),
          col("token_count").cast("long").as("n_tokens"))
      val w = Window.orderBy(col("best_score").desc, col("parent_id"))
      bestPerParent.join(parents, "parent_id")
        .withColumn("context_pos", row_number().over(w).cast("long"))
        .withColumn("cum_tokens",
          sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("cum_tokens") <= 400L)
        .select(col("context_pos"), col("parent_id"),
          col("doc_id").cast("long").as("doc_id"), col("best_score"),
          col("n_tokens"), col("cum_tokens"))
        .orderBy("context_pos")
    },
    // the same leaf hits collapsed to parents (max rounded child
    // score — order-free), then the rag_context_pack greedy prefix
    // over the parents' token counts
    Sql(
      s"""WITH $ParentLeafHitsCtes,
         |ppar AS (
         |  SELECT l1.parent_id, max(h.score) AS best_score
         |  FROM hhits h JOIN l1 ON h.chunk_id = l1.chunk_id
         |  GROUP BY l1.parent_id),
         |ppk AS (
         |  SELECT p.parent_id, CAST(l0.doc_id AS BIGINT) AS doc_id,
         |    p.best_score,
         |    CAST(l0.token_count AS BIGINT) AS n_tokens,
         |    CAST(row_number() OVER
         |      (ORDER BY p.best_score DESC, p.parent_id) AS BIGINT)
         |      AS context_pos,
         |    sum(CAST(l0.token_count AS BIGINT)) OVER
         |      (ORDER BY p.best_score DESC, p.parent_id
         |       ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM ppar p JOIN l0 ON p.parent_id = l0.chunk_id)
         |SELECT context_pos, parent_id, doc_id, best_score, n_tokens,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM ppk WHERE cum_tokens <= 400
         |ORDER BY context_pos""".stripMargin)),

    // ---- prefix AUTOCOMPLETE over the corpus vocabulary: top-3
    //      completions per prefix by (df desc, term asc) — each prefix
    //      is one TakeOrdered over the Zipf-bounded vocabulary, no
    //      rank window; with spell_correct, the search-box suggest
    //      family ----
    QueryDef("suggest_prefix", (s, dir) => {
      // ONE plan (VERDICT r9 #8): prefixes as a broadcast relation
      // equi-joined on substr(term, 1, len), bounded per-prefix top-3
      // via the TopK aggregator — the query count no longer grows the
      // plan (the previous form built one TakeOrdered branch per
      // prefix); shape pinned in PlanAuditSpec
      Spell.suggest(docsVocab(s, dir), Seq("st", "qu", "ba"), n = 3)
        .orderBy(col("prefix"), col("df").desc, col("suggestion"))
    },
    // one LIMIT-3 cut per literal prefix over the same vocabulary
    Sql {
      val toks = sqlToksKeepStop("text")
      val blocks = Seq("st", "qu", "ba").map { p =>
        s"""SELECT '$p' AS prefix, suggestion, df FROM (
           |  SELECT term AS suggestion, df FROM vocab
           |  WHERE term LIKE '$p%'
           |  ORDER BY df DESC, term LIMIT 3)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toked AS MATERIALIZED (
         |  SELECT DISTINCT doc_id AS id, unnest($toks) AS term
         |  FROM documents),
         |vocab AS MATERIALIZED (
         |  SELECT term, count(*) AS df FROM toked GROUP BY term)
         |$blocks
         |ORDER BY prefix, df DESC, suggestion""".stripMargin
    }),

    // ---- next-WORD query suggestion (the other half of the
    //      search-box suggest family: prefix completes the current
    //      word, this continues the phrase): corpus bigram counts via
    //      an in-plan zip of the token array with its own tail (one
    //      narrow pass — the raw token stream never shuffles; only
    //      the seed-filtered bigram counts do), top-3 continuations
    //      per seed by (count desc, word asc) through the bounded
    //      TopK aggregator ----
    QueryDef("suggest_next_word", (s, dir) => {
      val seeds = Seq("customer", "data", "table")
      val bg = t(s, dir, "documents")
        .select(TextFunctions.tokensCol(col("text"),
          removeStopwords = false).as("_t"))
        // _t projected BELOW the transform so the tokenizer runs once
        // per row, not once per element (the Bm25 generator trap)
        .select(explode(expr(
          "transform(slice(_t, 1, size(_t) - 1), " +
            "(w, i) -> struct(w AS w1, element_at(_t, i + 2) AS w2))"))
          .as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val counted = bg.filter(col("w1").isin(seeds: _*))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      TopK.perGroup(
          counted.select(col("w1").as("seed"),
            col("w2").as("doc_id"), col("w2").as("chunk_id"),
            col("n").cast("double").as("score")),
          "seed", 3)
        .select(col("seed"), col("chunk_id").as("suggestion"),
          col("score").cast("long").as("n"))
        .orderBy(col("seed"), col("n").desc, col("suggestion"))
    },
    // bigram stream via the zipped positional unnest; top-3 per seed
    // by (count desc, word asc)
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH toked AS (SELECT $toks AS t FROM documents),
         |bg AS (
         |  SELECT unnest(t[1:len(t)-1]) AS w1,
         |    unnest(t[2:len(t)]) AS w2
         |  FROM toked),
         |cnt AS (
         |  SELECT w1 AS seed, w2, count(*) AS n FROM bg
         |  WHERE w1 IN ('customer', 'data', 'table')
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT seed, w2, n, row_number() OVER
         |    (PARTITION BY seed ORDER BY n DESC, w2) AS rn
         |  FROM cnt)
         |SELECT seed, w2 AS suggestion, CAST(n AS BIGINT) AS n
         |FROM rk WHERE rn <= 3
         |ORDER BY seed, n DESC, suggestion""".stripMargin
    }),

    // ---- "did you mean" spelling correction (SymSpell symmetric
    //      deletes): both sides emit only their 1-deletion variants —
    //      any distance-1 pair provably shares one — then an exact
    //      levenshtein verify and a df-argmax rank. Inputs staged by
    //      mangling the 10 highest-df length>=5 vocabulary terms
    //      (2nd char deleted) ----
    QueryDef("spell_correct", (s, dir) => {
      // two consumers (input staging + correction): the STANDING
      // pinned vocabulary serves both
      val vocab = docsVocab(s, dir)
      val inputs = vocab.filter(length(col("term")) >= 5)
        .orderBy(col("df").desc, col("term")).limit(10)
        .select(concat(col("term").substr(lit(1), lit(1)),
          col("term").substr(lit(3), length(col("term")))).as("q"))
      Spell.didYouMeanFromVariants(docsVocabVariants(s, dir, 1),
        inputs, "q", maxDist = 1, broadcastInputs = true)
        .orderBy("input")
    },
    // same deletion-variant join + exact levenshtein verify + df
    // argmax (ties to the smallest term); duplicates are harmless on
    // both sides (DISTINCT before ranking)
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH toked AS MATERIALIZED (
         |  SELECT DISTINCT doc_id AS id, unnest($toks) AS term
         |  FROM documents),
         |vocab AS MATERIALIZED (
         |  SELECT term, count(*) AS df FROM toked GROUP BY term),
         |inputs AS (
         |  SELECT substr(term, 1, 1) || substr(term, 3) AS input
         |  FROM (
         |    SELECT term FROM vocab WHERE length(term) >= 5
         |    ORDER BY df DESC, term LIMIT 10)),
         |vdel AS (
         |  SELECT term, df, unnest(list_append(
         |    list_transform(range(1, length(term) + 1),
         |      i -> substr(term, 1, i - 1) || substr(term, i + 1)),
         |    term)) AS variant
         |  FROM vocab),
         |qdel AS (
         |  SELECT input, unnest(list_append(
         |    list_transform(range(1, length(input) + 1),
         |      i -> substr(input, 1, i - 1) || substr(input, i + 1)),
         |    input)) AS variant
         |  FROM inputs),
         |cands AS (
         |  SELECT DISTINCT q.input, v.term, v.df,
         |    CAST(levenshtein(q.input, v.term) AS INT) AS dist
         |  FROM qdel q JOIN vdel v USING (variant)
         |  WHERE levenshtein(q.input, v.term) <= 1),
         |bestd AS (SELECT input, min(dist) AS dist FROM cands
         |  GROUP BY 1),
         |atd AS (SELECT c.* FROM cands c JOIN bestd b
         |  ON b.input = c.input AND b.dist = c.dist),
         |bestdf AS (SELECT input, dist, max(df) AS df FROM atd
         |  GROUP BY 1, 2)
         |SELECT a.input, min(a.term) AS suggestion, a.df, a.dist
         |FROM atd a JOIN bestdf f ON f.input = a.input
         |  AND f.dist = a.dist AND f.df = a.df
         |GROUP BY a.input, a.dist, a.df
         |ORDER BY a.input""".stripMargin
    }),

    // ---- "did you mean" at edit distance 2 (VERDICT r9 #5 — the
    //      production bar; Garbe's algorithm exists precisely because
    //      d=2 substitution-generation explodes while deletion depth 2
    //      stays |vocab|·len² bounded): depth-2 deletion variants on
    //      BOTH sides, exact levenshtein <= 2 verify, same
    //      (dist asc, df desc, term asc) ranking. Inputs staged by
    //      DOUBLE-mangling the 10 highest-df length>=6 terms (2nd and
    //      4th chars deleted — true distance-2 probes; a closer
    //      distance-1 neighbor may still win, which is the point of
    //      the dist-first ranking) ----
    QueryDef("spell_correct_d2", (s, dir) => {
      val vocab = docsVocab(s, dir)
      val inputs = vocab.filter(length(col("term")) >= 6)
        .orderBy(col("df").desc, col("term")).limit(10)
        .select(concat(col("term").substr(lit(1), lit(1)),
          col("term").substr(lit(3), lit(1)),
          col("term").substr(lit(5), length(col("term")))).as("q"))
      Spell.didYouMeanFromVariants(docsVocabVariants(s, dir, 2),
        inputs, "q", maxDist = 2, broadcastInputs = true)
        .orderBy("input")
    },
    // depth-2 deletion variants on both sides (deletions of deletions,
    // deduped — multiplicity differences vs Spark's array_union are
    // killed by the DISTINCT on candidates), exact levenshtein <= 2
    // verify, same (dist, df, term) ranking; inputs double-mangled
    // (2nd + 4th chars deleted) from the top-10 length>=6 terms
    Sql {
      val toks = sqlToksKeepStop("text")
      // one level of deletion variants of s, plus s itself
      def del(s: String) =
        s"""list_append(
           |    list_transform(range(1, length($s) + 1),
           |      i -> substr($s, 1, i - 1) || substr($s, i + 1)), $s)"""
          .stripMargin
      s"""WITH toked AS MATERIALIZED (
         |  SELECT DISTINCT doc_id AS id, unnest($toks) AS term
         |  FROM documents),
         |vocab AS MATERIALIZED (
         |  SELECT term, count(*) AS df FROM toked GROUP BY term),
         |inputs AS (
         |  SELECT substr(term, 1, 1) || substr(term, 3, 1) ||
         |    substr(term, 5) AS input
         |  FROM (
         |    SELECT term FROM vocab WHERE length(term) >= 6
         |    ORDER BY df DESC, term LIMIT 10)),
         |vdel AS (
         |  SELECT term, df, unnest(list_distinct(flatten(
         |    list_transform(${del("term")}, s -> ${del("s")}))))
         |    AS variant
         |  FROM vocab),
         |qdel AS (
         |  SELECT input, unnest(list_distinct(flatten(
         |    list_transform(${del("input")}, s -> ${del("s")}))))
         |    AS variant
         |  FROM inputs),
         |cands AS (
         |  SELECT DISTINCT q.input, v.term, v.df,
         |    CAST(levenshtein(q.input, v.term) AS INT) AS dist
         |  FROM qdel q JOIN vdel v USING (variant)
         |  WHERE levenshtein(q.input, v.term) <= 2),
         |bestd AS (SELECT input, min(dist) AS dist FROM cands
         |  GROUP BY 1),
         |atd AS (SELECT c.* FROM cands c JOIN bestd b
         |  ON b.input = c.input AND b.dist = c.dist),
         |bestdf AS (SELECT input, dist, max(df) AS df FROM atd
         |  GROUP BY 1, 2)
         |SELECT a.input, min(a.term) AS suggestion, a.df, a.dist
         |FROM atd a JOIN bestdf f ON f.input = a.input
         |  AND f.dist = a.dist AND f.df = a.df
         |GROUP BY a.input, a.dist, a.df
         |ORDER BY a.input""".stripMargin
    }),

    // ---- zero-result RECOVERY composite (the search-box fallback a
    //      product ships: misspelled query → "did you mean" → re-run):
    //      3 mangled high-df terms are corrected against the corpus
    //      vocabulary, the corrected terms (input-ordered, space-
    //      joined) become the query, and BM25 answers it — the
    //      corrected query string rides every row so the oracle checks
    //      the correction AND the re-search ----
    QueryDef("search_fallback_correct", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = docsVocab(s, dir)
      val inputs = vocab.filter(length(col("term")) >= 5)
        .orderBy(col("df").desc, col("term")).limit(3)
        .select(concat(col("term").substr(lit(1), lit(1)),
          col("term").substr(lit(3), length(col("term")))).as("q"))
      // bounded 3-row collect — the corrected query is request-sized;
      // correction probes the STANDING delete dictionary (VERDICT r13
      // #4: the per-request vocabulary re-expansion was this row's
      // only over-threshold cost)
      val corrected = Spell.didYouMeanFromVariants(
          docsVocabVariants(s, dir, 1), inputs, "q", maxDist = 1,
          broadcastInputs = true)
        .orderBy("input").select("suggestion")
        .collect().map(_.getString(0))
      val cq = corrected.mkString(" ")
      Bm25.searchTopK(docs, "doc_id", "text", cq, 10,
          index = Some(docsTextIndex(s, dir)))
        .select(lit(cq).as("corrected_query"), col("id").as("doc_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    },
    // the fallback composite end-to-end: the same d=1 correction chain
    // (3 inputs), corrected terms grouped into query tf, and the full
    // BM25 scoring pass — the corrected-query string rides every row
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH toked AS MATERIALIZED (
         |  SELECT DISTINCT doc_id AS id, unnest($toks) AS term
         |  FROM documents),
         |vocab AS MATERIALIZED (
         |  SELECT term, count(*) AS df FROM toked GROUP BY term),
         |inputs AS (
         |  SELECT substr(term, 1, 1) || substr(term, 3) AS input
         |  FROM (
         |    SELECT term FROM vocab WHERE length(term) >= 5
         |    ORDER BY df DESC, term LIMIT 3)),
         |vdel AS (
         |  SELECT term, df, unnest(list_append(
         |    list_transform(range(1, length(term) + 1),
         |      i -> substr(term, 1, i - 1) || substr(term, i + 1)),
         |    term)) AS variant
         |  FROM vocab),
         |qdel AS (
         |  SELECT input, unnest(list_append(
         |    list_transform(range(1, length(input) + 1),
         |      i -> substr(input, 1, i - 1) || substr(input, i + 1)),
         |    input)) AS variant
         |  FROM inputs),
         |scands AS (
         |  SELECT DISTINCT q.input, v.term, v.df,
         |    CAST(levenshtein(q.input, v.term) AS INT) AS dist
         |  FROM qdel q JOIN vdel v USING (variant)
         |  WHERE levenshtein(q.input, v.term) <= 1),
         |sbestd AS (SELECT input, min(dist) AS dist FROM scands
         |  GROUP BY 1),
         |satd AS (SELECT c.* FROM scands c JOIN sbestd b
         |  ON b.input = c.input AND b.dist = c.dist),
         |sbestdf AS (SELECT input, dist, max(df) AS df FROM satd
         |  GROUP BY 1, 2),
         |corr AS MATERIALIZED (
         |  SELECT a.input, min(a.term) AS suggestion
         |  FROM satd a JOIN sbestdf f ON f.input = a.input
         |    AND f.dist = a.dist AND f.df = a.df
         |  GROUP BY a.input, a.dist, a.df),
         |${bm25WeightsCtes()},
         |cqt AS (SELECT suggestion AS term, count(*) AS q_tf
         |  FROM corr GROUP BY suggestion),
         |cqw AS (
         |  SELECT c.term, CAST(c.q_tf AS DOUBLE) * i.idf AS q_weight
         |  FROM cqt c JOIN idf i USING (term) WHERE i.idf > 0),
         |cscores AS (
         |  SELECT w.doc_id,
         |    list_sum(list(w.weight * q.q_weight ORDER BY w.term))
         |      AS score
         |  FROM weights w JOIN cqw q USING (term)
         |  GROUP BY w.doc_id),
         |cqs AS (SELECT string_agg(suggestion, ' ' ORDER BY input)
         |  AS corrected_query FROM corr)
         |SELECT cqs.corrected_query, t.doc_id,
         |  round(t.score, 6) AS score
         |FROM (SELECT doc_id, score FROM cscores
         |  ORDER BY score DESC, doc_id LIMIT 10) t, cqs
         |ORDER BY score DESC, doc_id""".stripMargin
    }),

    // ---- phonetic-key spell correction (Zobel & Dart 1996):
    //      vowel-level typos — the class SymSpell pays |term|^d
    //      deletion variants to reach — land in their correction's
    //      consonant-skeleton bucket through ONE equi-join. Inputs
    //      derive from the vocabulary itself (the spell_correct
    //      discipline): top-df terms with (a) their single non-leading
    //      'a' swapped to 'e', (b) a 'u' inserted after the first
    //      letter — both key-invariant by construction ----
    QueryDef("spell_phonetic", (s, dir) => {
      val vocab = docsVocab(s, dir)
      val subs = vocab
        .filter(length(col("term")) >= 5 &&
          length(col("term")) -
            length(regexp_replace(col("term"), "a", "")) === 1 &&
          substring(col("term"), 1, 1) =!= "a")
        .orderBy(col("df").desc, col("term")).limit(5)
        .select(regexp_replace(col("term"), "a", "e").as("input"))
      val ins = vocab.filter(length(col("term")) >= 5)
        .orderBy(col("df").desc, col("term")).limit(5)
        .select(concat(substring(col("term"), 1, 1), lit("u"),
          col("term").substr(lit(2), length(col("term")))).as("input"))
      Spell.phoneticCorrect(vocab, subs.unionByName(ins).distinct(),
          "input")
        .orderBy("input")
    },
    // consonant-skeleton key join + levenshtein<=2 verify; inputs are
    // vocabulary-derived vowel errors (one 'a'->'e' substitution, one
    // 'u' insertion), both phonetic-key-invariant by construction
    Sql {
      val toks = sqlToksKeepStop("text")
      def pk(x: String) =
        s"substr($x, 1, 1) || substr(regexp_replace(substr($x, 2), " +
          s"'[aeiouyhw]', '', 'g'), 1, 3)"
      s"""WITH toked AS MATERIALIZED (
         |  SELECT DISTINCT doc_id AS id, unnest($toks) AS term
         |  FROM documents),
         |vocab AS MATERIALIZED (
         |  SELECT term, count(*) AS df FROM toked GROUP BY term),
         |subs AS (
         |  SELECT replace(term, 'a', 'e') AS input FROM (
         |    SELECT term FROM vocab
         |    WHERE length(term) >= 5
         |      AND length(term) - length(replace(term, 'a', '')) = 1
         |      AND substr(term, 1, 1) <> 'a'
         |    ORDER BY df DESC, term LIMIT 5)),
         |ins AS (
         |  SELECT substr(term, 1, 1) || 'u' || substr(term, 2) AS input
         |  FROM (
         |    SELECT term FROM vocab WHERE length(term) >= 5
         |    ORDER BY df DESC, term LIMIT 5)),
         |inputs AS (SELECT DISTINCT input FROM
         |  (SELECT input FROM subs UNION ALL SELECT input FROM ins)),
         |cands AS (
         |  SELECT DISTINCT i.input, v.term, v.df,
         |    CAST(levenshtein(i.input, v.term) AS INT) AS dist
         |  FROM inputs i JOIN vocab v
         |    ON ${pk("i.input")} = ${pk("v.term")}
         |  WHERE levenshtein(i.input, v.term) <= 2),
         |bestd AS (SELECT input, min(dist) AS dist FROM cands GROUP BY 1),
         |atd AS (SELECT c.* FROM cands c JOIN bestd b
         |  ON b.input = c.input AND b.dist = c.dist),
         |bestdf AS (SELECT input, dist, max(df) AS df FROM atd
         |  GROUP BY 1, 2)
         |SELECT a.input, min(a.term) AS suggestion, a.df, a.dist
         |FROM atd a JOIN bestdf f ON f.input = a.input
         |  AND f.dist = a.dist AND f.df = a.df
         |GROUP BY a.input, a.dist, a.df
         |ORDER BY a.input""".stripMargin
    }),

    // ---- typo-tolerant autocomplete (suggest_prefix's fuzzy mode):
    //      a mistyped prefix corrects to the best vocabulary prefix
    //      within edit distance 1 (SymSpell on the PREFIX space —
    //      the candidate universe is the distinct-prefix relation),
    //      then the corrected bucket's top terms suggest; an exact
    //      prefix passes through at dist 0, a hopeless one is absent ----
    QueryDef("suggest_fuzzy", (s, dir) => {
      val vocab = docsVocab(s, dir)
      Spell.suggestFuzzy(vocab, Seq("spak", "tabl", "zzzz"), n = 3)
        .orderBy("input", "rank")
    },
    // SymSpell deletion-variant join on the PREFIX space (d=1),
    // correction ranked (dist, bucket mass desc, prefix), bucket terms
    // ranked (df desc, term) replaying the TopK order
    Sql {
      val toks = sqlToksKeepStop("text")
      def dels(x: String) =
        s"""list_append(
           |    list_transform(range(1, length($x) + 1),
           |      i -> substr($x, 1, i - 1) || substr($x, i + 1)),
           |    $x)""".stripMargin
      s"""WITH toked AS MATERIALIZED (
         |  SELECT DISTINCT doc_id AS id, unnest($toks) AS term
         |  FROM documents),
         |vocab AS MATERIALIZED (
         |  SELECT term, count(*) AS df FROM toked GROUP BY term),
         |pf AS MATERIALIZED (
         |  SELECT substr(term, 1, 4) AS vprefix, term, df FROM vocab),
         |buckets AS (
         |  SELECT vprefix, sum(df) AS pdf FROM pf GROUP BY vprefix),
         |inputs AS (
         |  SELECT unnest(['spak', 'tabl', 'zzzz']) AS input),
         |qv AS (
         |  SELECT input, unnest(${dels("input")}) AS variant
         |  FROM inputs),
         |vv AS (
         |  SELECT vprefix, pdf, unnest(${dels("vprefix")}) AS variant
         |  FROM buckets),
         |cands AS (
         |  SELECT DISTINCT q.input, v.vprefix, v.pdf,
         |    CAST(levenshtein(q.input, v.vprefix) AS INT) AS dist
         |  FROM qv q JOIN vv v USING (variant)
         |  WHERE levenshtein(q.input, v.vprefix) <= 1),
         |bestd AS (SELECT input, min(dist) AS dist FROM cands
         |  GROUP BY 1),
         |atd AS (SELECT c.* FROM cands c JOIN bestd b
         |  ON b.input = c.input AND b.dist = c.dist),
         |bestpdf AS (SELECT input, dist, max(pdf) AS pdf FROM atd
         |  GROUP BY 1, 2),
         |best AS (
         |  SELECT a.input, min(a.vprefix) AS vprefix
         |  FROM atd a JOIN bestpdf f ON f.input = a.input
         |    AND f.dist = a.dist AND f.pdf = a.pdf
         |  GROUP BY a.input, a.dist, a.pdf),
         |sugg AS (
         |  SELECT b.input, b.vprefix, p.term, p.df,
         |    row_number() OVER (PARTITION BY b.input
         |      ORDER BY p.df DESC, p.term) AS rank
         |  FROM best b JOIN pf p USING (vprefix))
         |SELECT input, vprefix AS corrected_prefix,
         |  CAST(rank AS INT) AS rank, term AS suggestion, df
         |FROM sugg WHERE rank <= 3
         |ORDER BY input, rank""".stripMargin
    }),

    // ---- CORI resource selection (Callan et al. 1995): rank the
    //      COLLECTIONS before fanning out — the federated-search step
    //      in front of search_multi_docs; belief from collection-level
    //      df/cw statistics only, summed in term order ----
    QueryDef("collection_select", (s, dir) =>
      graft.operators.Cori.selectCollections(t(s, dir, "documents"),
          "source", "doc_id", "text",
          TextFunctions.tokenize(SearchQuery).distinct)
        .select(col("collection"), col("n_terms"),
          round(col("belief"), 6).as("belief"))
        .orderBy(col("belief").desc, col("collection")),
    // collection-level CORI belief: one tokenize pass, (collections x
    // query terms) grid, p summed in term order
    Sql {
      val toks = sqlToks("text")
      val terms = TextFunctions.tokenize(SearchQuery).distinct.sorted
      val termVals = terms.map(t => s"('$t')").mkString(", ")
      val termIn = terms.map(t => s"'$t'").mkString(", ")
      s"""WITH ctoks AS MATERIALIZED (
         |  SELECT source AS c, doc_id AS id, unnest($toks) AS term
         |  FROM documents),
         |cwrel AS (SELECT c, count(*) AS cw FROM ctoks GROUP BY c),
         |cstats AS (
         |  SELECT count(*) AS n_coll,
         |    CAST(sum(cw) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |      AS avg_cw
         |  FROM cwrel),
         |qt AS (SELECT t FROM (VALUES $termVals) AS v(t)),
         |dfrel AS (
         |  SELECT c, term, count(*) AS df FROM (
         |    SELECT DISTINCT c, id, term FROM ctoks
         |    WHERE term IN ($termIn))
         |  GROUP BY c, term),
         |cfrel AS (SELECT term, count(*) AS cf FROM dfrel
         |  GROUP BY term),
         |grid AS (
         |  SELECT w.c, w.cw, q.t AS term, f.cf,
         |    coalesce(d.df, 0) AS df
         |  FROM cwrel w CROSS JOIN qt q
         |  JOIN cfrel f ON f.term = q.t
         |  LEFT JOIN dfrel d ON d.c = w.c AND d.term = q.t),
         |scored AS (
         |  SELECT c, term,
         |    0.4 + 0.6 *
         |      (CAST(df AS DOUBLE) / (CAST(df AS DOUBLE) + 50.0 +
         |        150.0 * CAST(cw AS DOUBLE) / s.avg_cw)) *
         |      (ln((CAST(s.n_coll AS DOUBLE) + 0.5) /
         |          CAST(cf AS DOUBLE)) /
         |        ln(CAST(s.n_coll AS DOUBLE) + 1.0)) AS p
         |  FROM grid, cstats s)
         |SELECT c AS collection, count(*) AS n_terms,
         |  round(list_sum(list(p ORDER BY term)) /
         |    CAST(count(*) AS DOUBLE), 6) AS belief
         |FROM scored GROUP BY c
         |ORDER BY belief DESC, collection""".stripMargin
    }),

    // ---- document-authority PageRank over the shared-shingle graph
    //      (the related_docs edge relation: 2 <= df <= 50 pruned
    //      postings, weight = shared shingle count, edges require
    //      w >= 2 — single-shingle collisions are noise mass that
    //      multiplies the iteration cost without centrality signal,
    //      the containment minShared argument): the graph-centrality
    //      curation signal — which documents sit at the center of the
    //      corpus's duplication/quotation structure — via TextRank's
    //      bit-stable iteration at the doc level ----
    QueryDef("related_pagerank", (s, dir) => {
      val docs = t(s, dir, "documents")
      // sh feeds the df prune AND the postings join; pruned feeds both
      // self-join sides — pin both (the containment-pin lesson: each
      // unpinned consumer re-runs the tokenize+shingle plan)
      val sh = Dedup.shingles(docs, "doc_id", "text", 3).cache()
      val pruned = sh.join(
        sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") >= 2 && col("__df") <= 50)
          .select("shingle"), "shingle").cache()
      val und = pruned.select(col("shingle"), col("id").as("x"))
        .join(pruned.select(col("shingle"), col("id").as("y")),
          "shingle")
        .filter(col("x") < col("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("x").cast("string").as("a"),
          col("y").cast("string").as("b"), col("w"))
      // 4 iterations: the top-20 centrality ranking settles well
      // before 8 at d = 0.85 (geometric convergence), and each RDD
      // iteration carries a fixed scheduling floor the small graph
      // can't amortize — keywords keeps 8 (word graphs are cheaper)
      val scored = TextRank.pageRank(und, iterations = 4,
          damping = 0.85)
        .select(col("id"), round(col("score"), 6).as("score"))
      TopK.perGroup(scored.select(lit("all").as("g"),
          col("id").as("doc_id"), col("id").as("chunk_id"),
          col("score")), "g", 20)
        .select(col("rank"), col("chunk_id").cast("long").as("doc_id"),
          col("score"))
        .orderBy("rank")
    },
    // the textrank iteration replay at the DOCUMENT level: shingle
    // edges (2 <= df <= 50, weight = shared count), 4 chained state
    // CTEs (iterations = 4, matching the Spark query body),
    // round-before-cut with the string-form tie-break
    Sql {
      val toks = sqlToksKeepStop("text")
      val iters = (1 to 4).map { i =>
        s"""pr$i AS MATERIALIZED (
           |  SELECT e.v AS id, (1.0 - 0.85) + 0.85 * sum(e.frac * r.s)
           |    AS s
           |  FROM pre e JOIN pr${i - 1} r ON r.id = e.u GROUP BY e.v)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH sh AS MATERIALIZED (
         |  SELECT DISTINCT doc_id AS id, unnest(
         |    CASE WHEN len($toks) < 3 THEN []
         |    ELSE list_transform(generate_series(1, len($toks) - 2),
         |      i -> concat_ws(' ', $toks[i], $toks[i+1], $toks[i+2]))
         |    END) AS shingle
         |  FROM documents),
         |pruned AS MATERIALIZED (
         |  SELECT sh.id, sh.shingle FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle
         |        HAVING count(*) >= 2 AND count(*) <= 50) d
         |    USING (shingle)),
         |und AS MATERIALIZED (
         |  SELECT a.id AS a, b.id AS b, count(*) AS w
         |  FROM pruned a JOIN pruned b ON a.shingle = b.shingle
         |    AND a.id < b.id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |dirx AS MATERIALIZED (
         |  SELECT a AS u, b AS v, w FROM und
         |  UNION ALL SELECT b AS u, a AS v, w FROM und),
         |deg AS MATERIALIZED (
         |  SELECT u, CAST(sum(w) AS BIGINT) AS du FROM dirx GROUP BY 1),
         |pre AS MATERIALIZED (
         |  SELECT d.u, d.v, CAST(d.w AS DOUBLE) / deg.du AS frac
         |  FROM dirx d JOIN deg ON deg.u = d.u),
         |pr0 AS MATERIALIZED (SELECT u AS id, 1.0 AS s FROM deg),
         |$iters
         |SELECT CAST(row_number() OVER (
         |    ORDER BY round(s, 6) DESC, CAST(id AS VARCHAR)) AS INT)
         |    AS rank,
         |  id AS doc_id, round(s, 6) AS score
         |FROM pr4
         |ORDER BY rank
         |LIMIT 20""".stripMargin
    })
  )
}

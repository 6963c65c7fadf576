package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Chunking, TextAnalysis}

import Fixtures._
import OracleSql._
import Oracle._

/** Chunking and tokenization: the chunkers and their off-default
  * configs, the corpus-trained BPE tokenizer, token counts, sequence
  * packing and span corruption. */
object ChunkingQueries {
  /** Merge-table size for the corpus-trained BPE tokenizer (A8). */
  private val BpeMergeCount = 40

  /** The standing BPE fit for the dir's corpus: the merge table is a
    * durable tokenizer artifact — train once per corpus, encode per
    * query, exactly like the BM25 stats or IVF centroids above. The
    * oracle retrains from scratch in SQL (chained merge-iteration CTEs),
    * so unlike the float fits there is no shared-literal risk: both
    * sides are integer/string-exact. */
  private def bpeModelFor(s: SparkSession, dir: String): Bpe.Trained =
    StandingArtifacts(s, dir, "bpeModel")(
      Bpe.train(Tables.load(s, dir, "documents"), BpeMergeCount,
        partitions = 1))

  /** The FOREIGN-corpus fit: merges trained on the `doc_id % 3 = 0`
    * subset only, then the vocabulary for the FULL corpus rebuilt from
    * that merge table alone via [[Bpe.mergeVocab]] (schedule-replay
    * encode) — the cl100k drop-in shape, where the merge table comes
    * from one corpus and the corpus being encoded is another. */
  private def bpeForeignModelFor(s: SparkSession, dir: String): Bpe.Trained =
    StandingArtifacts(s, dir, "bpeForeignModel") {
      val docs = Tables.load(s, dir, "documents")
      val sub = Bpe.train(docs.where(col("doc_id") % 3 === 0),
        BpeMergeCount, partitions = 1)
      Bpe.Trained(sub.merges, Bpe.mergeVocab(docs, sub.merges))
    }

  val defs: Seq[QueryDef] = Seq(
    // ---- token counting ----
    QueryDef("token_count", (s, dir) => {
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'),
        |    x -> length(x) > 0)) AS ws_tokens,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+|\s+')) AS bpe_pieces,
        |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)
        |    AS char_estimate
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- sequence packing: concatenate-and-chunk bin layout under a
    //      fixed token budget (distributed prefix sum) ----
    QueryDef("pack_sequences", (s, dir) => {
      TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text",
          budget = 256)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(floor(cum_before / 256.0) AS BIGINT) AS bin,
        |  CAST(cum_before % 256 AS BIGINT) AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- token-count histogram (corpus shape check) ----
    QueryDef("token_histogram", (s, dir) => {
      TextAnalysis.tokenHistogram(t(s, dir, "documents"), "text",
          bucketWidth = 10)
        .orderBy("bucket_lo")
    }, Sql(
      """SELECT bucket * 10 AS bucket_lo, (bucket + 1) * 10 AS bucket_hi,
        |  count(*) AS n_docs
        |FROM (
        |  SELECT CAST(floor(CAST(len(list_filter(
        |    string_split_regex(text, '\s+'), x -> length(x) > 0))
        |    AS DOUBLE) / 10) AS BIGINT) AS bucket
        |  FROM documents)
        |GROUP BY bucket ORDER BY bucket_lo""".stripMargin)),

    // ---- corpus-trained BPE tokenizer (A8's exact path: the merge
    //      table is LEARNED from the corpus — Sennrich 2016 — so no
    //      external vocabulary file is needed; see Bpe.scala) ----
    QueryDef("bpe_train", (s, dir) => {
      s.createDataFrame(bpeModelFor(s, dir).merges)
        .select(col("rank").as("merge_rank"), col("left").as("left_sym"),
          col("right").as("right_sym"), col("pairCount").as("pair_count"))
        .orderBy("merge_rank")
    }, Sql {
      val rows = (0 until BpeMergeCount).map(i =>
        s"SELECT $i AS merge_rank, l AS left_sym, r AS right_sym, " +
          s"c AS pair_count FROM b$i").mkString(" UNION ALL ")
      bpeTrainCtes(BpeMergeCount) +
        s"\nSELECT * FROM ($rows) ORDER BY merge_rank"
    }),

    QueryDef("bpe_encode", (s, dir) => {
      Bpe.encode(t(s, dir, "documents"), bpeModelFor(s, dir))
        .orderBy("doc_id")
    }, Sql {
      bpeTrainCtes(BpeMergeCount) +
        s""",
           |bv AS (
           |  SELECT word, count(*)::BIGINT AS n_syms
           |  FROM s$BpeMergeCount GROUP BY 1),
           |bdw AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text,
           |    '${Bpe.WordPattern}')) AS word
           |  FROM documents)
           |SELECT d.doc_id,
           |  coalesce(x.n_words, 0)::BIGINT AS n_words,
           |  coalesce(x.bpe_tokens, 0)::BIGINT AS bpe_tokens
           |FROM documents d LEFT JOIN (
           |  SELECT bdw.doc_id, count(*)::BIGINT AS n_words,
           |         sum(bv.n_syms)::BIGINT AS bpe_tokens
           |  FROM bdw JOIN bv USING (word) GROUP BY 1) x USING (doc_id)
           |ORDER BY doc_id""".stripMargin
    }),

    // ---- FOREIGN-corpus encode (the cl100k drop-in shape): merges
    //      trained on the doc_id%3==0 subset only, the full corpus
    //      encoded via schedule-replay of that merge table — unseen
    //      words get real merge application, not a lookup miss ----
    QueryDef("bpe_encode_foreign", (s, dir) => {
      Bpe.encode(t(s, dir, "documents"), bpeForeignModelFor(s, dir))
        .orderBy("doc_id")
    },
    // train on the subset, replay the trained schedule over the FULL
    // corpus's word stream (bpeReplayCtes), then the same count join
    Sql {
      bpeTrainCtes(BpeMergeCount,
        "(SELECT * FROM documents WHERE doc_id % 3 = 0)") +
        bpeReplayCtes(BpeMergeCount) +
        s""",
           |bvf AS (
           |  SELECT word, count(*)::BIGINT AS n_syms
           |  FROM f$BpeMergeCount GROUP BY 1),
           |bdwf AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text,
           |    '${Bpe.WordPattern}')) AS word
           |  FROM documents)
           |SELECT d.doc_id,
           |  coalesce(x.n_words, 0)::BIGINT AS n_words,
           |  coalesce(x.bpe_tokens, 0)::BIGINT AS bpe_tokens
           |FROM documents d LEFT JOIN (
           |  SELECT bdwf.doc_id, count(*)::BIGINT AS n_words,
           |         sum(bvf.n_syms)::BIGINT AS bpe_tokens
           |  FROM bdwf JOIN bvf USING (word) GROUP BY 1) x USING (doc_id)
           |ORDER BY doc_id""".stripMargin
    }),

    QueryDef("bpe_vocab", (s, dir) => {
      Bpe.tokenFrequencies(bpeModelFor(s, dir))
        .orderBy(desc("freq"), asc("token"))
        .limit(50)
    }, Sql {
      bpeTrainCtes(BpeMergeCount) +
        s"""
           |SELECT sym AS token, sum(cnt)::BIGINT AS freq
           |FROM s$BpeMergeCount GROUP BY 1
           |ORDER BY freq DESC, token ASC LIMIT 50""".stripMargin
    }),

    // ---- tokenizer FERTILITY per language (subword tokens per word —
    //      the standard multilingual-tokenizer efficiency metric; a
    //      lang far above the corpus mean is being over-segmented):
    //      one lang join over the encode relation, |langs| output rows ----
    QueryDef("bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      Bpe.encode(docs, bpeModelFor(s, dir))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(sum("n_words").as("n_words"),
          sum("bpe_tokens").as("bpe_tokens"))
        .withColumn("fertility", round(
          col("bpe_tokens").cast("double") / col("n_words"), 6))
        .orderBy("lang")
    },
    // the bpe_encode per-doc counts rolled up by language; docs with
    // no words contribute zeros through the coalesce
    Sql {
      bpeTrainCtes(BpeMergeCount) +
        s""",
           |fv AS (
           |  SELECT word, count(*)::BIGINT AS n_syms
           |  FROM s$BpeMergeCount GROUP BY 1),
           |fdw AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text,
           |    '${Bpe.WordPattern}')) AS word
           |  FROM documents),
           |fper AS (
           |  SELECT fdw.doc_id, count(*)::BIGINT AS n_words,
           |         sum(fv.n_syms)::BIGINT AS bpe_tokens
           |  FROM fdw JOIN fv USING (word) GROUP BY 1)
           |SELECT d.lang,
           |  sum(coalesce(p.n_words, 0))::BIGINT AS n_words,
           |  sum(coalesce(p.bpe_tokens, 0))::BIGINT AS bpe_tokens,
           |  round(CAST(sum(coalesce(p.bpe_tokens, 0)) AS DOUBLE) /
           |    sum(coalesce(p.n_words, 0)), 6) AS fertility
           |FROM documents d LEFT JOIN fper p USING (doc_id)
           |GROUP BY 1
           |ORDER BY lang""".stripMargin
    }),

    // ---- chunking under an EXACT subword-token budget (the
    //      reference's tiktoken-capped chunking, with the trained
    //      merge table standing in for cl100k; the oracle replays the
    //      greedy word-atomic packing as a recursive walk over the
    //      word stream priced by the trained vocabulary) ----
    QueryDef("chunk_bpe_budget", (s, dir) => {
      Bpe.budgetChunks(t(s, dir, "documents"), bpeModelFor(s, dir),
          budget = 24)
        .orderBy("doc_id", "chunk_index")
    },
    // greedy word-atomic packing as a recursive walk: the cut rule
    // fires when the running chunk would exceed the budget (a chunk is
    // never empty, so the first word of a doc — even over-budget —
    // starts chunk 0 with acc = its own count, matching Bpe.budgetChunks)
    Sql {
      bpeTrainCtes(BpeMergeCount)
        .replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""",
           |bv AS (
           |  SELECT word, count(*)::BIGINT AS n
           |  FROM s$BpeMergeCount GROUP BY 1),
           |bdw2 AS (
           |  SELECT doc_id, unnest(range(len(ws)))::BIGINT AS wi,
           |         unnest(ws) AS word
           |  FROM (SELECT doc_id, regexp_extract_all(text,
           |    '${Bpe.WordPattern}') AS ws FROM documents)),
           |dwn AS MATERIALIZED (
           |  SELECT b.doc_id, b.wi, bv.n FROM bdw2 b JOIN bv USING (word)),
           |walk AS (
           |  SELECT doc_id, wi, 0 AS chunk_idx, n AS acc
           |  FROM dwn WHERE wi = 0
           |  UNION ALL
           |  SELECT w.doc_id, w.wi,
           |    CASE WHEN r.acc + w.n > 24 THEN r.chunk_idx + 1
           |      ELSE r.chunk_idx END,
           |    CASE WHEN r.acc + w.n > 24 THEN w.n ELSE r.acc + w.n END
           |  FROM walk r JOIN dwn w
           |    ON w.doc_id = r.doc_id AND w.wi = r.wi + 1)
           |SELECT k.doc_id, k.chunk_idx AS chunk_index,
           |  min(k.wi)::BIGINT AS start_word, max(k.wi)::BIGINT AS end_word,
           |  count(*)::BIGINT AS n_words, sum(d.n)::BIGINT AS bpe_tokens
           |FROM walk k JOIN dwn d ON d.doc_id = k.doc_id AND d.wi = k.wi
           |GROUP BY 1, 2 ORDER BY k.doc_id, chunk_index""".stripMargin
    }),

    // ---- chunking UDTFs (offsets dumped, text omitted for size —
    //      invariants covered by ChunkingSpec) ----
    // Oracle status: ALL strategies are hash-checked — chunk_fixed
    // (pure column plan), chunk_character (recursive-CTE replay of the
    // boundary-snap loop), chunk_hier (word-group algebra),
    // chunk_semantic (recursive-CTE sentence merge + word-group
    // re-split), chunk_recursive/markdown (separator-hierarchy
    // work-queue CTE) and chunk_hybrid (routed dispatch), plus three
    // off-default configs; ChunkingGoldenSpec additionally pins the
    // Scala semantics to the reference. ----
    QueryDef("chunk_fixed", (s, dir) => {
      Chunking.fixedWindows(t(s, dir, "documents"), "doc_id", "text",
          Chunking.ChunkConfig(maxTokens = 40, overlapTokens = 5))
        .select(col("doc_id"), col("chunk_index"), col("text"),
          col("start_offset"), col("end_offset"), col("token_count"))
        .orderBy(col("doc_id").cast("long"), col("chunk_index"))
    },
    // window = maxTokens*charsPerToken = 160 chars, step = 140 (20-char
    // overlap); n = 1 + max(0, ceil((len-160)/140)) via floor((len-21)/140)
    Sql(
      """WITH docs AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |  WHERE length(text) > 0),
        |wins AS (
        |  SELECT doc_id, text, len,
        |    unnest(range(0, 1 + greatest(0,
        |      CAST(floor((len - 21) / 140.0) AS INT)))) AS w
        |  FROM docs)
        |SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        |  CAST(w AS INT) AS chunk_index,
        |  substr(text, CAST(w*140 + 1 AS INT),
        |    CAST(least(w*140 + 160, len) - w*140 AS INT)) AS text,
        |  CAST(w*140 AS INT) AS start_offset,
        |  CAST(least(w*140 + 160, len) AS INT) AS end_offset,
        |  CAST(len(regexp_extract_all(substr(text, CAST(w*140 + 1 AS INT),
        |    CAST(least(w*140 + 160, len) - w*140 AS INT)), '\S+')) AS INT)
        |    AS token_count
        |FROM wins
        |ORDER BY CAST(doc_id AS BIGINT), chunk_index""".stripMargin)),

    QueryDef("chunk_character", (s, dir) => {
      Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          "character", Chunking.ChunkConfig(minTokens = 10, maxTokens = 40,
            overlapTokens = 5))
        .select("doc_id", "chunk_index", "start_offset", "end_offset",
          "token_count")
        .orderBy(col("doc_id").cast("long"), col("chunk_index"))
    },
    // C1 character chunker, EXACT oracle — see characterChunkCtes.
    Sql(
      ("WITH RECURSIVE " + characterChunkCtes(40, 5, 10) + """
        |SELECT doc_id, chunk_index, start_offset, end_offset, token_count
        |FROM (
        |  SELECT doc_id, CAST(emit_idx AS INT) AS chunk_index,
        |    CAST(a AS INT) AS start_offset, CAST(b AS INT) AS end_offset,
        |    CAST(length(regexp_extract_all(substr(text, CAST(a AS INT) + 1,
        |      CAST(b - a AS INT)), '\S+')) AS INT) AS token_count
        |  FROM st WHERE emit_idx IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, 0 AS chunk_index, CAST(a AS INT) AS start_offset,
        |    CAST(b AS INT) AS end_offset,
        |    CAST(length(regexp_extract_all(substr(text, CAST(a AS INT) + 1,
        |      CAST(b - a AS INT)), '\S+')) AS INT) AS token_count
        |  FROM small WHERE b > a)
        |ORDER BY CAST(doc_id AS BIGINT), chunk_index""".stripMargin))),

    QueryDef("chunk_recursive", (s, dir) => {
      Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          "recursive", Chunking.ChunkConfig(minTokens = 10, maxTokens = 40))
        .select("doc_id", "chunk_index", "start_offset", "end_offset",
          "token_count")
        .orderBy(col("doc_id").cast("long"), col("chunk_index"))
    },
    // C2 / C3: see RecursiveChunkOracleSql scaladoc — markdown shares
    // the recursive oracle via its headerless early return.
    Sql(RecursiveChunkOracleSql
)),

    QueryDef("chunk_markdown", (s, dir) => {
      Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          "markdown", Chunking.ChunkConfig(minTokens = 10, maxTokens = 40))
        .select("doc_id", "chunk_index", "start_offset", "end_offset",
          "token_count")
        .orderBy(col("doc_id").cast("long"), col("chunk_index"))
    }, Sql(RecursiveChunkOracleSql
)),

    QueryDef("chunk_semantic", (s, dir) => {
      Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          "semantic", Chunking.ChunkConfig(minTokens = 10, maxTokens = 40))
        .select("doc_id", "chunk_index", "start_offset", "end_offset",
          "token_count")
        .orderBy(col("doc_id").cast("long"), col("chunk_index"))
    },
    // C4 semantic chunker, EXACT oracle in three phases that mirror
    // Chunking.scala semantic(): (1) sentence relation — the
    // sentence_split extraction plus per-sentence whitespace word count
    // and the min-length-2 token set, with adjacent-sentence Jaccard
    // via lag(); (2) the sequential greedy merge (break on
    // cur+next > maxTokens, or sim < 0.3 once cur >= minTokens) as a
    // recursive CTE, one step per sentence, final cluster emitted from
    // the last state row; (3) the oversized-cluster re-split: capTokens
    // windows of 40 from a sentence-aligned start are exactly word
    // groups of 40, and trimSpan on a word-aligned span is a no-op, so
    // final chunks are per-cluster word groups from the same
    // zip-unnested word-position relation chunk_hier uses.
    Sql(semanticChunkOracleSql(
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
        |  FROM documents WHERE length(text) > 0""".stripMargin))),

    QueryDef("chunk_hybrid", (s, dir) => {
      Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          "hybrid", Chunking.ChunkConfig(minTokens = 10, maxTokens = 40))
        .select("doc_id", "chunk_index", "start_offset", "end_offset",
          "token_count")
        .orderBy(col("doc_id").cast("long"), col("chunk_index"))
    },
    // C6 hybrid chunker: the analyze() routing predicates verbatim in
    // SQL (header regex + first-50-lines '#' fallback, fenced/indented
    // code, list/table/quote markers, punctuation-derived average
    // sentence length), dispatching each doc to its routed strategy's
    // CTE block — semantic (avg_sl > 50) or character (else branch,
    // overlap=50 config). On this corpus no doc routes to the
    // markdown/hierarchical/mixed branches (zero markdown/code/
    // structure docs); such a doc would emit no oracle rows and fail
    // the gate loudly rather than silently pass — those branches stay
    // pinned by ChunkingGoldenSpec.
    Sql(
      ("WITH RECURSIVE " +
        semanticChunkCtes(hybridRoutedDocs("avg_sl > 50")) + ",\n" +
        characterChunkCtes(40, 50, 10,
          "(" + hybridRoutedDocs("avg_sl <= 50") + ")", "c") + """
        |SELECT doc_id, chunk_index, start_offset, end_offset,
        |  token_count
        |FROM (
        |  """.stripMargin + SemanticChunkSelect.replace("\n", "\n  ") + """
        |  UNION ALL
        |  SELECT doc_id, CAST(emit_idx AS INT) AS chunk_index,
        |    CAST(a AS INT) AS start_offset, CAST(b AS INT) AS end_offset,
        |    CAST(length(regexp_extract_all(substr(text, CAST(a AS INT) + 1,
        |      CAST(b - a AS INT)), '\S+')) AS INT) AS token_count
        |  FROM cst WHERE emit_idx IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, 0 AS chunk_index, CAST(a AS INT) AS start_offset,
        |    CAST(b AS INT) AS end_offset,
        |    CAST(length(regexp_extract_all(substr(text, CAST(a AS INT) + 1,
        |      CAST(b - a AS INT)), '\S+')) AS INT) AS token_count
        |  FROM csmall WHERE b > a)
        |ORDER BY CAST(doc_id AS BIGINT), chunk_index""".stripMargin))),

    QueryDef("chunk_hier", (s, dir) => {
      Chunking.chunkHierarchical(t(s, dir, "documents"), "doc_id", "text",
          Chunking.ChunkConfig(hierarchicalSizes = Seq(64, 16)))
        .select("doc_id", "level", "chunk_id", "parent_id", "chunk_index",
          "start_offset", "end_offset", "token_count")
        .orderBy(col("doc_id").cast("long"), col("level"), col("chunk_index"))
    },
    // C5 hierarchical chunker, EXACT oracle: with sizes (64, 16) every
    // boundary is word-aligned — capTokens caps a window at the end of
    // its 64th (resp. 16th) word and the next window starts at the next
    // word, so level-0 windows are global word-groups of 64 and, since
    // 64 ≡ 0 (mod 16), level-1 windows are exactly the global
    // word-groups of 16 (children never straddle a parent boundary).
    // trimSpan is a no-op on word-aligned spans and the hard char-split
    // branch needs capTokens to advance nowhere, impossible when words
    // are whitespace-separated. Word offsets come from zip-unnesting
    // (word, following-gap) regex captures with a running-sum window.
    // Chunking.scala hierarchical() is the line-by-line reference.
    Sql(
      s"""WITH $HierChunkCtes
        |SELECT doc_id, CAST(level AS INT) AS level, chunk_id, parent_id,
        |  chunk_index, start_offset, end_offset, token_count
        |FROM (SELECT * FROM l0 UNION ALL SELECT * FROM l1)
        |ORDER BY CAST(doc_id AS BIGINT), level, chunk_index""".stripMargin)),

    // ---- off-default chunker configs (r5 VERDICT item 7): the SAME
    //      parameterized oracle CTEs instantiated at different
    //      (budget, overlap) points, so the Spark↔SQL equivalence is
    //      pinned across the config space, not at one point ----
    QueryDef("chunk_recursive_ov0", (s, dir) => {
      Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          "recursive", Chunking.ChunkConfig(minTokens = 10, maxTokens = 40,
            overlapTokens = 0))
        .select("doc_id", "chunk_index", "start_offset", "end_offset",
          "token_count")
        .orderBy(col("doc_id").cast("long"), col("chunk_index"))
    },
    // Off-default configs of the SAME parameterized CTEs (VERDICT r5
    // item 7): overlap 0, a clamped tight budget, and a wide character
    // window — the oracle equivalence holds across the config space.
    Sql(
      ("WITH RECURSIVE " + recursiveChunkCtes(40, 0) + """
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY si) - 1
        |    AS INT) AS chunk_index,
        |  CAST(s AS INT) AS start_offset, CAST(e AS INT) AS end_offset,
        |  CAST(tc AS INT) AS token_count
        |FROM ch
        |ORDER BY CAST(doc_id AS BIGINT), chunk_index""".stripMargin))),

    QueryDef("chunk_recursive_tight", (s, dir) => {
      // maxTokens 20 with the default overlap 50 clamps to eff 10 →
      // merge budget 10; stresses the clamp + small-budget path
      Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          "recursive", Chunking.ChunkConfig(minTokens = 5, maxTokens = 20))
        .select("doc_id", "chunk_index", "start_offset", "end_offset",
          "token_count")
        .orderBy(col("doc_id").cast("long"), col("chunk_index"))
    }, Sql(
      ("WITH RECURSIVE " + recursiveChunkCtes(10, 10) + """
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY si) - 1
        |    AS INT) AS chunk_index,
        |  CAST(s AS INT) AS start_offset, CAST(e AS INT) AS end_offset,
        |  CAST(tc AS INT) AS token_count
        |FROM ch
        |ORDER BY CAST(doc_id AS BIGINT), chunk_index""".stripMargin))),

    QueryDef("chunk_character_wide", (s, dir) => {
      Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          "character", Chunking.ChunkConfig(minTokens = 10, maxTokens = 100,
            overlapTokens = 20))
        .select("doc_id", "chunk_index", "start_offset", "end_offset",
          "token_count")
        .orderBy(col("doc_id").cast("long"), col("chunk_index"))
    }, Sql(
      ("WITH RECURSIVE " + characterChunkCtes(100, 20, 10) + """
        |SELECT doc_id, chunk_index, start_offset, end_offset, token_count
        |FROM (
        |  SELECT doc_id, CAST(emit_idx AS INT) AS chunk_index,
        |    CAST(a AS INT) AS start_offset, CAST(b AS INT) AS end_offset,
        |    CAST(length(regexp_extract_all(substr(text, CAST(a AS INT) + 1,
        |      CAST(b - a AS INT)), '\S+')) AS INT) AS token_count
        |  FROM st WHERE emit_idx IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, 0 AS chunk_index, CAST(a AS INT) AS start_offset,
        |    CAST(b AS INT) AS end_offset,
        |    CAST(length(regexp_extract_all(substr(text, CAST(a AS INT) + 1,
        |      CAST(b - a AS INT)), '\S+')) AS INT) AS token_count
        |  FROM small WHERE b > a)
        |ORDER BY CAST(doc_id AS BIGINT), chunk_index""".stripMargin))),

    // ---- sequence packing under an EXACT subword budget: Bpe.encode's
    //      per-doc counts (trained merge table, compositional over
    //      words) feed the distributed prefix-sum packer — the
    //      context-window builder a pre-training pipeline actually
    //      runs, with token accounting the budget can trust ----
    QueryDef("pack_bpe_budget", (s, dir) => {
      val counts = Bpe.encode(t(s, dir, "documents"), bpeModelFor(s, dir))
        .select(col("doc_id").as("id"), col("bpe_tokens").as("n_tokens"))
      TextAnalysis.packCounts(counts, budget = 128)
        .select(col("id").as("doc_id"), col("n_tokens"), col("bin"),
          col("bin_offset"))
        .orderBy("doc_id")
    }, Sql {
      bpeTrainCtes(BpeMergeCount) +
        s""",
           |bv AS (
           |  SELECT word, count(*)::BIGINT AS n_syms
           |  FROM s$BpeMergeCount GROUP BY 1),
           |bdw AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text,
           |    '${graft.operators.Bpe.WordPattern}')) AS word
           |  FROM documents),
           |bcnt AS (
           |  SELECT d.doc_id, coalesce(x.bpe_tokens, 0)::BIGINT AS n_tokens
           |  FROM documents d LEFT JOIN (
           |    SELECT bdw.doc_id, sum(bv.n_syms)::BIGINT AS bpe_tokens
           |    FROM bdw JOIN bv USING (word) GROUP BY 1) x USING (doc_id)),
           |pc AS (
           |  SELECT doc_id, n_tokens,
           |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS cum_before
           |  FROM bcnt)
           |SELECT doc_id, n_tokens,
           |  CAST(floor(cum_before / 128.0) AS BIGINT) AS bin,
           |  CAST(cum_before % 128 AS BIGINT) AS bin_offset
           |FROM pc ORDER BY doc_id""".stripMargin
    }),

    // ---- T5 span corruption (Raffel et al. 2020): deterministic
    //      hash-placed denoising spans, sentinel in/out pairs — the
    //      pretraining-objective prep, replayable by construction ----
    QueryDef("span_corruption", (s, dir) =>
      TextAnalysis.spanCorruption(t(s, dir, "documents"), "doc_id",
          "text", every = 20, span = 3)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("n_masked"), col("n_spans"),
          round(col("noise_frac"), 6).as("noise_frac"),
          col("inputs_text"), col("targets_text"))
        .orderBy("doc_id"),
    // the same sha-slice hash as the minhash oracles places the
    // anchors; lag windows merge overlapping spans; sentinel pieces
    // reassemble through ordered FILTERed lists
    Sql {
      val toks = sqlToksKeepStop("text")
      val h = "('0x' || substr(sha256('0:' || CAST(doc_id AS VARCHAR)" +
        " || ':' || CAST(pos AS VARCHAR)), 1, 8))::UBIGINT::BIGINT"
      s"""WITH tk AS (
         |  SELECT doc_id, $toks AS tl FROM documents),
         |toks AS (
         |  SELECT doc_id, unnest(range(len(tl)))::BIGINT AS pos,
         |    unnest(tl) AS tok
         |  FROM tk),
         |anch AS (
         |  SELECT doc_id, pos, tok, ($h % 20 = 0) AS anchor
         |  FROM toks),
         |msk AS (
         |  SELECT doc_id, pos, tok,
         |    (anchor OR coalesce(lag(anchor, 1) OVER w, false)
         |      OR coalesce(lag(anchor, 2) OVER w, false)) AS masked
         |  FROM anch
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |runs AS (
         |  SELECT doc_id, pos, tok, masked,
         |    (masked AND NOT coalesce(lag(masked, 1) OVER w, false))
         |      AS run_start
         |  FROM msk
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |sent AS (
         |  SELECT doc_id, pos, tok, masked, run_start,
         |    sum(CASE WHEN run_start THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) - 1 AS sent_id
         |  FROM runs),
         |pieces AS (
         |  SELECT doc_id, pos, masked, run_start,
         |    CASE WHEN run_start THEN
         |        '<extra_id_' || CAST(sent_id AS VARCHAR) || '>'
         |      WHEN masked THEN NULL ELSE tok END AS ip,
         |    CASE WHEN run_start THEN
         |        '<extra_id_' || CAST(sent_id AS VARCHAR) || '> ' || tok
         |      WHEN masked THEN tok ELSE NULL END AS tp
         |  FROM sent)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_masked,
         |  CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_spans,
         |  round(CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS noise_frac,
         |  coalesce(array_to_string(list(ip ORDER BY pos)
         |    FILTER (WHERE ip IS NOT NULL), ' '), '') AS inputs_text,
         |  coalesce(array_to_string(list(tp ORDER BY pos)
         |    FILTER (WHERE tp IS NOT NULL), ' '), '') AS targets_text
         |FROM pieces GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    })
  )
}

package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Bpe, IrMetrics}

import Fixtures._

/** Shared DuckDB SQL fragments of the oracles: token lists, BM25, BPE,
  * MinHash, chunker and classifier replays as CTE builders, and the
  * mock-embedding and IR-metric scaffolds. */
object OracleSql {
  private[queries] val Pat = TextFunctions.TokenPattern // same regex in RE2 & Java

  private[queries] val SwList =
    TextFunctions.EnglishStopwordsSorted.map(s => s"'$s'").mkString(", ")

  /** DuckDB list of BM25 tokens for a text expression. */
  private[queries] def sqlToks(textExpr: String): String =
    s"list_filter(regexp_extract_all(lower($textExpr), '$Pat'), " +
      s"x -> length(x) >= 2 AND x NOT IN ($SwList))"

  /** DuckDB list of tokens without stopword removal (len filter only). */
  private[queries] def sqlToksKeepStop(textExpr: String): String =
    s"list_filter(regexp_extract_all(lower($textExpr), '$Pat'), " +
      s"x -> length(x) >= 2)"

  /** BM25 stats CTE chain, parameterizable for per-collection corpora:
    * `p` prefixes every CTE name, `where` restricts the source docs,
    * `source` swaps the corpus relation (any relation exposing
    * (doc_id, text) — e.g. a chunk CTE re-keyed by chunk_id). The
    * default instantiation (no prefix, full corpus) is the chain
    * every single-collection oracle composes. */
  /** Chained merge-iteration CTEs replaying the WHOLE BPE training loop
    * in DuckDB (one block per merge): `s{i}` is the word→symbol-position
    * state after i merges, `b{i}` iteration i's argmax pair. The
    * leftmost-greedy non-overlapping merge = within each island of
    * consecutive matching positions, keep the even offsets (gaps-and-
    * islands via pos − row_number). MATERIALIZED is load-bearing: each
    * state CTE is referenced twice per iteration and DuckDB inlines
    * plain CTEs — n=40 would otherwise build a 2^40-leaf plan. The
    * argmax joins in as LEFT JOIN ON TRUE so pair exhaustion before n
    * merges passes the state through unchanged (matching Bpe.train's
    * `exhausted` early-stop) instead of annihilating every later CTE.
    * Returns the WITH-chain; callers append their final SELECT over
    * `s{n}` / `b{i}`. */
  private[queries] def bpeTrainCtes(n: Int, source: String = "documents"): String = {
    val head =
      s"""WITH bw AS MATERIALIZED (
         |  SELECT wd AS word, count(*)::BIGINT AS cnt FROM (
         |    SELECT unnest(regexp_extract_all(text, '${Bpe.WordPattern}')) AS wd
         |    FROM $source)
         |  GROUP BY 1
         |),
         |s0 AS MATERIALIZED (
         |  SELECT word, cnt, unnest(range(length(word)))::BIGINT AS pos,
         |         unnest(string_split(word, '')) AS sym
         |  FROM bw
         |)""".stripMargin
    val iters = (0 until n).map { i =>
      s""",
         |p$i AS (
         |  SELECT l, r, sum(c)::BIGINT AS c FROM (
         |    SELECT sym AS l, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r,
         |           cnt AS c
         |    FROM s$i) WHERE r IS NOT NULL GROUP BY 1, 2
         |),
         |b$i AS MATERIALIZED (
         |  SELECT l, r, c FROM p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1)""".stripMargin +
        bpeApplyCtes(s"s$i", s"b$i", i.toString, s"s${i + 1}")
    }
    head + iters.mkString
  }

  /** One leftmost-greedy non-overlapping merge application as CTEs:
    * state `stateIn` (word, cnt, pos, sym) + 1-row pair `pair` (l, r)
    * → `stateOut`. Islands of consecutive matching positions keep the
    * even offsets (gaps-and-islands via pos − row_number). Shared by
    * the training chain (pair = that iteration's argmax) and the
    * foreign replay chain (pair = the TRAINED `b{i}` applied to a
    * different corpus's word stream — the schedule-replay encode of
    * [[graft.operators.Bpe.mergeVocab]]). */
  private[queries] def bpeApplyCtes(stateIn: String, pair: String, tag: String,
      stateOut: String): String =
    s""",
       |m$tag AS (
       |  SELECT s.word, s.cnt, s.pos, s.sym,
       |         coalesce(s.sym = b.l AND
       |           lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = b.r,
       |           FALSE) AS mt
       |  FROM $stateIn s LEFT JOIN $pair b ON TRUE
       |),
       |i$tag AS (
       |  SELECT *, CASE WHEN mt THEN
       |    pos - row_number() OVER (PARTITION BY word, mt ORDER BY pos) END AS isl
       |  FROM m$tag
       |),
       |t$tag AS (
       |  SELECT *, mt AND ((pos - min(pos) OVER (PARTITION BY word, isl)) % 2 = 0)
       |    AS take
       |  FROM i$tag
       |),
       |n$tag AS (
       |  SELECT word, cnt, pos,
       |         CASE WHEN take THEN
       |           sym || lead(sym) OVER (PARTITION BY word ORDER BY pos)
       |         ELSE sym END AS sym,
       |         coalesce(lag(take) OVER (PARTITION BY word ORDER BY pos), FALSE)
       |           AS absorbed
       |  FROM t$tag
       |),
       |$stateOut AS MATERIALIZED (
       |  SELECT word, cnt, row_number() OVER (PARTITION BY word ORDER BY pos) - 1
       |           AS pos, sym
       |  FROM n$tag WHERE NOT absorbed
       |)""".stripMargin

  /** Foreign-corpus replay chain: the FULL corpus's distinct-word
    * stream pushed through the n trained merges in rank order (each
    * `b{i}` comes from the training chain over the SUBSET source) —
    * `f{n}` is then the word→symbols vocabulary for the full corpus,
    * exactly what [[graft.operators.Bpe.mergeVocab]] computes. Append
    * after [[bpeTrainCtes]]. */
  private[queries] def bpeReplayCtes(n: Int, source: String = "documents"): String = {
    val head =
      s""",
         |fw AS MATERIALIZED (
         |  SELECT wd AS word, count(*)::BIGINT AS cnt FROM (
         |    SELECT unnest(regexp_extract_all(text, '${Bpe.WordPattern}')) AS wd
         |    FROM $source)
         |  GROUP BY 1
         |),
         |f0 AS MATERIALIZED (
         |  SELECT word, cnt, unnest(range(length(word)))::BIGINT AS pos,
         |         unnest(string_split(word, '')) AS sym
         |  FROM fw
         |)""".stripMargin
    val iters = (0 until n).map { i =>
      bpeApplyCtes(s"f$i", s"b$i", s"f$i", s"f${i + 1}")
    }
    head + iters.mkString
  }

  /** The synthetic staged-mailbox message arithmetic, shared by the
    * imap_scan and imap_scan_v2 oracles — one definition of the bytes
    * that [[syntheticMailboxRelation]] stages. */
  private[queries] val imapMessageCtes: String =
    """WITH m AS (
      |  SELECT CAST(doc_id AS BIGINT) AS uid,
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'INBOX'
      |      WHEN 1 THEN 'Archive' ELSE 'Reports' END AS mailbox,
      |    text
      |  FROM documents),
      |m2 AS (
      |  SELECT *,
      |    CAST(CASE mailbox WHEN 'INBOX' THEN 7 WHEN 'Archive' THEN 12
      |      ELSE 5 END AS BIGINT) AS uidvalidity,
      |    'From: sender@example.com' || chr(13) || chr(10) ||
      |    'To: list@example.com' || chr(13) || chr(10) ||
      |    'Message-ID: <m' || uid || '@example.com>' || chr(13) || chr(10) ||
      |    'Subject: doc ' || uid || chr(13) || chr(10) ||
      |    'Date: Thu, 01 Feb 2024 10:30:00 GMT' || chr(13) || chr(10) ||
      |    chr(13) || chr(10) || text AS raw
      |  FROM m)""".stripMargin

  private[queries] def bm25StatsCtes(p: String = "", where: String = "",
                            source: String = "documents"): String =
    s"""${p}docs AS (
       |  SELECT doc_id, text FROM $source$where),
       |${p}toks AS (
       |  SELECT doc_id, unnest(${sqlToks("text")}) AS term FROM ${p}docs),
       |${p}lens AS (
       |  SELECT doc_id, len(${sqlToks("text")}) AS doc_len FROM ${p}docs),
       |${p}gstats AS (
       |  SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM ${p}lens),
       |${p}stats AS (
       |  SELECT term, count(DISTINCT doc_id) AS df FROM ${p}toks GROUP BY term),
       |${p}idf AS (
       |  SELECT term, df, n_docs,
       |         greatest(0.0, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)) AS idf
       |  FROM ${p}stats, ${p}gstats)""".stripMargin

  private[queries] def bm25WeightsCtes(p: String = "", where: String = "",
                              source: String = "documents"): String =
    s"""${bm25StatsCtes(p, where, source)},
       |${p}tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM ${p}toks
       |  GROUP BY doc_id, term),
       |${p}weights AS (
       |  SELECT tf.doc_id, tf.term, tf.tf,
       |         idf.idf * (CAST(tf.tf AS DOUBLE) * 2.5) /
       |           (CAST(tf.tf AS DOUBLE) + 1.5 *
       |             (CASE WHEN gstats.avgdl > 0
       |               THEN 0.25 + 0.75 * CAST(lens.doc_len AS DOUBLE) / gstats.avgdl
       |               ELSE 1.0 END)) AS weight
       |  FROM ${p}tf tf
       |  JOIN ${p}lens lens ON tf.doc_id = lens.doc_id
       |  JOIN ${p}idf idf ON tf.term = idf.term, ${p}gstats gstats
       |  WHERE idf.idf * (CAST(tf.tf AS DOUBLE) * 2.5) /
       |          (CAST(tf.tf AS DOUBLE) + 1.5 *
       |            (CASE WHEN gstats.avgdl > 0
       |              THEN 0.25 + 0.75 * CAST(lens.doc_len AS DOUBLE) / gstats.avgdl
       |              ELSE 1.0 END)) > 0)""".stripMargin

  private[queries] val Bm25StatsCtes = bm25StatsCtes()

  private[queries] val Bm25WeightsCtes = bm25WeightsCtes()

  /** The gopher_quality staged fixture + per-doc signal chain, ending
    * in CTE r(doc_id, nw, ml, sym, bl, el, al, nstop) — shared by the
    * gopher_quality and filter_attribution oracles. */
  private[queries] val gopherFlagsSqlCtes: String =
    """staged AS (
      |  SELECT doc_id,
      |    CASE
      |      WHEN doc_id % 23 = 3 THEN '• the data' || chr(10) ||
      |        '• of the' || chr(10) || '• and that' || chr(10) ||
      |        '• with have'
      |      WHEN doc_id % 23 = 4 THEN 'the rest follows...' || chr(10) ||
      |        'more to come…' || chr(10) || 'of and that have with'
      |      WHEN doc_id % 23 = 5 THEN text ||
      |        ' ## ## ## ## ## ## ## ## ## ##'
      |      WHEN doc_id % 23 = 6 THEN
      |        '1 2 3 4 5 6 7 8 9 0 11 22 33 44 55 the of'
      |      ELSE text END AS text
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\s+'),
      |      x -> length(x) > 0) AS words,
      |    list_filter(list_transform(string_split(text, chr(10)),
      |      l -> trim(l)), l -> length(l) > 0) AS lines
      |  FROM staged),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(len(words) AS DOUBLE) AS nw,
      |    greatest(CAST(len(words) AS DOUBLE), 1.0) AS safew,
      |    CAST(coalesce(list_sum(list_transform(words, x -> length(x))),
      |      0) AS DOUBLE) AS wlen,
      |    CAST(length(text) - length(replace(text, '#', ''))
      |      AS DOUBLE) AS nhash,
      |    CAST((length(text) - length(replace(text, '...', ''))) / 3
      |      + (length(text) - length(replace(text, '…', '')))
      |      AS DOUBLE) AS nell,
      |    CAST(len(list_filter(lines, l ->
      |      substr(l, 1, 1) = '•' OR substr(l, 1, 1) = '-' OR
      |      substr(l, 1, 1) = '*')) AS DOUBLE) AS nbullet,
      |    CAST(len(list_filter(lines, l ->
      |      (length(l) >= 3 AND substr(l, length(l) - 2, 3) = '...') OR
      |      substr(l, length(l), 1) = '…')) AS DOUBLE) AS nelines,
      |    greatest(CAST(len(lines) AS DOUBLE), 1.0) AS safel,
      |    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
      |      AS DOUBLE) AS nalpha,
      |    len(list_filter(['the', 'be', 'to', 'of', 'and', 'that',
      |      'have', 'with'], s -> list_contains(
      |        list_transform(words, x -> lower(x)), s))) AS nstop
      |  FROM w),
      |r AS (
      |  SELECT doc_id, nw, wlen / safew AS ml,
      |    (nhash + nell) / safew AS sym, nbullet / safel AS bl,
      |    nelines / safel AS el, nalpha / safew AS al, nstop
      |  FROM sig)""".stripMargin

  /** DuckDB bucket expression mirroring Knn.lshBucket for literal
    * hyperplanes (mock-embedding-derived planes have only 8 nonzero
    * dims, so the dot truncates exactly). */
  private[queries] def lshBucketSql(vecExpr: String,
                           planes: Seq[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, b) =>
      val dot = (0 until 8)
        .map(i => s"CAST($vecExpr[${i + 1}] AS DOUBLE) * (${p(i)})")
        .mkString(" + ")
      s"(CASE WHEN $dot >= 0.0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB CTEs mirroring mockEmbeddingCol for any (id, text) relation:
    * 8 uint32s from the sha256 hex -> [-1,1) -> L2-normalize. Any dim
    * >= 8 has only these 8 nonzero components, so dots truncate exactly.
    * Yields CTEs ${p}raw(id, r0..r7) and ${p}nrm(id, nn, r0..r7). */
  private[queries] def mockVecCtes(source: String, id: String, textExpr: String,
                          p: String): String = {
    val raws = (0 until 8).map(i =>
      s"(('0x' || substr(sha256($textExpr), ${i * 8 + 1}, 8))::UBIGINT " +
        s"/ 4294967296.0) * 2 - 1 AS r$i").mkString(",\n    ")
    val normExpr = (0 until 8).map(i => s"r$i*r$i").mkString(" + ")
    s"""${p}raw AS (
       |  SELECT $id,
       |    $raws
       |  FROM $source),
       |${p}nrm AS (
       |  SELECT $id, sqrt($normExpr) AS nn, * FROM ${p}raw)""".stripMargin
  }

  /** The default instantiation over `documents.text` (knn_text & co). */
  private[queries] def mockDocVecCtes: String =
    mockVecCtes("documents", "doc_id", "text", "")

  /** Dot of the normalized mock doc vector with a literal query vector
    * (first 8 components), same operation order as the Spark plan. */
  private[queries] def mockDotExpr(q: Array[Double]): String =
    (0 until 8).map(i => s"(r$i / nn) * (${q(i)})").mkString(" + ")

  /** §3.2 multi-collection oracle (J7 + W7): per-parity-half BM25 +
    * dense legs, RRF per collection, global top-10. `vecDims` adds the
    * heterogeneous-dim assertion column (the per-collection expected
    * vector width the Spark side must MEASURE from its stored
    * vectors). */
  private[queries] def multiCollectionOracleSql(nameEven: String, nameOdd: String,
      vecDims: Option[(Int, Int)]): String = {
    def halfSql(p: String, parity: Int): String =
      s"""${bm25WeightsCtes(p, s" WHERE doc_id % 2 = $parity")},
         |${p}qweights AS (
         |  SELECT q.term, CAST(q.q_tf AS DOUBLE) * i.idf AS q_weight
         |  FROM (VALUES $bm25QueryValues) AS q(term, q_tf)
         |  JOIN ${p}idf i ON q.term = i.term WHERE i.idf > 0),
         |${p}scores AS (
         |  SELECT w.doc_id,
         |    list_sum(list(w.weight * qw.q_weight ORDER BY w.term)) AS score
         |  FROM ${p}weights w JOIN ${p}qweights qw ON w.term = qw.term
         |  GROUP BY w.doc_id),
         |${p}sparse AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (ORDER BY score DESC,
         |        CAST(doc_id AS VARCHAR)) AS r
         |    FROM ${p}scores) WHERE r <= 10),
         |${p}dense AS (
         |  SELECT chunk_id, r FROM (
         |    SELECT CAST(doc_id AS VARCHAR) AS chunk_id,
         |      row_number() OVER (ORDER BY dscore DESC,
         |        CAST(doc_id AS VARCHAR)) AS r
         |    FROM dense_scored WHERE doc_id % 2 = $parity) WHERE r <= 10),
         |${p}fused AS (
         |  SELECT coalesce(d.chunk_id, sp.chunk_id) AS chunk_id,
         |    coalesce(1.0 / (60 + d.r), 0.0) +
         |      coalesce(1.0 / (60 + sp.r), 0.0) AS score
         |  FROM ${p}dense d FULL OUTER JOIN ${p}sparse sp
         |    ON d.chunk_id = sp.chunk_id),
         |${p}top AS (
         |  SELECT chunk_id, score FROM ${p}fused
         |  ORDER BY score DESC, chunk_id LIMIT 10)"""
    val vecDimCol = vecDims.map { case (de, dOdd) =>
      s",\n  CASE collection_id WHEN '$nameEven' THEN $de ELSE $dOdd END" +
        " AS vec_dim"
    }.getOrElse("")
    s"""WITH $mockDocVecCtes,
       |dense_scored AS (
       |  SELECT doc_id, ${mockDotExpr(KnnQueryVec)} AS dscore FROM nrm),
       |${halfSql("e_", 0)},
       |${halfSql("o_", 1)},
       |unioned AS (
       |  SELECT '$nameEven' AS collection_id, chunk_id, score FROM e_top
       |  UNION ALL
       |  SELECT '$nameOdd', chunk_id, score FROM o_top)
       |SELECT collection_id, chunk_id AS doc_id, chunk_id,
       |  round(score, 6) AS score$vecDimCol
       |FROM (SELECT * FROM unioned
       |  ORDER BY score DESC, collection_id, chunk_id LIMIT 10)
       |ORDER BY score DESC, collection_id, chunk_id""".stripMargin
  }

  private[queries] def knnTextOracle: String =
    s"""WITH $mockDocVecCtes,
       |scored AS (
       |  SELECT doc_id, ${mockDotExpr(KnnQueryVec)} AS raw_score FROM nrm)
       |SELECT doc_id, round(raw_score, 6) AS score FROM (
       |  SELECT doc_id, raw_score FROM scored
       |  ORDER BY raw_score DESC, doc_id LIMIT 20)
       |ORDER BY score DESC, doc_id""".stripMargin

  /** A DuckDB DOUBLE[] literal with full round-trip precision. */
  private[queries] def sqlDoubleList(a: Array[Double]): String =
    a.map(_.toString).mkString("[", ", ", "]") + "::DOUBLE[]"

  /** IR-metric scaffold shared by the ir_metrics / bench_eval_docs
    * oracles. Expects CTEs runs(query_id, rank, doc_id) and
    * qrels(query_id, doc_id, grade) earlier in the WITH chain; emits the
    * rest of the chain plus the final SELECT (metric, k, value,
    * n_queries). */
  private[queries] def irMetricsSqlTail: String = {
    val ks = IrMetrics.DefaultKValues
    val perKCtes = ks.map { k =>
      s"""mk_$k AS (
         |  SELECT q.query_id,
         |    coalesce(a.rel_at_k, 0) AS rel_at_k,
         |    coalesce(a.dcg, 0.0) AS dcg,
         |    coalesce(i.idcg, 0.0) AS idcg,
         |    coalesce(t.n_relevant, 0) AS n_rel
         |  FROM qs q
         |  LEFT JOIN (
         |    SELECT query_id, sum(is_rel) AS rel_at_k,
         |      sum(CAST(grade AS DOUBLE) / log2(rank + 1)) AS dcg
         |    FROM cum WHERE rank <= $k GROUP BY query_id) a USING (query_id)
         |  LEFT JOIN (
         |    SELECT query_id,
         |      sum(CAST(grade AS DOUBLE) / log2(irank + 1)) AS idcg
         |    FROM ideal WHERE irank <= $k GROUP BY query_id) i USING (query_id)
         |  LEFT JOIN truth t USING (query_id))""".stripMargin
    }.mkString(",\n")
    val perKSelects = ks.map { k =>
      s"""SELECT 'precision' AS metric, $k AS k,
         |  avg(rel_at_k / $k.0) AS value, count(*) AS n_queries FROM mk_$k
         |UNION ALL
         |SELECT 'recall' AS metric, $k AS k,
         |  avg(CASE WHEN n_rel > 0 THEN CAST(rel_at_k AS DOUBLE) / n_rel
         |    ELSE 0.0 END) AS value, count(*) AS n_queries FROM mk_$k
         |UNION ALL
         |SELECT 'ndcg' AS metric, $k AS k,
         |  avg(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END) AS value,
         |  count(*) AS n_queries FROM mk_$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""qs AS (SELECT DISTINCT query_id FROM runs),
       |graded AS (
       |  SELECT r.query_id, r.rank, r.doc_id,
       |    coalesce(q.grade, 0) AS grade,
       |    CASE WHEN coalesce(q.grade, 0) > 0 THEN 1 ELSE 0 END AS is_rel
       |  FROM runs r LEFT JOIN qrels q USING (query_id, doc_id)),
       |cum AS (
       |  SELECT *, sum(is_rel) OVER (PARTITION BY query_id
       |    ORDER BY rank) AS cum_rel FROM graded),
       |truth AS (
       |  SELECT query_id,
       |    sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS n_relevant
       |  FROM qrels GROUP BY query_id),
       |ideal AS (
       |  SELECT query_id, grade,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY grade DESC, doc_id) AS irank
       |  FROM qrels),
       |firstrel AS (
       |  SELECT c.query_id,
       |    min(CASE WHEN is_rel = 1 THEN rank END) AS first_rel,
       |    sum(CASE WHEN is_rel = 1
       |      THEN CAST(cum_rel AS DOUBLE) / rank END) AS p_sum
       |  FROM cum c GROUP BY c.query_id),
       |$perKCtes,
       |tail AS (
       |  SELECT q.query_id, f.first_rel, f.p_sum,
       |    coalesce(t.n_relevant, 0) AS n_rel
       |  FROM qs q
       |  LEFT JOIN firstrel f USING (query_id)
       |  LEFT JOIN truth t USING (query_id)),
       |allm AS (
       |  $perKSelects
       |  UNION ALL
       |  SELECT 'mrr' AS metric, 0 AS k,
       |    avg(coalesce(1.0 / first_rel, 0.0)) AS value,
       |    count(*) AS n_queries FROM tail
       |  UNION ALL
       |  SELECT 'ap' AS metric, 0 AS k,
       |    avg(CASE WHEN n_rel > 0 THEN coalesce(p_sum, 0.0) / n_rel
       |      ELSE 0.0 END) AS value,
       |    count(*) AS n_queries FROM tail)
       |SELECT metric, k, round(value, 6) AS value, n_queries
       |FROM allm ORDER BY metric, k""".stripMargin
  }

  /** The hierarchical (64,16) chunk relation as DuckDB CTEs — l0 =
    * 64-word windows, l1 = 16-word children with the deterministic
    * parent link L0_(g16 // 4); ends with CTEs `l0` and `l1` (plus
    * `docs`/`words`/`pos`/`g` upstream). Shared by the chunk_hier
    * oracle (the full relation) and search_parent_context (leaf BM25 +
    * parent lookup). */
  private[queries] val HierChunkCtes: String =
    """docs AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
      |  FROM documents WHERE length(text) > 0),
      |words AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(text, '(\S+)(\s*)', 1)) AS w,
      |    unnest(regexp_extract_all(text, '(\S+)(\s*)', 2)) AS gap,
      |    unnest(range(len(regexp_extract_all(text, '\S+')))) AS wi,
      |    length(regexp_extract(text, '^(\s*)', 1)) AS lead
      |  FROM docs),
      |pos AS (
      |  SELECT doc_id, wi,
      |    lead + sum(length(w) + length(gap)) OVER (PARTITION BY doc_id
      |      ORDER BY wi ROWS UNBOUNDED PRECEDING)
      |      - (length(w) + length(gap)) AS ws,
      |    lead + sum(length(w) + length(gap)) OVER (PARTITION BY doc_id
      |      ORDER BY wi ROWS UNBOUNDED PRECEDING) - length(gap) AS we
      |  FROM words),
      |g AS (
      |  SELECT doc_id, wi, ws, we, wi // 16 AS g16, wi // 64 AS g64
      |  FROM pos),
      |l0 AS MATERIALIZED (
      |  SELECT doc_id, 0 AS level,
      |    doc_id || '_L0_' || g64 AS chunk_id,
      |    CAST(NULL AS VARCHAR) AS parent_id,
      |    CAST(g64 AS INT) AS chunk_index,
      |    CAST(min(ws) AS INT) AS start_offset,
      |    CAST(max(we) AS INT) AS end_offset,
      |    CAST(count(*) AS INT) AS token_count
      |  FROM g GROUP BY doc_id, g64),
      |l1 AS MATERIALIZED (
      |  SELECT doc_id, 1 AS level,
      |    doc_id || '_L1_' || g16 AS chunk_id,
      |    doc_id || '_L0_' || (g16 // 4) AS parent_id,
      |    CAST(g16 AS INT) AS chunk_index,
      |    CAST(min(ws) AS INT) AS start_offset,
      |    CAST(max(we) AS INT) AS end_offset,
      |    CAST(count(*) AS INT) AS token_count
      |  FROM g GROUP BY doc_id, g16)""".stripMargin

  /** [[HierChunkCtes]] + leaf BM25 + the top-10 cut — ends with CTE
    * `hhits(chunk_id, score)` (6-dp rounded after the cut). Shared by
    * search_parent_context and rag_parent_pack. */
  private[queries] lazy val ParentLeafHitsCtes: String =
    s"""$HierChunkCtes,
       |${bm25WeightsCtes("h", "",
        "(SELECT l1.chunk_id AS doc_id, substring(d.text, " +
          "l1.start_offset + 1, l1.end_offset - l1.start_offset) " +
          "AS text FROM l1 JOIN docs d USING (doc_id)) src")},
       |hqterms AS (
       |  SELECT q.term, q.q_tf
       |  FROM (VALUES $bm25QueryValues) AS q(term, q_tf)),
       |hqweights AS (
       |  SELECT hqterms.term,
       |    CAST(hqterms.q_tf AS DOUBLE) * idf.idf AS q_weight
       |  FROM hqterms JOIN hidf idf ON hqterms.term = idf.term
       |  WHERE idf.idf > 0),
       |hscores AS (
       |  SELECT w.doc_id,
       |    list_sum(list(w.weight * qw.q_weight ORDER BY w.term))
       |      AS score
       |  FROM hweights w JOIN hqweights qw ON w.term = qw.term
       |  GROUP BY w.doc_id),
       |hhits AS MATERIALIZED (
       |  SELECT doc_id AS chunk_id, round(score, 6) AS score FROM (
       |    SELECT doc_id, score FROM hscores
       |    ORDER BY score DESC, doc_id LIMIT 10))""".stripMargin

  private[queries] def bm25QueryValues: String = queryValuesFor(SearchQuery)

  /** (term, q_tf) VALUES literal for an arbitrary query text — the
    * per-query qweights inputs of the multi-query oracles. */
  private[queries] def queryValuesFor(text: String): String =
    TextFunctions.tokenize(text)
      .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
      .map { case (t, n) => s"('$t', $n)" }.mkString(", ")

  private[queries] val Bm25ScoresCtes =
    s"""$Bm25WeightsCtes,
       |qterms AS (
       |  SELECT q.term, q.q_tf FROM (VALUES $bm25QueryValues) AS q(term, q_tf)),
       |qweights AS (
       |  SELECT qterms.term, CAST(qterms.q_tf AS DOUBLE) * idf.idf AS q_weight
       |  FROM qterms JOIN idf ON qterms.term = idf.term
       |  WHERE idf.idf > 0),
       |bm25_scores AS (
       |  SELECT w.doc_id,
       |    list_sum(list(w.weight * qw.q_weight ORDER BY w.term)) AS score
       |  FROM weights w JOIN qweights qw ON w.term = qw.term
       |  GROUP BY w.doc_id)""".stripMargin

  /** MinHash-LSH near-dup pipeline as DuckDB CTEs, shared by the
    * dedup_minhash and dedup_clusters oracles: shingles → 16 sha-seeded
    * minhash signatures → 8 banded buckets → candidate pairs → exact
    * Jaccard verify. Ends with CTE dup_pairs(id_a, id_b, jaccard). */
  private[queries] def minhashPairCtes: String = {
    val toks = sqlToksKeepStop("text")
    def shaH(seed: Int) =
      s"('0x' || substr(sha256('${seed / 8}:' || shingle), " +
        s"${(seed % 8) * 8 + 1}, 8))::UBIGINT::BIGINT"
    val hashCols = (0 until 16).map(s => s"min(${shaH(s)}) AS m$s")
      .mkString(",\n    ")
    val bandSelects = (0 until 8).map { b =>
      s"SELECT id, $b AS band, CAST(m${2 * b} AS VARCHAR) || ',' || " +
        s"CAST(m${2 * b + 1} AS VARCHAR) AS band_val FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""sh AS (
       |  SELECT DISTINCT doc_id AS id, unnest(
       |    CASE WHEN len($toks) < 3 THEN []
       |    ELSE list_transform(generate_series(1, len($toks) - 2),
       |      i -> concat_ws(' ', $toks[i], $toks[i+1], $toks[i+2]))
       |    END) AS shingle
       |  FROM documents),
       |sig AS (
       |  SELECT id,
       |    $hashCols
       |  FROM sh GROUP BY id),
       |banded AS (
       |  $bandSelects),
       |cands AS (
       |  SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |  FROM banded l JOIN banded r
       |    ON l.band = r.band AND l.band_val = r.band_val AND l.id < r.id),
       |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       |inters AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM cands c
       |  JOIN sh a ON a.id = c.id_a
       |  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY c.id_a, c.id_b),
       |dup_pairs AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
       |      (sa.n + sb.n - coalesce(i.n_inter, 0)) AS jaccard
       |  FROM cands c
       |  LEFT JOIN inters i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |  JOIN sizes sa ON sa.id = c.id_a
       |  JOIN sizes sb ON sb.id = c.id_b
       |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
       |    (sa.n + sb.n - coalesce(i.n_inter, 0)) >= 0.2)""".stripMargin
  }

  /** One side of the cross-corpus fuzzy-decontamination oracle:
    * shingles → 16 sha-seeded minhash signatures → 8 banded bucket
    * keys, suffixed `_$sfx`, reading (id, text) from CTE `$src`.
    * Mirrors [[graft.operators.Dedup.minhashBandKeys]] with the sha
    * hash family. */
  private[queries] def minhashSideCtes(src: String, sfx: String): String = {
    val toks = sqlToksKeepStop("text")
    def shaH(seed: Int) =
      s"('0x' || substr(sha256('${seed / 8}:' || shingle), " +
        s"${(seed % 8) * 8 + 1}, 8))::UBIGINT::BIGINT"
    val hashCols = (0 until 16).map(s => s"min(${shaH(s)}) AS m$s")
      .mkString(",\n    ")
    val bandSelects = (0 until 8).map { b =>
      s"SELECT id, $b AS band, CAST(m${2 * b} AS VARCHAR) || ',' || " +
        s"CAST(m${2 * b + 1} AS VARCHAR) AS band_val FROM sig_$sfx"
    }.mkString("\n  UNION ALL\n  ")
    s"""sh_$sfx AS (
       |  SELECT DISTINCT id, unnest(
       |    CASE WHEN len($toks) < 3 THEN []
       |    ELSE list_transform(generate_series(1, len($toks) - 2),
       |      i -> concat_ws(' ', $toks[i], $toks[i+1], $toks[i+2]))
       |    END) AS shingle
       |  FROM $src),
       |sig_$sfx AS (
       |  SELECT id,
       |    $hashCols
       |  FROM sh_$sfx GROUP BY id),
       |banded_$sfx AS (
       |  $bandSelects)""".stripMargin
  }

  // =====================================================================
  // Oracles (DuckDB SQL on the same parquet tables)
  // =====================================================================

  /** C2 recursive chunker, EXACT oracle, shared with chunk_markdown
    * (on a corpus with zero markdown-header docs — asserted by the
    * routing probe below — markdown() takes its
    * `headerStarts.isEmpty => recursive(content, cfg)` early return,
    * so the two strategies are definitionally identical; the
    * header-section merge path stays pinned by ChunkingGoldenSpec).
    *
    * Three phases mirroring Chunking.scala recursive():
    * 1. `aq` — the separator-hierarchy split as a WORK-QUEUE recursive
    *    CTE: rows are (span, separator level); a row whose span holds
    *    <= mergeBudget (= maxTokens - min(overlap, maxTokens/2) = 20)
    *    tokens is a final atom; an oversized row splits on its level's
    *    literal separator (string_split of the span — exactly the
    *    clamped indexOf scan), each piece keeping the separator, with
    *    piece offsets recovered from prefix length sums; a level with
    *    no occurrence re-queues the span one level down; level 9 is
    *    the hard 80-char split (unreachable when every gap contains a
    *    plain space, true for this corpus).
    * 2. `mst` — the greedy merge as a one-step-per-atom recursive CTE
    *    re-counting tokens over the merged span like countTokensIn.
    * 3. overlap splice + trim in word algebra: wordsBack(prevEnd, 20)
    *    is the start of the word 19 indices before the last word
    *    starting before prevEnd (doc start when the walk hits it), and
    *    trimmed spans/token counts are min-start/max-end/count over the
    *    zip-unnested word-position relation. */
  private[queries] def recursiveChunkCtes(budget: Int, overlapWords: Int,
                                 docsFrom: String =
                                   "documents WHERE regexp_matches(text, '\\S')",
                                 p: String = ""): String = {
    val hardW = budget * 4  // cfg.charsPerToken = 4
    val ovCte =
      if (overlapWords == 0)
        s"""${p}ov AS (
          |  SELECT s.doc_id, s.si, s.sb, s.sa AS ea FROM ${p}sp s)"""
          .stripMargin
      else
        s"""${p}ov AS (
          |  SELECT s.doc_id, s.si, s.sb,
          |    CASE WHEN s.prev_b IS NULL THEN s.sa
          |      ELSE least(s.sa, coalesce((
          |        SELECT p2.ws FROM ${p}pos p2
          |        WHERE p2.doc_id = s.doc_id AND p2.wi = greatest(
          |          (SELECT max(p.wi) FROM ${p}pos p
          |           WHERE p.doc_id = s.doc_id AND p.ws < s.prev_b)
          |           - ${overlapWords - 1}, 0)), 0))
          |    END AS ea
          |  FROM ${p}sp s)"""
          .stripMargin
    s"""${p}docs AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
      |  FROM $docsFrom),
      |${p}aq AS (
      |  SELECT doc_id, CAST(0 AS BIGINT) AS a,
      |    CAST(length(text) AS BIGINT) AS b,
      |    0 AS lvl, len(regexp_extract_all(text, '\\S+')) <= $budget AS fin
      |  FROM ${p}docs
      |  UNION ALL
      |  SELECT doc_id, pa, pb, lvl + 1 AS lvl,
      |    CASE WHEN lvl >= 9 THEN TRUE
      |      ELSE len(regexp_extract_all(substr(text, pa + 1, pb - pa),
      |        '\\S+')) <= $budget
      |    END AS fin
      |  FROM (
      |    SELECT doc_id, lvl, text,
      |      unnest(list_transform(js, j -> CAST(
      |        CASE WHEN lvl >= 9 THEN a + j * $hardW
      |          WHEN j = 1 THEN a
      |          ELSE a + coalesce(list_sum(list_transform(
      |                 list_slice(parts, 1, j - 1),
      |                 x -> CAST(length(x) AS BIGINT))), 0)
      |               + (j - 1) * length(sep) END AS BIGINT))) AS pa,
      |      unnest(list_transform(js, j -> CAST(
      |        CASE WHEN lvl >= 9 THEN least(a + j * $hardW + $hardW, b)
      |          ELSE a + coalesce(list_sum(list_transform(
      |                 list_slice(parts, 1, j),
      |                 x -> CAST(length(x) AS BIGINT))), 0)
      |               + (j - 1) * length(sep)
      |               + CASE WHEN j < len(parts) THEN length(sep)
      |                 ELSE 0 END
      |        END AS BIGINT))) AS pb
      |    FROM (
      |      SELECT q.doc_id, q.a, q.b, q.lvl, d.text, sep, parts,
      |        CASE WHEN q.lvl >= 9
      |          THEN range(0, CAST(ceil((q.b - q.a) / $hardW.0) AS BIGINT))
      |          ELSE list_filter(range(1, len(parts) + 1),
      |            j -> j < len(parts)
      |              OR length(list_extract(parts, len(parts))) > 0)
      |        END AS js
      |      FROM (
      |        SELECT q0.*,
      |          list_extract([chr(10)||chr(10)||chr(10),
      |            chr(10)||chr(10), chr(10),
      |            '. ', '! ', '? ', '; ', ', ', ' '],
      |            least(q0.lvl, 8) + 1) AS sep,
      |          string_split(substr(d0.text, q0.a + 1, q0.b - q0.a),
      |            list_extract([chr(10)||chr(10)||chr(10),
      |              chr(10)||chr(10), chr(10),
      |              '. ', '! ', '? ', '; ', ', ', ' '],
      |              least(q0.lvl, 8) + 1)) AS parts
      |        FROM ${p}aq q0 JOIN ${p}docs d0 USING (doc_id)
      |        WHERE NOT q0.fin) q
      |      JOIN ${p}docs d USING (doc_id)))),
      |${p}at AS (
      |  SELECT doc_id, a, b,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY a) AS ai
      |  FROM ${p}aq WHERE fin),
      |${p}an AS (SELECT doc_id, max(ai) AS maxai FROM ${p}at GROUP BY doc_id),
      |${p}mst AS (
      |  SELECT doc_id, ai, a AS cl_a, b AS cl_b,
      |    CAST(NULL AS BIGINT) AS emit_a, CAST(NULL AS BIGINT) AS emit_b
      |  FROM ${p}at WHERE ai = 1
      |  UNION ALL
      |  SELECT doc_id, ai,
      |    CASE WHEN brk THEN na ELSE cl_a END, nb,
      |    CASE WHEN brk THEN cl_a END, CASE WHEN brk THEN cl_b END
      |  FROM (
      |    SELECT m.doc_id, t.ai, m.cl_a, m.cl_b, t.a AS na, t.b AS nb,
      |      len(regexp_extract_all(substr(d.text, m.cl_a + 1,
      |        t.b - m.cl_a), '\\S+')) > $budget AS brk
      |    FROM ${p}mst m
      |    JOIN ${p}at t ON t.doc_id = m.doc_id AND t.ai = m.ai + 1
      |    JOIN ${p}docs d ON d.doc_id = m.doc_id)),
      |${p}sp AS (
      |  SELECT doc_id, sa, sb,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY sa) AS si,
      |    lag(sb) OVER (PARTITION BY doc_id ORDER BY sa) AS prev_b
      |  FROM (
      |    SELECT doc_id, emit_a AS sa, emit_b AS sb FROM ${p}mst
      |    WHERE emit_a IS NOT NULL
      |    UNION ALL
      |    SELECT m.doc_id, m.cl_a, m.cl_b
      |    FROM ${p}mst m JOIN ${p}an ON ${p}an.doc_id = m.doc_id
      |      AND m.ai = ${p}an.maxai)),
      |${p}words AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(text, '(\\S+)(\\s*)', 1)) AS w,
      |    unnest(regexp_extract_all(text, '(\\S+)(\\s*)', 2)) AS gap,
      |    unnest(range(len(regexp_extract_all(text, '\\S+')))) AS wi,
      |    length(regexp_extract(text, '^(\\s*)', 1)) AS lead
      |  FROM ${p}docs),
      |${p}pos AS (
      |  SELECT doc_id, wi,
      |    lead + sum(length(w) + length(gap)) OVER (PARTITION BY doc_id
      |      ORDER BY wi ROWS UNBOUNDED PRECEDING)
      |      - (length(w) + length(gap)) AS ws,
      |    lead + sum(length(w) + length(gap)) OVER (PARTITION BY doc_id
      |      ORDER BY wi ROWS UNBOUNDED PRECEDING) - length(gap) AS we
      |  FROM ${p}words),
      |$ovCte,
      |${p}ch AS (
      |  SELECT o.doc_id, o.si, min(p.ws) AS s, max(p.we) AS e,
      |    count(*) AS tc
      |  FROM ${p}ov o JOIN ${p}pos p
      |    ON p.doc_id = o.doc_id AND p.ws >= o.ea AND p.ws < o.sb
      |  GROUP BY o.doc_id, o.si)""".stripMargin
  }

  /** The ingested chunks relation of [[ingestedChunksSnapshot]] /
    * bench_eval's in-plan build, as a CTE over [[recursiveChunkCtes]]'
    * terminal `ch(doc_id, si, s, e, tc)` relation: chunk ids are
    * doc_id||'_'||chunk_index exactly as Ingest.buildChunks concats
    * them, content is the trimmed-span substring (the offsets are the
    * hash-exact chunk_recursive ones, so the substrings match the
    * flatMap chunker's ChunkOut.text byte for byte).
    * MATERIALIZED: the search/eval oracles reference `chunks` several
    * times (BM25 corpus, dense vectors, rerank join, payload join);
    * without the hint DuckDB re-inlines the whole recursive chunker —
    * including `ov`'s correlated word-position subquery — per
    * reference (measured 161 s vs ~4 s at sf0.001). */
  private[queries] val ChunksFromRecursiveCte: String =
    """chunks AS MATERIALIZED (
      |  SELECT ch.doc_id,
      |    ch.doc_id || '_' ||
      |      (row_number() OVER (PARTITION BY ch.doc_id ORDER BY si) - 1)
      |      AS chunk_id,
      |    substr(d.text, CAST(s AS INT) + 1, CAST(e - s AS INT)) AS content
      |  FROM ch JOIN docs d USING (doc_id))""".stripMargin

  /** Complete C2 oracle query (chunk_recursive / chunk_markdown). */
  private[queries] val RecursiveChunkOracleSql: String =
    "WITH RECURSIVE " + recursiveChunkCtes(20, 20) + """
      |SELECT doc_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY si) - 1
      |    AS INT) AS chunk_index,
      |  CAST(s AS INT) AS start_offset, CAST(e AS INT) AS end_offset,
      |  CAST(tc AS INT) AS token_count
      |FROM ch
      |ORDER BY CAST(doc_id AS BIGINT), chunk_index""".stripMargin

  /** C1 character chunker, EXACT oracle CTEs: the chunk loop is
    * sequential (each start depends on the previous end), so the
    * oracle is a recursive CTE — one recursion step per chunk, each
    * step redoing the boundary snaps as regexes on the doc
    * prefix/suffix:
    *   sbp/sb  = sentenceBoundaryBefore (last '[.!?]\s' in the prefix,
    *             then the whitespace run skipped forward)
    *   wb      = wordBoundaryBefore (strip the trailing \S* run)
    *   adj     = wordBoundaryAfter (skip \S*\s* from a mid-word start)
    *   end2    = capTokens (cap at maxTokens whitespace tokens: the
    *             capped end is the first whitespace after the last
    *             in-budget token)
    *   ta/tb   = trimSpan. Docs under minTokens*4 chars (est <
    *             minTokens) take the single-trimmed-chunk branch
    *             ("small").
    * Parameterized over the ChunkConfig-derived constants so the
    * chunk_character query (40/5), the build_pipeline ingest skeleton
    * (100/10) and chunk_hybrid's character branch (40/50) share it;
    * `docsFrom` swaps the document relation (hybrid's routed subset)
    * and `p` prefixes the CTE names so the block can coexist
    * with the semantic CTEs in one WITH. Callers prepend
    * "WITH RECURSIVE " and append a final SELECT over `{p}st`
    * (emit_idx rows) + `{p}small`.
    * Chunking.scala character() is the line-by-line reference. */
  private[queries] def characterChunkCtes(maxTokens: Int, overlapTokens: Int,
                                 minTokens: Int,
                                 docsFrom: String =
                                   "documents WHERE length(text) > 0",
                                 p: String = ""): String = {
    val csize = maxTokens * 4   // cfg.charsPerToken = 4
    val ov = overlapTokens * 4
    val half = csize / 2
    val smallMax = minTokens * 4 - 1
    s"""${p}docs AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
      |    length(text) AS len
      |  FROM $docsFrom),
      |${p}small AS (
      |  SELECT doc_id, text, len,
      |    length(regexp_extract(text, '(?s)^(\\s*)', 1)) AS a,
      |    len - length(regexp_extract(text, '(?s)(\\s*)$$', 1)) AS b
      |  FROM ${p}docs WHERE len <= $smallMax),
      |${p}st AS (
      |  SELECT doc_id, text, len,
      |    0 AS pos, 0 AS idx,
      |    CAST(NULL AS INT) AS emit_idx, CAST(NULL AS BIGINT) AS a,
      |    CAST(NULL AS BIGINT) AS b
      |  FROM ${p}docs WHERE len >= ${smallMax + 1}
      |  UNION ALL
      |  SELECT doc_id, text, len,
      |    CASE WHEN end2 >= len THEN len
      |      WHEN end2 - $ov <= pos THEN pos + $half
      |      ELSE end2 - $ov END AS pos,
      |    CASE WHEN tb > ta THEN idx + 1 ELSE idx END AS idx,
      |    CASE WHEN tb > ta THEN idx END AS emit_idx,
      |    CASE WHEN tb > ta THEN ta END AS a,
      |    CASE WHEN tb > ta THEN tb END AS b
      |  FROM (
      |    SELECT *, start1 + length(regexp_extract(
      |        substr(text, start1 + 1, end2 - start1), '(?s)^(\\s*)', 1))
      |        AS ta,
      |      end2 - length(regexp_extract(
      |        substr(text, start1 + 1, end2 - start1), '(?s)(\\s*)$$', 1))
      |        AS tb
      |    FROM (
      |      SELECT *, greatest(
      |        CASE WHEN regexp_matches(
      |               substr(text, start1 + 1, end1 - start1),
      |               '(?s)^\\s*(?:\\S+\\s+){$maxTokens}\\S')
      |          THEN start1 + length(regexp_extract(
      |            substr(text, start1 + 1, end1 - start1),
      |            '(?s)^\\s*\\S+(?:\\s+\\S+){${maxTokens - 1}}', 0))
      |          ELSE end1 END,
      |        least(start1 + 1, len)) AS end2
      |      FROM (
      |        SELECT *, CASE WHEN idx > 0 AND start0 > 0 THEN
      |            CASE WHEN adj < end1 THEN adj ELSE start0 END
      |          ELSE start0 END AS start1
      |        FROM (
      |          SELECT *, CASE
      |              WHEN regexp_matches(substr(text, start0 + 1, 1), '\\s')
      |                THEN start0 + length(regexp_extract(
      |                  substr(text, start0 + 1), '(?s)^(\\s*)', 1))
      |              WHEN NOT regexp_matches(substr(text, start0, 1), '\\s')
      |                THEN start0 + length(regexp_extract(
      |                  substr(text, start0 + 1), '(?s)^(\\S*\\s*)', 0))
      |              ELSE start0 END AS adj
      |          FROM (
      |            SELECT *, CASE WHEN end0 >= len THEN end0
      |                WHEN sb > start0 AND sb <= end0 THEN sb
      |                WHEN wb > start0 THEN wb
      |                ELSE end0 END AS end1
      |            FROM (
      |              SELECT *, CASE WHEN sbp < 0 THEN -1
      |                  ELSE sbp + length(regexp_extract(
      |                    substr(text, sbp + 1), '(?s)^(\\s*)', 1)) END AS sb,
      |                CASE WHEN end0 >= len THEN end0
      |                  WHEN regexp_matches(substr(text, end0 + 1, 1), '\\s')
      |                    THEN end0
      |                  ELSE length(regexp_extract(substr(text, 1, end0),
      |                    '(?s)^((?:.*\\s)?)\\S*$$', 1)) END AS wb
      |              FROM (
      |                SELECT *, CASE WHEN end0 >= len THEN -1
      |                    WHEN regexp_matches(substr(text, 1, end0),
      |                      '(?s)[.!?]\\s')
      |                      THEN length(regexp_extract(
      |                        substr(text, 1, end0), '(?s)^(.*[.!?])\\s', 1))
      |                    ELSE -1 END AS sbp
      |                FROM (
      |                  SELECT *,
      |                    CASE WHEN idx = 0 THEN 0 ELSE pos END AS start0,
      |                    least(CASE WHEN idx = 0 THEN 0 ELSE pos END
      |                      + $csize, len) AS end0
      |                  FROM ${p}st WHERE pos < len)))))))))""".stripMargin
  }

  /** C4 semantic chunker oracle CTEs, parameterized by the document
    * relation so chunk_hybrid can feed it the analyze()-routed subset.
    * See the chunk_semantic entry's comment for the three phases. */
  private[queries] def semanticChunkCtes(docsSelect: String): String =
    s"""docs AS (
      |  $docsSelect),
      |rawsent AS (
      |  SELECT doc_id, generate_subscripts(l, 1) AS pos,
      |    unnest(l) AS sentence
      |  FROM (SELECT doc_id,
      |          regexp_extract_all(text, '(?s).*?[.!?]+\\s+|(?s).+') AS l
      |        FROM docs)),
      |offs AS (
      |  SELECT doc_id, pos, sentence,
      |    coalesce(sum(length(sentence)) OVER (PARTITION BY doc_id
      |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) AS a
      |  FROM rawsent),
      |sents AS (
      |  SELECT doc_id,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY a) - 1 AS si,
      |    CAST(a AS BIGINT) AS a,
      |    CAST(a + length(sentence) AS BIGINT) AS b,
      |    len(regexp_extract_all(sentence, '\\S+')) AS wc,
      |    list_distinct(list_filter(
      |      regexp_extract_all(lower(sentence),
      |        '[a-z0-9_]+(?:-[a-z0-9_]+)*'),
      |      x -> length(x) >= 2)) AS toks
      |  FROM offs WHERE regexp_matches(sentence, '\\S')),
      |sims AS (
      |  SELECT doc_id, si, a, b, wc,
      |    CASE WHEN ptoks IS NULL THEN NULL
      |      WHEN len(list_distinct(list_concat(ptoks, toks))) = 0 THEN 0.0
      |      ELSE CAST(len(list_intersect(ptoks, toks)) AS DOUBLE)
      |           / len(list_distinct(list_concat(ptoks, toks))) END AS sim
      |  FROM (SELECT *, lag(toks) OVER (PARTITION BY doc_id
      |          ORDER BY si) AS ptoks
      |        FROM sents)),
      |nn AS (SELECT doc_id, max(si) AS maxsi FROM sims GROUP BY doc_id),
      |st AS (
      |  SELECT doc_id, si, a AS cur_a, b AS cur_b, wc AS cur_wc,
      |    CAST(NULL AS BIGINT) AS emit_a, CAST(NULL AS BIGINT) AS emit_b
      |  FROM sims WHERE si = 0
      |  UNION ALL
      |  SELECT doc_id, si,
      |    CASE WHEN brk THEN sa ELSE cur_a END,
      |    sb,
      |    CASE WHEN brk THEN swc ELSE cur_wc + swc END,
      |    CASE WHEN brk THEN cur_a END,
      |    CASE WHEN brk THEN cur_b END
      |  FROM (
      |    SELECT st.doc_id, s.si, st.cur_a, st.cur_b, st.cur_wc,
      |      s.a AS sa, s.b AS sb, s.wc AS swc,
      |      (st.cur_wc + s.wc > 40)
      |        OR (s.sim < 0.3 AND st.cur_wc >= 10) AS brk
      |    FROM st JOIN sims s
      |      ON s.doc_id = st.doc_id AND s.si = st.si + 1)),
      |clusters AS (
      |  SELECT doc_id, emit_a AS ca, emit_b AS cb FROM st
      |  WHERE emit_a IS NOT NULL
      |  UNION ALL
      |  SELECT st.doc_id, st.cur_a, st.cur_b
      |  FROM st JOIN nn ON nn.doc_id = st.doc_id AND st.si = nn.maxsi),
      |words AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(text, '(\\S+)(\\s*)', 1)) AS w,
      |    unnest(regexp_extract_all(text, '(\\S+)(\\s*)', 2)) AS gap,
      |    unnest(range(len(regexp_extract_all(text, '\\S+')))) AS wi,
      |    length(regexp_extract(text, '^(\\s*)', 1)) AS lead
      |  FROM docs),
      |pos AS (
      |  SELECT doc_id, wi,
      |    lead + sum(length(w) + length(gap)) OVER (PARTITION BY doc_id
      |      ORDER BY wi ROWS UNBOUNDED PRECEDING)
      |      - (length(w) + length(gap)) AS ws,
      |    lead + sum(length(w) + length(gap)) OVER (PARTITION BY doc_id
      |      ORDER BY wi ROWS UNBOUNDED PRECEDING) - length(gap) AS we
      |  FROM words),
      |wcl AS (
      |  SELECT c.doc_id, c.ca, p.ws, p.we,
      |    (row_number() OVER (PARTITION BY c.doc_id, c.ca
      |       ORDER BY p.ws) - 1) // 40 AS gi
      |  FROM clusters c JOIN pos p
      |    ON p.doc_id = c.doc_id AND p.ws >= c.ca AND p.ws < c.cb),
      |chunks AS (
      |  SELECT doc_id, ca, gi, min(ws) AS s, max(we) AS e,
      |    count(*) AS tc
      |  FROM wcl GROUP BY doc_id, ca, gi)""".stripMargin

  /** Per-doc indexed final projection over the semantic `chunks` CTE. */
  private[queries] val SemanticChunkSelect: String =
    """SELECT doc_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY ca, gi) - 1 AS INT) AS chunk_index,
      |  CAST(s AS INT) AS start_offset, CAST(e AS INT) AS end_offset,
      |  CAST(tc AS INT) AS token_count
      |FROM chunks""".stripMargin

  /** Complete C4 oracle query (chunk_semantic). */
  private[queries] def semanticChunkOracleSql(docsSelect: String): String =
    "WITH RECURSIVE " + semanticChunkCtes(docsSelect) + "\n" +
      SemanticChunkSelect +
      "\nORDER BY CAST(doc_id AS BIGINT), chunk_index"

  /** The analyze() routing predicates (Chunking.scala:427-446)
    * verbatim in SQL; `cond` further restricts to one route. */
  private[queries] def hybridRoutedDocs(cond: String): String =
    s"""SELECT doc_id, text FROM (
      |    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
      |      (regexp_matches(text, '(?m)^#{1,6}\\s')
      |        OR len(list_filter(
      |             list_slice(string_split(text, chr(10)), 1, 50),
      |             l -> starts_with(trim(l), '#')
      |               AND length(trim(l)) > 1)) > 0) AS has_md,
      |      (contains(text, '```')
      |        OR contains(text, chr(10) || '    ')) AS has_code,
      |      (contains(text, chr(10) || '- ')
      |        OR contains(text, chr(10) || '* ')
      |        OR contains(text, chr(10) || '1. ')
      |        OR contains(text, chr(10) || '| ')
      |        OR contains(text, chr(10) || '> ')) AS has_struct,
      |      CAST(length(text) AS DOUBLE) / greatest(1,
      |        length(text) - length(replace(replace(replace(text,
      |          '.', ''), '!', ''), '?', ''))) AS avg_sl
      |    FROM documents WHERE length(text) > 0)
      |  WHERE NOT has_md AND NOT has_code AND NOT has_struct
      |    AND $cond""".stripMargin

  /** The LSH banding sweep as DuckDB CTEs (shared by `lsh_band_sweep`
    * and `dedup_tuned`): calibration corpus → shingles (`csh`) →
    * 16 sha-seeded signatures (`csig`, columns m0..m15) → exact-Jaccard
    * pair panel (`cscored`) → per-configuration recall/false-candidate
    * aggregate (`sweep`). Mirrors [[lshSweep]] exactly. */
  private[queries] def lshSweepOracleCtes: String = {
    val toks = sqlToksKeepStop("text")
    def shaH(seed: Int) =
      s"('0x' || substr(sha256('${seed / 8}:' || shingle), " +
        s"${(seed % 8) * 8 + 1}, 8))::UBIGINT::BIGINT"
    val hashCols = (0 until 16).map(s => s"min(${shaH(s)}) AS m$s")
      .mkString(",\n    ")
    def caughtSql(b: Int, r: Int) = (0 until b).map { k =>
      (0 until r).map(i => s"am${k * r + i} = bm${k * r + i}")
        .mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")")
    val sigCols = (0 until 16)
      .map(i => s"A.m$i AS am$i, B.m$i AS bm$i").mkString(",\n    ")
    val configSelects = Seq((16, 1), (8, 2), (4, 4), (2, 8)).map {
      case (b, r) =>
        val c = caughtSql(b, r)
        s"""SELECT $b AS bands, $r AS rows_per_band,
           |  CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_true,
           |  CAST(sum(CASE WHEN j >= 0.5 AND $c THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_caught,
           |  CAST(sum(CASE WHEN j < 0.5 AND $c THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_false_cands,
           |  round(CAST(sum(CASE WHEN j >= 0.5 AND $c THEN 1 ELSE 0
           |    END) AS DOUBLE) /
           |    sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END), 6)
           |    AS recall
           |FROM cscored""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""ccorpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, substr(text,
       |    CAST(floor(length(text) * ((doc_id % 10) / 10.0)) AS INT)
       |      + 1) AS text
       |  FROM documents WHERE lang = 'en'),
       |csh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id AS id, unnest(
       |    CASE WHEN len($toks) < 3 THEN []
       |    ELSE list_transform(generate_series(1, len($toks) - 2),
       |      i -> concat_ws(' ', $toks[i], $toks[i+1], $toks[i+2]))
       |    END) AS shingle
       |  FROM ccorpus),
       |csig AS MATERIALIZED (
       |  SELECT id,
       |    $hashCols
       |  FROM csh GROUP BY id),
       |cids AS (SELECT doc_id FROM documents),
       |cpairs AS (
       |  SELECT a.doc_id AS id_a, a.doc_id + d AS id_b
       |  FROM cids a CROSS JOIN (SELECT unnest([1, 2, 3]) AS d)
       |  WHERE a.doc_id + d IN (SELECT doc_id FROM cids)
       |  UNION ALL
       |  SELECT doc_id, doc_id + 1000000 FROM documents
       |  WHERE lang = 'en'),
       |csizes AS MATERIALIZED (
       |  SELECT id, count(*) AS n FROM csh GROUP BY 1),
       |cinters AS (
       |  SELECT p.id_a, p.id_b, count(*) AS ni
       |  FROM cpairs p
       |  JOIN csh a ON a.id = p.id_a
       |  JOIN csh b ON b.id = p.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |cscored AS MATERIALIZED (
       |  SELECT p.id_a, p.id_b,
       |    CAST(coalesce(i.ni, 0) AS DOUBLE) /
       |      (sa.n + sb.n - coalesce(i.ni, 0)) AS j,
       |    $sigCols
       |  FROM cpairs p
       |  JOIN csizes sa ON sa.id = p.id_a
       |  JOIN csizes sb ON sb.id = p.id_b
       |  LEFT JOIN cinters i ON i.id_a = p.id_a AND i.id_b = p.id_b
       |  JOIN csig A ON A.id = p.id_a
       |  JOIN csig B ON B.id = p.id_b),
       |sweep AS MATERIALIZED (
       |  $configSelects)""".stripMargin
  }

  /** The quality-classifier fit+score replay (staging, hashed-bigram
    * features, the 40 full-batch GD iterations via a recursive CTE
    * carrying the weight vector, and the scoring sigmoid), shared by
    * the quality_classifier and quality_tuned oracles. Ends at `outp`
    * (doc_id, 6-dp-rounded quality_prob) with `staged` (and its `y`
    * labels) still in scope for downstream CTEs. */
  private[queries] def qcOracleReplayCtes: String = {
    val toks = sqlToksKeepStop("text")
    val B = 64
    val xTerms = (0 until B).map(k =>
      s"coalesce(sum(CASE WHEN pb.bucket = $k THEN pb.cnt END), 0.0)")
      .mkString("[", ", ", "]::DOUBLE[]")
    val zeros = Seq.fill(B)("0.0").mkString("[", ", ", "]::DOUBLE[]")
    val rExpr =
      "(1.0 / (1.0 + exp(-(list_inner_product(d.x, g.w) + g.b))) - d.y)"
    val wTerms = (0 until B).map(k =>
      s"g.w[${k + 1}] - 64.0 * sum(d.x[${k + 1}] * $rExpr) / nn.n")
      .mkString("[", ", ", "]::DOUBLE[]")
    s"""WITH RECURSIVE staged AS MATERIALIZED (
       |  SELECT doc_id,
       |    text || CASE WHEN doc_id % 10 IN (0, 5) THEN '$QcMarker'
       |      ELSE '' END AS text,
       |    CASE WHEN doc_id % 10 IN (0, 5) THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents),
       |toks AS (SELECT doc_id, $toks AS t FROM staged),
       |feats AS (
       |  SELECT doc_id, unnest(list_concat(t,
       |    CASE WHEN len(t) < 2 THEN []
       |      ELSE list_transform(generate_series(1, len(t) - 1),
       |        i -> concat_ws(' ', t[i], t[i+1])) END)) AS f
       |  FROM toks),
       |pbraw AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(sha256('dsir:' || f), 1, 8))
       |      ::UBIGINT % 64 AS BIGINT) AS bucket,
       |    CAST(count(*) AS DOUBLE) AS c
       |  FROM feats GROUP BY 1, 2),
       |pb AS MATERIALIZED (
       |  SELECT p.doc_id, p.bucket, p.c / m.m AS cnt
       |  FROM pbraw p JOIN (SELECT doc_id, sum(c) AS m FROM pbraw
       |    GROUP BY doc_id) m USING (doc_id)),
       |lab AS MATERIALIZED (
       |  SELECT doc_id, y FROM staged WHERE doc_id % 10 <= 1),
       |xd AS MATERIALIZED (
       |  SELECT lab.doc_id, lab.y, $xTerms AS x
       |  FROM lab LEFT JOIN pb USING (doc_id)
       |  GROUP BY lab.doc_id, lab.y),
       |nn0 AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lab),
       |gd AS (
       |  SELECT 0 AS it, $zeros AS w, CAST(0.0 AS DOUBLE) AS b
       |  UNION ALL
       |  SELECT g.it + 1, $wTerms,
       |    g.b - 64.0 / 64 * sum($rExpr) / nn.n
       |  FROM gd g CROSS JOIN xd d CROSS JOIN nn0 nn
       |  WHERE g.it < 40
       |  GROUP BY g.it, g.w, g.b, nn.n),
       |wfin AS (SELECT w, b FROM gd WHERE it = 40),
       |score AS (
       |  SELECT pb.doc_id, sum(pb.cnt * wf.w[pb.bucket + 1]) AS s
       |  FROM pb CROSS JOIN wfin wf GROUP BY pb.doc_id),
       |outp AS (
       |  SELECT staged.doc_id,
       |    round(1.0 / (1.0 + exp(-(coalesce(score.s, 0.0) +
       |      (SELECT b FROM wfin)))), 6) AS quality_prob
       |  FROM staged LEFT JOIN score USING (doc_id))""".stripMargin
  }
}

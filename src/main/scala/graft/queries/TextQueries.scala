package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Rake, TextAnalysis, TextRank}
import graft.sources.Sources

import Fixtures._
import OracleSql._
import Oracle._

/** Text analytics: content sniffing, sentence splitting, cleaning,
  * keywords, topics, collocations and corpus summaries. */
object TextQueries {
  val defs: Seq[QueryDef] = Seq(
    // ---- S9: content sniffing over synthesized heads ----
    // Each doc's text is prefixed by a format marker chosen by doc_id,
    // exercising every branch of the detector (json/xml/yaml heads,
    // code markers, scanned-pdf, plain prose); the oracle mirrors the
    // same regex counts over the same prefixed head.
    QueryDef("sniff_detect", (s, dir) => {
      val prefix = element_at(array(
        lit(""),
        lit("{\"k\": 1}\n"),
        lit("<?xml version=\"1.0\"?>\n"),
        lit("---\nkey: value\n"),
        lit("import os\ndef f():\n    pass\nclass A:\n    pass\n"),
        lit("%PDF-1.4\n\u0001\u0002\u0003\n")),
        (col("doc_id") % 6 + 1).cast("int"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          Sources.sniff(concat(prefix, col("text")).cast("binary"))
            .as("detected"))
        .select(col("doc_id"), col("detected.is_code"),
          col("detected.is_scanned_pdf"), col("detected.is_structured_data"),
          col("detected.structured_format"))
        .orderBy("doc_id")
    }, Sql(
      """WITH f AS (
        |  SELECT doc_id,
        |    (['', '{"k": 1}' || chr(10),
        |      '<?xml version="1.0"?>' || chr(10),
        |      '---' || chr(10) || 'key: value' || chr(10),
        |      'import os' || chr(10) || 'def f():' || chr(10) ||
        |        '    pass' || chr(10) || 'class A:' || chr(10) ||
        |        '    pass' || chr(10),
        |      '%PDF-1.4' || chr(10) || chr(1) || chr(2) || chr(3) ||
        |        chr(10)])[CAST(doc_id % 6 + 1 AS INT)] || text AS c
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, substring(c, 1, 4096) AS head,
        |    ltrim(substring(c, 1, 4096), ' ') AS trimmed
        |  FROM f)
        |SELECT doc_id,
        |  (len(regexp_extract_all(head,
        |      '(?m)^\s*(def |class |import |function |const |var |public |private )')) >= 2
        |    OR len(regexp_extract_all(head, '(?m)[;{}]\s*$')) >= 3)
        |    AS is_code,
        |  (starts_with(head, '%PDF') AND
        |    len(regexp_extract_all(head, '[A-Za-z]{4,}')) < 10)
        |    AS is_scanned_pdf,
        |  (starts_with(trimmed, '{') OR starts_with(trimmed, '[')
        |    OR starts_with(trimmed, '<?xml')
        |    OR starts_with(trimmed, '<!DOCTYPE')
        |    OR starts_with(trimmed, '---' || chr(10)))
        |    AS is_structured_data,
        |  CASE WHEN starts_with(trimmed, '{') OR starts_with(trimmed, '[')
        |      THEN 'json'
        |    WHEN starts_with(trimmed, '<?xml')
        |      OR starts_with(trimmed, '<!DOCTYPE') THEN 'xml'
        |    WHEN starts_with(trimmed, '---' || chr(10)) THEN 'yaml'
        |    ELSE NULL END AS structured_format
        |FROM h ORDER BY doc_id""".stripMargin)),

    // ---- F7: sentence split with offsets ----
    // The synthetic corpus has no sentence punctuation, so terminators
    // are injected in-plan (identically in the oracle) — every doc then
    // splits into many sentences with offsets worth checking.
    QueryDef("sentence_split", (s, dir) => {
      val splitU = udf((text: String) => TextFunctions.splitSentences(text))
      val noisy = regexp_replace(regexp_replace(col("text"),
        " (table|row|join) ", ". "), " (fast|slow) ", "!  ")
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(splitU(noisy))
          .as(Seq("pos", "s")))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
          col("s.text").as("sentence"),
          col("s.start").cast("long").as("start"),
          col("s.end").cast("long").as("end"))
        .orderBy("doc_id", "pos")
    },
    // sentences partition the text contiguously, so offsets are the
    // running sum of the preceding sentence lengths (all-ASCII corpus:
    // char offsets == Spark's UTF-16 offsets)
    Sql(
      """WITH noisy AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text,
        |      ' (table|row|join) ', '. ', 'g'),
        |      ' (fast|slow) ', '!  ', 'g') AS text
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, generate_subscripts(l, 1) AS pos,
        |    unnest(l) AS sentence
        |  FROM (SELECT doc_id,
        |    regexp_extract_all(text, '(?s).*?[.!?]+\s+|(?s).+') AS l
        |    FROM noisy)),
        |o AS (
        |  SELECT doc_id, pos, sentence,
        |    coalesce(sum(length(sentence)) OVER (PARTITION BY doc_id
        |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS start
        |  FROM s)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |    AS INT) AS pos,
        |  sentence, CAST(start AS BIGINT) AS start,
        |  CAST(start + length(sentence) AS BIGINT) AS "end"
        |FROM o WHERE trim(sentence) <> ''
        |ORDER BY doc_id, pos""".stripMargin)),

    // ---- F9: text cleaning (whitespace collapse per line) ----
    // Noise is injected in-plan (doubled spaces, tabs, blank lines) so
    // the cleaner has something to do on the prose corpus.
    QueryDef("text_clean", (s, dir) => {
      val cleanU = udf((text: String) => TextFunctions.cleanText(text))
      val noisy = regexp_replace(regexp_replace(col("text"),
        " a ", "   a\t "), "\\. ", ".\n\n  ")
      t(s, dir, "documents")
        .select(col("doc_id"), cleanU(noisy).as("cleaned"))
        .orderBy("doc_id")
    }, Sql(
      """WITH noisy AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text, ' a ', '   a' || chr(9)
        |      || ' ', 'g'), '\. ', '.' || chr(10) || chr(10) || '  ', 'g')
        |      AS text
        |  FROM documents)
        |SELECT doc_id,
        |  coalesce(list_aggregate(list_filter(list_transform(
        |    string_split(text, chr(10)),
        |    l -> trim(regexp_replace(l, '\s+', ' ', 'g'))),
        |    x -> x <> ''), 'string_agg', chr(10)), '') AS cleaned
        |FROM noisy ORDER BY doc_id""".stripMargin)),

    // ---- corpus summary statistics: EXACT percentiles (Spark's sort-
    //      based percentile aggregate, not approx_percentile) and
    //      moment-exact stddev — the integer sums Σn and Σn² are exact
    //      in BIGINT, so the float math happens once on two scalars in
    //      the final projection, identically on both engines ----
    QueryDef("corpus_summary", (s, dir) => {
      val counts = TextAnalysis.tokenCounts(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("ws_tokens").cast("long").as("n"))
      val mean = col("total_tokens").cast("double") / col("n_docs")
      counts.agg(
          count(lit(1)).as("n_docs"),
          sum("n").as("total_tokens"),
          min("n").as("min_tokens"),
          max("n").as("max_tokens"),
          sum(col("n") * col("n")).as("_ss"),
          percentile(col("n"), lit(0.25)).as("_p25"),
          percentile(col("n"), lit(0.5)).as("_p50"),
          percentile(col("n"), lit(0.75)).as("_p75"),
          percentile(col("n"), lit(0.9)).as("_p90"))
        .select(col("n_docs"), col("total_tokens"), col("min_tokens"),
          col("max_tokens"),
          round(col("_p25"), 6).as("p25"), round(col("_p50"), 6).as("p50"),
          round(col("_p75"), 6).as("p75"), round(col("_p90"), 6).as("p90"),
          round(mean, 6).as("mean_tokens"),
          round(sqrt(col("_ss").cast("double") / col("n_docs") -
            mean * mean), 6).as("std_tokens"))
    },
    // exact percentiles (quantile_cont ≡ Spark's percentile: linear
    // interpolation at p·(n−1)) and moment-derived stddev
    Sql(
      """WITH c AS (
        |  SELECT CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS n
        |  FROM documents)
        |SELECT count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS total_tokens,
        |  min(n)::BIGINT AS min_tokens, max(n)::BIGINT AS max_tokens,
        |  round(quantile_cont(n, 0.25), 6) AS p25,
        |  round(quantile_cont(n, 0.5), 6) AS p50,
        |  round(quantile_cont(n, 0.75), 6) AS p75,
        |  round(quantile_cont(n, 0.9), 6) AS p90,
        |  round(sum(n)::DOUBLE / count(*), 6) AS mean_tokens,
        |  round(sqrt(sum(n * n)::DOUBLE / count(*) -
        |    (sum(n)::DOUBLE / count(*)) * (sum(n)::DOUBLE / count(*))), 6)
        |    AS std_tokens
        |FROM c""".stripMargin)),

    // ---- RAKE keyword extraction (A4) ----
    QueryDef("rake_keywords", (s, dir) => {
      // score is fixed-point (exact integer / 1e6) — no round() needed;
      // see Rake.extract's determinism note. doc_id is cast back to long
      // so the dump's parquet schema matches the oracle's BIGINT (the
      // driver hash compare is typed; VARCHAR '1' != BIGINT 1).
      Rake.extractKeywords(t(s, dir, "documents"), "doc_id", "text", topK = 5)
        .select(col("doc_id").cast("long").as("doc_id"), col("phrase"),
          col("score"), col("rank"))
        .orderBy("doc_id", "rank")
    }, Sql {
      val stopList = Rake.StopWords.toSeq.sorted
        .map(w => "'" + w.replace("'", "''") + "'").mkString(", ")
      s"""WITH sents AS (
         |  SELECT doc_id, s.sidx, s.sent FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      range(len(string_split_regex(text, '[.!?\\n]+'))),
         |      i -> {'sidx': i,
         |            'sent': string_split_regex(text, '[.!?\\n]+')[i+1]})) AS s
         |    FROM documents)),
         |words AS (
         |  SELECT doc_id, sidx, u.idx, u.word,
         |    u.word IN ($stopList) AS is_stop
         |  FROM (
         |    SELECT doc_id, sidx, unnest(list_transform(
         |      range(len(regexp_extract_all(lower(sent),
         |        '\\b[a-zA-Z][a-zA-Z0-9]*(''[a-zA-Z]+)?\\b'))),
         |      i -> {'idx': i,
         |            'word': regexp_extract_all(lower(sent),
         |              '\\b[a-zA-Z][a-zA-Z0-9]*(''[a-zA-Z]+)?\\b')[i+1]})) AS u
         |    FROM sents)),
         |grouped AS (
         |  SELECT doc_id, sidx, idx, word,
         |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id, sidx ORDER BY idx) AS gid,
         |    is_stop
         |  FROM words),
         |phrases AS (
         |  SELECT doc_id, sidx, gid,
         |    string_agg(word, ' ' ORDER BY idx) AS phrase,
         |    count(*) AS nwords
         |  FROM grouped WHERE NOT is_stop
         |  GROUP BY doc_id, sidx, gid
         |  HAVING count(*) <= 4 AND length(string_agg(word, ' ' ORDER BY idx)) >= 3),
         |pwords AS (
         |  SELECT g.doc_id, g.sidx, g.gid, g.word, p.nwords
         |  FROM grouped g JOIN phrases p
         |    ON p.doc_id = g.doc_id AND p.sidx = g.sidx AND p.gid = g.gid
         |  WHERE NOT g.is_stop),
         |wscores AS (
         |  -- fixed-point half-up((deg+freq)*1e6/freq) in exact integer
         |  -- arithmetic, mirroring Rake.extractScaled
         |  SELECT doc_id, word,
         |    ((sum(nwords - 1) + count(*)) * 2000000 + count(*))
         |      // (2 * count(*)) AS wscore
         |  FROM pwords GROUP BY doc_id, word),
         |pscores AS (
         |  SELECT DISTINCT p.doc_id, p.phrase, ps.score FROM phrases p
         |  JOIN (
         |    SELECT pw.doc_id, pw.sidx, pw.gid,
         |      sum(ws.wscore) AS score
         |    FROM pwords pw
         |    JOIN wscores ws ON ws.doc_id = pw.doc_id AND ws.word = pw.word
         |    GROUP BY pw.doc_id, pw.sidx, pw.gid) ps
         |    ON ps.doc_id = p.doc_id AND ps.sidx = p.sidx AND ps.gid = p.gid),
         |ranked AS (
         |  SELECT doc_id, phrase, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, phrase) AS rank
         |  FROM pscores)
         |SELECT doc_id, phrase, CAST(score AS DOUBLE) / 1000000 AS score,
         |  CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY doc_id, rank""".stripMargin
    }),

    // ---- PMI collocations over the adjacent-bigram stream: three
    //      map-side-combinable counts on ONE tokenize pass,
    //      Zipf-bounded marginal joins, minCount pruning BEFORE the
    //      joins, TakeOrdered top-k cut on the 6-dp-rounded score ----
    QueryDef("collocations_pmi", (s, dir) =>
      TextAnalysis.collocations(t(s, dir, "documents"), "text",
          minCount = 5L, topK = 50)
        .orderBy(col("pmi").desc, col("w1"), col("w2")),
    // same bigram stream as lm_perplexity; PMI marginals are the
    // bigram-POSITION counts (c_left/c_right), all from one stream
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH toked AS MATERIALIZED (
         |  SELECT $toks AS t FROM documents),
         |bg AS MATERIALIZED (
         |  SELECT unnest(t[1:len(t)-1]) AS w1,
         |    unnest(t[2:len(t)]) AS w2
         |  FROM toked WHERE len(t) >= 2),
         |pairs AS (SELECT w1, w2, count(*) AS c_bg FROM bg
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |lm AS (SELECT w1, count(*) AS c_w1 FROM bg GROUP BY 1),
         |rm AS (SELECT w2, count(*) AS c_w2 FROM bg GROUP BY 1),
         |nb AS (SELECT count(*) AS n_bg FROM bg)
         |SELECT w1, w2, c_bg,
         |  round(log2(CAST(c_bg AS DOUBLE) * n_bg /
         |    (CAST(c_w1 AS DOUBLE) * c_w2)), 6) AS pmi
         |FROM pairs JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN nb
         |ORDER BY pmi DESC, w1, w2
         |LIMIT 50""".stripMargin
    }),

    // ---- A-priori frequent pairs with lift (document-level
    //      co-occurrence, the set-wise sibling of collocations):
    //      support pruning BEFORE pair generation is the scale
    //      argument — pairs cross only each doc's surviving frequent
    //      items ----
    QueryDef("frequent_pairs", (s, dir) =>
      TextAnalysis.frequentPairs(t(s, dir, "documents"), "doc_id",
        "text", minSupport = 25L, topK = 25),
    // two A-priori passes over the distinct basket relation; lift on
    // counts derived from the same passes
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH baskets AS MATERIALIZED (
         |  SELECT DISTINCT id, tok FROM (
         |    SELECT doc_id AS id, unnest($toks) AS tok
         |    FROM documents)),
         |items AS (
         |  SELECT tok, count(*) AS n_item FROM baskets
         |  GROUP BY tok HAVING count(*) >= 25),
         |fq AS (
         |  SELECT b.id, b.tok, i.n_item
         |  FROM baskets b JOIN items i USING (tok)),
         |pairs AS (
         |  SELECT x.tok AS a, y.tok AS b, count(*) AS n_both,
         |    min(x.n_item) AS n_a, min(y.n_item) AS n_b
         |  FROM fq x JOIN fq y ON x.id = y.id AND x.tok < y.tok
         |  GROUP BY 1, 2 HAVING count(*) >= 25),
         |nd AS (SELECT count(DISTINCT id) AS n_docs FROM baskets)
         |SELECT a, b, n_both,
         |  round(CAST(n_docs AS DOUBLE) * n_both /
         |    (CAST(n_a AS DOUBLE) * n_b), 6) AS lift
         |FROM pairs CROSS JOIN nd
         |ORDER BY lift DESC, a, b
         |LIMIT 25""".stripMargin
    }),

    // ---- TextRank corpus keywords: PageRank power iteration over
    //      the word-adjacency graph — the iterative-graph tier (RDD
    //      loop, edges hash-partitioned once, co-located join per
    //      iteration, sorted-fold bit-stable sums); the cut rides the
    //      bounded TopK aggregator on scores rounded BEFORE it ----
    QueryDef("textrank_keywords", (s, dir) =>
      TextRank.keywords(t(s, dir, "documents"), "text", minCount = 2L,
        iterations = 8, topK = 40),
    // replays the whole power iteration in chained MATERIALIZED CTEs
    // (the quality_classifier / bpe_train discipline); (1.0 - 0.85)
    // is spelled as the same double expression Spark evaluates, and
    // scores round to 6 dp before the rank cut. Cross-engine float
    // drift is summation-order only (~1e-15 relative) — far below the
    // rounding granularity.
    Sql {
      val toks = sqlToks("text")
      val iters = (1 to 8).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT e.v AS tok, (1.0 - 0.85) + 0.85 * sum(e.frac * r.s)
           |    AS s
           |  FROM e JOIN r${i - 1} r ON r.tok = e.u GROUP BY e.v)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH toked AS MATERIALIZED (
         |  SELECT $toks AS t FROM documents),
         |bg AS MATERIALIZED (
         |  SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
         |  FROM toked WHERE len(t) >= 2),
         |und AS MATERIALIZED (
         |  SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
         |    count(*) AS w
         |  FROM bg WHERE w1 <> w2 GROUP BY 1, 2 HAVING count(*) >= 2),
         |dirx AS MATERIALIZED (
         |  SELECT a AS u, b AS v, w FROM und
         |  UNION ALL SELECT b AS u, a AS v, w FROM und),
         |deg AS MATERIALIZED (
         |  SELECT u, CAST(sum(w) AS BIGINT) AS du FROM dirx GROUP BY 1),
         |e AS MATERIALIZED (
         |  SELECT d.u, d.v, CAST(d.w AS DOUBLE) / deg.du AS frac
         |  FROM dirx d JOIN deg ON deg.u = d.u),
         |r0 AS MATERIALIZED (SELECT u AS tok, 1.0 AS s FROM deg),
         |$iters
         |SELECT CAST(row_number() OVER (ORDER BY round(s, 6) DESC, tok)
         |    AS INT) AS rank,
         |  tok AS token, round(s, 6) AS score
         |FROM r8
         |ORDER BY rank
         |LIMIT 40""".stripMargin
    }),

    // ---- distinctive vocabulary per source: PMI of token|source vs
    //      the corpus, minCount floor, bounded TopK cut per source
    //      (one tokenize pass; marginals derive from the count
    //      relation — the collocations discipline) ----
    QueryDef("source_terms", (s, dir) =>
      TextAnalysis.distinctiveTerms(t(s, dir, "documents"), "source",
          "text", minCount = 5L, topK = 5)
        .orderBy("group", "rank"),
    // PMI(token|source / token) with the same derived-marginal counts;
    // the cut replays as a per-source rank on (score desc, token)
    Sql {
      val toks = sqlToksKeepStop("text")
      s"""WITH gt AS MATERIALIZED (
         |  SELECT source AS grp, unnest($toks) AS tok FROM documents),
         |cnt AS MATERIALIZED (
         |  SELECT grp, tok, count(*) AS n FROM gt GROUP BY 1, 2),
         |tokm AS (SELECT tok, sum(n) AS c_tok FROM cnt GROUP BY 1),
         |grpm AS (SELECT grp, sum(n) AS t_grp FROM cnt GROUP BY 1),
         |tot AS (SELECT sum(n) AS t_all FROM cnt),
         |scored AS (
         |  SELECT grp, tok, n,
         |    round(log2(CAST(n AS DOUBLE) * t_all /
         |      (CAST(t_grp AS DOUBLE) * c_tok)), 6) AS score
         |  FROM cnt JOIN tokm USING (tok) JOIN grpm USING (grp)
         |  CROSS JOIN tot
         |  WHERE n >= 5),
         |ranked AS (
         |  SELECT grp, tok, n, score, row_number() OVER (
         |    PARTITION BY grp ORDER BY score DESC, tok) AS rank
         |  FROM scored)
         |SELECT grp AS "group", CAST(rank AS INT) AS rank,
         |  tok AS token, n, score
         |FROM ranked WHERE rank <= 5
         |ORDER BY "group", rank""".stripMargin
    }),

    // ---- c-TF-IDF topic terms per class (Grootendorst 2022,
    //      BERTopic's labeling step) with class = source: the terms
    //      that characterize each source against the rest of the
    //      corpus — the corpus-cartography readout a curation pipeline
    //      runs after any clustering ----
    QueryDef("ctfidf_topics", (s, dir) =>
      TextAnalysis.classTfIdf(t(s, dir, "documents"), "source", "text",
          k = 5)
        .select(col("class").as("source"), col("rank"), col("term"),
          col("tf"), round(col("score"), 6).as("score"))
        .orderBy("source", "rank"),
    // one tokenize pass, class tf + corpus f + the broadcast A, the
    // BERTopic weight tf*ln(1 + A/f), rank window replaying the TopK
    // (score desc, term asc) order
    Sql {
      val toks = sqlToks("text")
      s"""WITH ctf AS MATERIALIZED (
         |  SELECT source AS class, term, count(*) AS tf FROM (
         |    SELECT source, unnest($toks) AS term FROM documents)
         |  GROUP BY 1, 2),
         |cf AS (SELECT term, sum(tf) AS f FROM ctf GROUP BY term),
         |ca AS (SELECT CAST(sum(tf) AS DOUBLE) /
         |  CAST(count(DISTINCT class) AS DOUBLE) AS a FROM ctf),
         |scored AS (
         |  SELECT ctf.class, ctf.term, ctf.tf,
         |    CAST(ctf.tf AS DOUBLE) *
         |      ln(1.0 + ca.a / CAST(cf.f AS DOUBLE)) AS score
         |  FROM ctf JOIN cf USING (term), ca),
         |ranked AS (
         |  SELECT class, term, tf, score,
         |    row_number() OVER (PARTITION BY class
         |      ORDER BY score DESC, term) AS rank
         |  FROM scored)
         |SELECT class AS source, CAST(rank AS INT) AS rank, term,
         |  CAST(tf AS BIGINT) AS tf, round(score, 6) AS score
         |FROM ranked WHERE rank <= 5
         |ORDER BY source, rank""".stripMargin
    })
  )
}

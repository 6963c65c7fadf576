package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{GopherCounts, TextFunctions}

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All pure column arithmetic (codegen'd, pushdown-friendly) — each is a
  * map-only operator with zero shuffles, so it streams at scan speed over
  * 100 TB.
  */
object TextAnalysis {

  /** Tiny per-language function-word lists for the n-gram/stopword
    * language-ID heuristic (public-knowledge function words). */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "es" -> Seq("el", "la", "los", "las", "es", "una", "por", "con", "para", "del"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour", "que", "avec"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "这", "他"))

  /** Per-language marker hit count over the token array. */
  def markerHits(toks: Column, langTokens: Seq[String]): Column = {
    val markers = array(langTokens.map(lit): _*)
    size(filter(toks, t => array_contains(markers, t)))
  }

  /** Language-ID: argmax over marker-hit ratios; "und" (undetermined)
    * when no marker fires. Output columns: predicted_lang, lang_score. */
  def langId(text: Column): (Column, Column) = {
    val toks = TextFunctions.tokensCol(text, removeStopwords = false)
    val n = greatest(size(toks), lit(1)).cast("double")
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      struct((markerHits(toks, ms).cast("double") / n).as("score"),
        lit(lang).as("lang"))
    }
    // array_max on struct(score, lang): max by score, ties → greatest
    // lang string (deterministic)
    val best = array_max(array(scored: _*))
    val lang = when(best.getField("score") > 0.0, best.getField("lang"))
      .otherwise(lit("und"))
    (lang, best.getField("score"))
  }

  /** Mixed-language detection — the curation signal [[langId]] alone
    * misses: a document whose LINES disagree about their language
    * (boilerplate + translated body, code-switched forums). Per
    * non-empty line: the [[langId]] vote; per doc: the majority
    * language (count desc, lang asc on ties) and the fraction of
    * lines voting elsewhere. Map-only line scoring + two bounded
    * aggregations (≤ |langs|+1 rows per doc after the first); docs
    * with no tokenizable line are absent (a vote of nothing is
    * undefined, not unmixed). Output: (id, n_lines, majority_lang,
    * n_majority, mixed_frac). */
  def mixedLanguage(df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
        explode(split(col(textCol), "\n")).as("line"))
      .filter(size(TextFunctions.tokensCol(col("line"),
        removeStopwords = false)) > 0)
    val (lang, _) = langId(col("line"))
    val counts = lines.select(col("id"), lang.as("lang"))
      .groupBy("id", "lang").agg(count(lit(1)).as("c"))
    // majority via struct min on (−count, lang): count desc, lang asc
    counts.groupBy("id")
      .agg(sum("c").as("n_lines"),
        min(struct((-col("c")).as("nc"), col("lang").as("l"))).as("m"))
      .select(col("id"), col("n_lines"),
        col("m.l").as("majority_lang"), (-col("m.nc")).as("n_majority"))
      .withColumn("mixed_frac", round(
        lit(1.0) - col("n_majority").cast("double") / col("n_lines"), 6))
  }

  /** Heuristic quality signals + composite score ∈ [0,1]:
    *  - n_chars, n_tokens, mean token length
    *  - alpha_ratio: fraction of chars that are letters
    *  - punct_ratio: fraction of chars that are .,;:!?
    *  - stopword_ratio: fraction of tokens in the English stopword list
    * score = 0.4·clamp(n_tokens/100) + 0.3·alpha + 0.3·(1 − punct·5 clamped)
    */
  def qualitySignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // materialize the token array once; inlining the tokenizer into
    // every consumer would re-run the regex per reference
    val staged = df.select(col(idCol), col(textCol),
      TextFunctions.tokensCol(col(textCol), removeStopwords = false)
        .as("_toks"))
    qualityFromTokens(staged, idCol, textCol)
  }

  private def qualityFromTokens(df: DataFrame, idCol: String,
                                textCol: String): DataFrame = {
    val text = col(textCol)
    val toksAll = col("_toks")
    val nChars = length(text).cast("double")
    val safeChars = greatest(nChars, lit(1.0))
    val nTokens = size(toksAll).cast("double")
    val sw = array(TextFunctions.EnglishStopwordsSorted.map(lit): _*)
    val nStop = size(filter(toksAll, t => array_contains(sw, t))).cast("double")
    val alpha = (nChars - length(regexp_replace(text, "[A-Za-z]", "")))
      .cast("double") / safeChars
    val punct = (nChars - length(regexp_replace(text, "[.,;:!?]", "")))
      .cast("double") / safeChars
    val meanTokLen = when(nTokens > 0,
      aggregate(toksAll, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTokens)
      .otherwise(lit(0.0))
    val score =
      lit(0.4) * least(nTokens / 100.0, lit(1.0)) +
        lit(0.3) * alpha +
        lit(0.3) * (lit(1.0) - least(punct * 5.0, lit(1.0)))
    df.select(col(idCol).as("id"),
      nChars.cast("long").as("n_chars"),
      nTokens.cast("long").as("n_tokens"),
      round(meanTokLen, 6).as("mean_token_len"),
      round(alpha, 6).as("alpha_ratio"),
      round(punct, 6).as("punct_ratio"),
      round(when(nTokens > 0, nStop / nTokens).otherwise(0.0), 6)
        .as("stopword_ratio"),
      round(score, 6).as("quality_score"))
  }

  /** Whitespace token count + BPE-ish subword count (`~chars/4` lower
    * bound vs regex pieces — the public GPT-2-style pretokenizer regex,
    * simplified to ASCII classes).
    *
    * EXACT cl100k_base counts (the reference's tiktoken at
    * shared/chunking/unified/base.py:21-24) are a DECLARED EXCLUSION in
    * this build: an exact tokenizer needs the cl100k merge-rank
    * vocabulary (~1.7 MB data file shipped with tiktoken/JTokkit), and
    * neither the library nor the vocabulary exists in this zero-egress
    * environment (verified 2026-08-13: no jtokkit/tiktoken/cl100k
    * artifact on the filesystem or in the offline coursier cache).
    * The three approximations here bracket the true count; wiring an
    * exact tokenizer in is a data-file drop + one more column. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val ws = TextFunctions.tokenCountCol(text)
    val bpePieces = size(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+|\\s+"), lit(0)))
    df.select(col(idCol).as("id"),
      ws.as("ws_tokens"),
      bpePieces.as("bpe_pieces"),
      ceil(length(text).cast("double") / 4.0).cast("long").as("char_estimate"))
  }

  /** Document fingerprint: SHA-256 over whitespace-normalized lowercase
    * text — stable under formatting noise; first 16 hex chars kept as a
    * compact join key. */
  def fingerprint(text: Column): Column =
    substring(sha2(
      trim(regexp_replace(lower(text), "\\s+", " ")).cast("binary"), 256), 1, 16)

  final case class RepetitionRow(id: String, n_tokens: Long,
      dup_token_frac: Double, top_bigram_frac: Double,
      dup_trigram_frac: Double)

  /** Gopher-style repetition signals over whitespace tokens (the
    * standard repetitious-text filters of a pre-training pipeline):
    *  - dup_token_frac   = 1 − distinct/total tokens
    *  - top_bigram_frac  = tokens covered by the most frequent bigram
    *  - dup_trigram_frac = 1 − distinct/total trigrams
    * Doc-local and genuinely imperative (sliding windows + counting),
    * so it runs as a typed map like the chunkers — a HOF formulation
    * would re-evaluate the tokenizer per element (O(tokens²)). */
  def repetitionSignals(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ds = df.select(col(idCol).cast("string").as("id"),
        col(textCol).as("text"))
      .as(Encoders.product[Chunking.DocIn])
    ds.map { d =>
      val toks: Seq[String] =
        if (d.text == null) Seq.empty
        else d.text.split("\\s+").toSeq.filter(_.nonEmpty)
      val n = toks.size
      val dupTok =
        if (n == 0) 0.0 else 1.0 - toks.distinct.size.toDouble / n
      val topBi =
        if (n < 2) 0.0
        else {
          val maxCount = toks.sliding(2).toSeq
            .groupBy(identity).values.map(_.size).max
          maxCount * 2.0 / n
        }
      val dupTri =
        if (n < 3) 0.0
        else {
          val tris = toks.sliding(3).toSeq
          1.0 - tris.distinct.size.toDouble / tris.size
        }
      RepetitionRow(d.id, n.toLong, dupTok, topBi, dupTri)
    }(Encoders.product[RepetitionRow]).toDF()
  }

  /** Sequence packing (concatenate-and-chunk): assign every doc its bin
    * and offset under a fixed token `budget`, by cumulative token
    * offset in `idCol` order — the standard pre-training batch layout
    * (a doc whose tokens run past a boundary straddles into the next
    * bin, by design). Output: (id, n_tokens, bin, bin_offset).
    *
    * The cumulative sum is DISTRIBUTED: range-partition by id, collect
    * only the per-partition token totals (one long per partition),
    * broadcast the prefix offsets back, and window strictly WITHIN
    * partitions — no single-partition global window at any scale. The
    * partitioned relation is localCheckpoint'ed so the partition ids
    * seen by the totals job and the window job are identical. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int, partitions: Int = 0): DataFrame =
    packCounts(df.select(col(idCol).as("id"),
        TextFunctions.tokenCountCol(col(textCol)).cast("long")
          .as("n_tokens")),
      budget, partitions)

  /** [[packSequences]] over a precomputed (id, n_tokens) relation —
    * the entry point for packing under EXACT subword counts (feed it
    * [[Bpe.encode]]'s output) or any other externally-derived token
    * accounting. Same distributed prefix-sum shape: range partition by
    * id, per-partition sums collected (bounded by partition count),
    * per-partition window adds the broadcast prefix. */
  def packCounts(counts: DataFrame, budget: Int,
                 partitions: Int = 0): DataFrame = {
    require(budget > 0)
    val nPart = if (partitions > 0) partitions
      else counts.sparkSession.sparkContext.defaultParallelism
    val toks = counts.select(col("id"), col("n_tokens"))
    val parted = toks.repartitionByRange(nPart, col("id"))
      .withColumn("_p", org.apache.spark.sql.functions.spark_partition_id())
      .localCheckpoint()
    val partSums = parted.groupBy("_p").agg(sum("n_tokens").as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val prefix: Map[Int, Long] = {
      var acc = 0L
      partSums.map { case (p, s) => val r = p -> acc; acc += s; r }.toMap
    }
    val prefixLit = typedlit(prefix)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_p").orderBy("id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    parted
      .withColumn("_cum_before",
        coalesce(sum("n_tokens").over(w), lit(0L)) +
          coalesce(element_at(prefixLit, col("_p")), lit(0L)))
      .select(col("id"), col("n_tokens"),
        floor(col("_cum_before") / budget).cast("long").as("bin"),
        (col("_cum_before") % budget).as("bin_offset"))
  }

  /** PII patterns shared by the scrubber and its oracle: plain
    * alternation-free regexes that mean the same thing to Java regex
    * and RE2 (no lookaround, no backrefs). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhonePattern = "\\+[0-9]{1,3}[- ][0-9]{3,4}[- ][0-9]{4,7}"

  /** PII scrubbing — the redaction pass of a training-data pipeline:
    * replace emails, IPv4 addresses, and international phone numbers
    * with fixed placeholder tokens, and report per-category hit counts
    * for audit. Pure map-side column ops (regexp_replace +
    * regexp_extract_all): narrow at any corpus size. Precision
    * follows the public curation norm (e.g. BigScience/ROOTS PII
    * pipeline): favors simple high-recall patterns over RFC-exact
    * ones. */
  def scrubPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    def hits(p: String) = size(regexp_extract_all(text, lit(p), lit(0)))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")
    df.select(col(idCol).as("id"),
      scrubbed.as("scrubbed_text"),
      hits(EmailPattern).as("n_emails"),
      hits(Ipv4Pattern).as("n_ips"),
      hits(PhonePattern).as("n_phones"))
  }

  /** Unigram cross-entropy quality score — the declarative core of the
    * CCNet/RefinedWeb LM-perplexity filter: score each document by the
    * mean -log2 p(token) under the corpus's own unigram distribution
    * (stopwords retained — frequency structure IS the signal). Low
    * bits-per-token ≈ repetitive/common text; high ≈ rare-token noise;
    * curation keeps the middle band. Swap the self-derived unigram
    * relation for a reference-corpus table to mirror CCNet exactly.
    *
    * Plan: one tokenize scan → term-count aggregation (map-side
    * combined, the only corpus-wide shuffle) → broadcast-or-shuffle
    * join back to the token stream → per-doc aggregation. The total
    * token count folds out of the term counts with a union-aggregate
    * (no 1-row crossJoin inside a broadcast — see Bm25.buildIndex).
    * Docs with zero tokens produce no row. */
  def unigramLogProbs(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextFunctions.tokensCol(col(textCol),
        removeStopwords = false)).as("term"))
    val termCounts = toks.groupBy("term").agg(count(lit(1)).as("n_t"))
    val total = broadcast(termCounts
      .agg(coalesce(sum("n_t"), lit(0L)).as("n_total")))
    val probs = termCounts.crossJoin(total)
      .select(col("term"),
        (col("n_t").cast("double") / col("n_total").cast("double")).as("p"))
    toks.join(probs, "term")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(-log2(col("p"))).as("bits_per_token"))
  }

  /** Bigram-LM perplexity scoring — the CCNet-style quality signal
    * ("Wikipedia-like" text scores low, gibberish high), with the LM
    * TRAINED IN-ENGINE on `lmCorpus` (typically a trusted/high-quality
    * slice; self-scoring when it is the scored corpus itself) instead
    * of an external KenLM binary. Add-k-smoothed conditional:
    * p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V), where c(w1) counts w1
    * as a bigram PREFIX (so Σ_w2 p(w2|w1) = 1) and V is the LM
    * corpus's distinct-token count. Per scored doc:
    * bits_per_bigram = −Σ log2 p / n_bigrams, perplexity =
    * 2^bits_per_bigram. Docs with <2 tokens carry n_bigrams = 0 and
    * NULL scores (no evidence ≠ good text).
    *
    * Scale: counts relations are vocabulary-/bigram-type-bounded
    * (Zipf-bounded, never corpus-row-bounded); scoring is two
    * equi-joins on the bigram stream plus one per-doc aggregation —
    * all map-side-combinable. Unseen prefixes score with c = 0 (the
    * smoothing floor), so scoring a corpus disjoint from the LM slice
    * stays total. */
  def lmPerplexity(df: DataFrame, idCol: String, textCol: String,
                   lmCorpus: DataFrame, lmTextCol: String,
                   addK: Double = 0.5): DataFrame = {
    require(addK > 0.0, s"add-k smoothing needs k > 0: $addK")
    def bigrams(src: DataFrame, idC: Option[String], textC: String) = {
      val toked = src.select(
        (idC.map(c => col(c).as("id")).toSeq :+
          TextFunctions.tokensCol(col(textC),
            removeStopwords = false).as("_t")): _*)
      val keep = idC.map(_ => col("id")).toSeq
      toked.filter(size(col("_t")) >= 2)
        .select((keep :+
          explode(sequence(lit(1), size(col("_t")) - 1)).as("_i") :+
          col("_t")): _*)
        .select((keep :+ element_at(col("_t"), col("_i")).as("w1") :+
          element_at(col("_t"), col("_i") + 1).as("w2")): _*)
    }
    val lmBg = bigrams(lmCorpus, None, lmTextCol)
    val bgCounts = lmBg.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))
    val prefixCounts = lmBg.groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val vocab = broadcast(lmCorpus.select(
        explode(TextFunctions.tokensCol(col(lmTextCol),
          removeStopwords = false)).as("t"))
      .agg(countDistinct("t").as("v_size")))
    val scored = bigrams(df, Some(idCol), textCol)
      .join(bgCounts, Seq("w1", "w2"), "left")
      .join(prefixCounts, Seq("w1"), "left")
      .na.fill(0L, Seq("c_bg", "c_w1"))
      .crossJoin(vocab)
      .withColumn("logp", log2(
        (col("c_bg").cast("double") + lit(addK)) /
          (col("c_w1").cast("double") + lit(addK) * col("v_size"))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum("logp") / count(lit(1))).as("bits_per_bigram"))
    // short docs (<2 tokens) re-enter with NULL scores
    df.select(col(idCol).as("id")).distinct()
      .join(scored, Seq("id"), "left")
      .na.fill(0L, Seq("n_bigrams"))
      .withColumn("perplexity", pow(lit(2.0), col("bits_per_bigram")))
  }

  /** Corpus-level collocation mining by pointwise mutual information —
    * the classic "which word pairs co-occur far more than chance"
    * signal (Church & Hanks 1990), used to surface multi-word
    * expressions worth protecting from tokenization splits and as a
    * cheap corpus-drift fingerprint. Over the adjacent-bigram stream:
    * PMI(w1,w2) = log2(c_bg · N / (c_left(w1) · c_right(w2))) with
    * c_left/c_right the bigram-position marginals (both derived from
    * the SAME stream as c_bg, so the three counts live on one
    * tokenize pass and the identity sum(c_left) = sum(c_right) = N
    * holds by construction).
    *
    * Scale shape: the corpus-sized bigram stream is exploded and
    * shuffled ONCE — into the distinct-pair count relation `bgc` —
    * and the marginals (c_left, c_right) and the total all DERIVE
    * from `bgc` by re-aggregation (sum of c_bg grouped by w1 / w2 ≡
    * counting the stream, but over the Zipf-bounded pair relation
    * instead of corpus rows); `minCount` prunes the tail BEFORE the
    * joins; the final top-k is a TakeOrdered limit, never a global
    * single-partition sort. PMI is rounded to 6 dp at the final
    * projection and ties break on (w1, w2), so the top-k cut is
    * engine-replayable. */
  def collocations(df: DataFrame, textCol: String,
                   minCount: Long = 5L, topK: Int = 100): DataFrame = {
    require(minCount >= 1L && topK >= 1, s"bad spec: $minCount/$topK")
    val toked = df.select(TextFunctions.tokensCol(col(textCol),
        removeStopwords = false).as("_t"))
      .filter(size(col("_t")) >= 2)
    val bg = toked
      .select(explode(sequence(lit(1), size(col("_t")) - 1)).as("_i"),
        col("_t"))
      .select(element_at(col("_t"), col("_i")).as("w1"),
        element_at(col("_t"), col("_i") + 1).as("w2"))
    // the ONE corpus-rows aggregation; everything below re-aggregates
    // this bounded relation (localCheckpoint pins it for its four
    // consumers — AQE's stage cache can miss canonically-identical
    // exchanges, the Bm25 buildIndex(pinStats) lesson)
    val bgc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))
      .localCheckpoint()
    val pairs = bgc.filter(col("c_bg") >= minCount)
    val leftM = bgc.groupBy("w1").agg(sum("c_bg").as("c_w1"))
    val rightM = bgc.groupBy("w2").agg(sum("c_bg").as("c_w2"))
    val totals = broadcast(bgc.agg(sum("c_bg").as("n_bg")))
    pairs.join(leftM, "w1").join(rightM, "w2")
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("c_bg"),
        round(log2(col("c_bg").cast("double") * col("n_bg") /
          (col("c_w1").cast("double") * col("c_w2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Distinctive vocabulary per group — for each (group, token), the
    * pointwise mutual information log2(p(token|group) / p(token)):
    * which terms characterize a source/domain against the corpus (the
    * corpus-analysis dual of [[collocations]], with the same count
    * discipline). `minCount` floors the per-group token count (rare
    * terms have unstable PMI); the per-group top-k cut rides the
    * bounded map-side [[TopK]] aggregator — never a whole-group rank
    * window. Scale shape: ONE tokenize pass shuffled into the
    * (group, token) count relation; both marginals derive from it by
    * re-aggregation; score rounded to 6 dp before the cut with token
    * ties ascending, so the cut is engine-replayable.
    * Output: (group, rank, token, n, score). */
  def distinctiveTerms(df: DataFrame, groupCol: String, textCol: String,
                       minCount: Long = 5L, topK: Int = 10): DataFrame = {
    require(minCount >= 1L && topK >= 1, s"bad spec: $minCount/$topK")
    val gt = df.select(col(groupCol).as("g"),
        explode(TextFunctions.tokensCol(col(textCol),
          removeStopwords = false)).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("n"))
      .localCheckpoint() // four consumers — the collocations pin
    val tokM = gt.groupBy("tok").agg(sum("n").as("c_tok"))
    val grpM = gt.groupBy("g").agg(sum("n").as("t_grp"))
    val totals = broadcast(gt.agg(sum("n").as("t_all")))
    val scored = gt.filter(col("n") >= minCount)
      .join(tokM, "tok").join(grpM, "g")
      .crossJoin(totals)
      .select(col("g"), col("tok"), col("n"),
        round(log2(col("n").cast("double") * col("t_all") /
          (col("t_grp").cast("double") * col("c_tok"))), 6).as("score"))
    val cut = TopK.perGroup(
        scored.select(col("g"), col("tok").as("doc_id"),
          col("tok").as("chunk_id"), col("score")),
        "g", topK)
      .select(col("g").as("group"), col("rank"),
        col("doc_id").as("token"), col("score"))
    // recover the count by joining the BOUNDED cut (groups × k) back
    // as the broadcast side
    gt.select(col("g").as("group"), col("tok").as("token"), col("n"))
      .join(broadcast(cut), Seq("group", "token"))
      .select("group", "rank", "token", "n", "score")
  }

  /** A-priori frequent token pairs with lift (Agrawal 1994's first
    * two passes, the market-basket classic on the doc×token basket
    * relation) — DOCUMENT-level co-occurrence, the set-wise sibling of
    * the adjacency-based [[collocations]]: which terms live in the
    * same documents far more often than independence predicts.
    *
    * Scale shape (the A-priori pruning IS the scale argument): pass 1
    * counts item document-frequency and keeps only items with support
    * >= minSupport (one groupBy over the distinct (doc, token)
    * relation); pass 2 generates candidate pairs ONLY among each
    * doc's surviving frequent items (a per-doc local cross of the
    * FILTERED set — bounded by the frequent-vocabulary density per
    * doc, the knob minSupport controls), then one pair groupBy with
    * the same support floor. Lift = N·n_ab / (n_a·n_b) on counts
    * derived from the two passes; 6-dp round + (a, b) ties before the
    * bounded TakeOrdered cut. */
  def frequentPairs(df: DataFrame, idCol: String, textCol: String,
                    minSupport: Long = 5L, topK: Int = 25): DataFrame = {
    require(minSupport >= 1L && topK >= 1,
      s"bad spec: $minSupport/$topK")
    val baskets = df.select(col(idCol).as("id"),
        explode(TextFunctions.tokensCol(col(textCol),
          removeStopwords = false)).as("tok"))
      .distinct()
      // three consumers (item counts, pairs, N); the caller owns the
      // checkpoint's session-scoped lifetime (the Sampling note)
      .localCheckpoint()
    val items = baskets.groupBy("tok")
      .agg(count(lit(1)).as("n_item"))
      .filter(col("n_item") >= minSupport)
    val frequent = baskets.join(broadcast(items), "tok")
    val pairs = frequent.as("x")
      .join(frequent.as("y"),
        col("x.id") === col("y.id") && col("x.tok") < col("y.tok"))
      .groupBy(col("x.tok").as("a"), col("y.tok").as("b"))
      .agg(count(lit(1)).as("n_both"),
        first(col("x.n_item")).as("n_a"),
        first(col("y.n_item")).as("n_b"))
      .filter(col("n_both") >= minSupport)
    val nDocs = broadcast(baskets.select("id").distinct()
      .agg(count(lit(1)).as("n_docs")))
    pairs.crossJoin(nDocs)
      .select(col("a"), col("b"), col("n_both"),
        round(col("n_docs").cast("double") * col("n_both") /
          (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Deterministic stratified sampling — the domain-mixture weighting
    * step of a training-data pipeline (e.g. upweight code, downsample
    * crawl): keep a row iff its sha-derived uniform u(id) < rate of
    * its group. Pure column arithmetic: reproducible across runs,
    * engines, and partitionings, and a different salt draws an
    * independent sample. Groups absent from `rates` default to 0.0
    * (dropped) unless `defaultRate` says otherwise. */
  def stratifiedSample(df: DataFrame, idCol: String, groupCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0,
                       salt: String = "mix"): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0),
      "sampling rates must be in [0, 1]")
    val u = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.HexSliceToLong(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(sha2(
          concat(lit(s"$salt:"), col(idCol).cast("string")).cast("binary"),
          256)), 0)).cast("double") / lit(4294967296.0)
    // rates sorted by group for a deterministic when-chain
    val rate = rates.toSeq.sortBy(_._1).foldRight(lit(defaultRate): Column) {
      case ((g, r), rest) => when(col(groupCol) === g, lit(r)).otherwise(rest)
    }
    df.filter(u < rate)
  }

  /** Token-count histogram: fixed-width buckets over the corpus's
    * whitespace token counts (A8 semantics) — the shape check run
    * before/after every curation step. One map-side-combined
    * aggregation. */
  def tokenHistogram(df: DataFrame, textCol: String,
                     bucketWidth: Int = 50): DataFrame =
    df.select(floor(TextFunctions.tokenCountCol(col(textCol))
        .cast("double") / bucketWidth).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
      .select((col("bucket") * bucketWidth).as("bucket_lo"),
        ((col("bucket") + 1) * bucketWidth).as("bucket_hi"),
        col("n_docs"))

  /** Distribution-drift monitor between two corpus snapshots —
    * population stability index over a bucketed numeric signal (the
    * standard "did my crawl's length/quality profile shift" alarm;
    * PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 action). Buckets are
    * FIXED-width (engine-replayable; quantile buckets would make the
    * metric depend on a reference sort), shares are Laplace-smoothed
    * by `eps` so a bucket empty on one side stays finite.
    *
    * Scale shape: two map-side-combinable bucket counts (each one
    * aggregation over its snapshot), a bucket-keyed outer join on a
    * bucket-count-sized relation, one scalar fold. Output: per-bucket
    * contributions plus the bucket ordering for inspection; the PSI
    * total is `sum(psi_term)` over the result. */
  def driftPsi(base: DataFrame, current: DataFrame, valueCol: String,
               bucketWidth: Double, eps: Double = 1e-6): DataFrame = {
    require(bucketWidth > 0 && eps > 0, s"bad spec: $bucketWidth/$eps")
    def bucketed(df: DataFrame, cnt: String) = df
      .select(floor(col(valueCol).cast("double") / bucketWidth)
        .cast("long").as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy("bucket").agg(count(lit(1)).as(cnt))
    val b = bucketed(base, "n_base")
    val c = bucketed(current, "n_cur")
    val joined = b.join(c, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
    // totals ride a tiny cross join (bucket-count-sized relation)
    val totals = broadcast(joined.agg(
      sum("n_base").as("t_base"), sum("n_cur").as("t_cur")))
    // an EMPTY snapshot has total 0 — its every share is the eps
    // floor (finite PSI, maximal drift) instead of an ANSI
    // divide-by-zero
    def share(n: String, t: String) =
      when(col(t) === 0L, lit(0.0))
        .otherwise(col(n).cast("double") / col(t)) + eps
    joined.crossJoin(totals)
      .select(col("bucket"), col("n_base"), col("n_cur"),
        share("n_base", "t_base").as("p"),
        share("n_cur", "t_cur").as("q"))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        round((col("q") - col("p")) * log(col("q") / col("p")), 6)
          .as("psi_term"))
      .orderBy("bucket")
  }

  /** Deterministic hash split (train/val/test): bucket = sha-derived
    * uniform value in [0, 1); split i covers the cumulative weight
    * interval. Pure column arithmetic — reproducible across runs,
    * engines, and partitionings (and expressible in the DuckDB
    * oracle, unlike xxhash64). */
  def hashSplit(df: DataFrame, idCol: String,
                weights: Seq[(String, Double)], salt: String = "split")
      : DataFrame = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    // HexSliceToLong ≡ conv(substring(hex,1,8),16,10)::long (the form
    // the DuckDB oracle uses), minus conv's radix string machinery
    val u = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.HexSliceToLong(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(sha2(
          concat(lit(s"$salt:"), col(idCol).cast("string")).cast("binary"),
          256)), 0)).cast("double") / lit(4294967296.0)
    val cum = weights.scanLeft(0.0)(_ + _._2).tail
    val split = weights.zip(cum).foldRight(lit(weights.last._1)) {
      case (((name, _), upper), rest) =>
        when(u < upper, lit(name)).otherwise(rest)
    }
    df.withColumn("split", split)
  }

  /** The DSIR feature list per document: unigrams ++ bigrams over the
    * keep-stopwords tokenizer, bag semantics (NOT distinct). Doc-local
    * imperative work, so it runs in plain Scala inside typed
    * mapPartitions like the chunkers/repetition signals — the
    * declarative twin (transform/slice/array_join over the token
    * array) ran its lambdas interpreted and was measured ~10x slower
    * than this path over the sf0.1 corpus. Tokenizer parity with the
    * codegen'd Tokenize expression is pinned by ExpressionParitySpec. */
  private[operators] def dsirFeaturesLocal(text: String): Seq[String] = {
    val toks = TextFunctions.tokenize(text, removeStopwords = false)
    if (toks.size < 2) toks
    else toks ++ toks.iterator.sliding(2).withPartial(false)
      .map(_.mkString(" "))
  }

  /** Bucket of one feature value: first 8 hex digits (= top 4 bytes,
    * unsigned) of sha256("dsir:" || feature) mod `buckets` — the same
    * oracle-expressible hash family hashSplit uses. */
  private[operators] def dsirBucketLocal(
      md: java.security.MessageDigest, f: String, buckets: Int): Int = {
    md.reset()
    val d = md.digest(("dsir:" + f)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % buckets).toInt
  }

  /** Hashed feature occurrences as rows: (id STRING, bucket). Used by
    * the fit passes; scoring never explodes (see dsirScore). */
  def dsirFeatureBuckets(df: DataFrame, idCol: String, textCol: String,
                         buckets: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    df.select(col(idCol).cast("string").as("id"), col(textCol).as("text"))
      .as(Encoders.product[Chunking.DocIn])
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.flatMap(d => dsirFeaturesLocal(d.text)
          .map(f => (d.id, dsirBucketLocal(md, f, buckets).toLong)))
      }(Encoders.product[(String, Long)])
      .toDF("id", "bucket")
  }

  /** A fitted hashed-feature logistic-regression quality classifier
    * (the GPT-3 Appendix A / LLaMA "looks like the reference corpus"
    * filter, with hashed n-grams standing in for fasttext features). */
  case class QualityClassifier(buckets: Int, weights: Array[Double],
                               bias: Double)

  /** Fit the quality classifier by full-batch gradient descent over a
    * LABELED SAMPLE (positives = reference-corpus docs, negatives =
    * crawl docs): ONE distributed aggregation collects the per-(doc,
    * bucket) counts — bounded because the sample is, like the UMAP/
    * t-SNE fits — and the GD loop then runs driver-side where
    * iterations are free. Deterministic: no randomness, fixed
    * iteration count, weights start at zero, summation order pinned
    * (sorted by doc, bucket), so the fit is bit-stable across
    * partitionings. */
  def qualityClassifierFit(labeled: DataFrame, idCol: String,
                           textCol: String, labelCol: String,
                           buckets: Int = 64, iters: Int = 40,
                           eta: Double = 64.0,
                           maxFitDocs: Long = 100000L): QualityClassifier = {
    // the fit collects the labeled SAMPLE on the driver (the
    // Projection.sampleLimit idiom) — a corpus-scale frame here is a
    // caller error that must fail loudly, not OOM the driver silently.
    // limit+1 bounds the guard's own work: the check never scans more
    // than maxFitDocs+1 rows, even when handed a corpus-scale frame
    val probed = labeled.limit((maxFitDocs + 1).toInt).count()
    require(probed <= maxFitDocs,
      s"qualityClassifierFit collects the labeled set driver-side: got " +
        s"more than maxFitDocs=$maxFitDocs docs — pass a labeled " +
        s"SAMPLE (or raise maxFitDocs deliberately)")
    // LENGTH-NORMALIZED tf features (the fasttext mean-of-embeddings
    // form): raw occurrence counts make every score ≈ doc_len × mean
    // weight, so any length imbalance between the classes swamps the
    // per-bucket signal and the sigmoid saturates. The normalization
    // (c / Σc per doc) happens on the driver — a relational self-join
    // for the per-doc totals would re-evaluate the tokenize+sha
    // feature explode on both join sides.
    val feats: Map[String, Array[(Int, Double)]] =
      dsirFeatureBuckets(labeled, idCol, textCol, buckets)
        .groupBy("id", "bucket").agg(count(lit(1)).cast("double").as("_c"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1).toInt, r.getDouble(2)))
        .groupBy(_._1)
        .map { case (id, rs) =>
          val m = rs.map(_._3).sum
          id -> rs.map(t => (t._2, t._3 / m)).sortBy(_._1)
        }
    val docs = labeled
      .select(col(idCol).cast("string").as("id"),
        col(labelCol).cast("double").as("y"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .sortBy(_._1)
    val n = docs.length.toDouble
    val w = new Array[Double](buckets)
    var b = 0.0
    val empty = Array.empty[(Int, Double)]
    for (_ <- 0 until iters) {
      val g = new Array[Double](buckets)
      var gb = 0.0
      docs.foreach { case (id, y) =>
        val fs = feats.getOrElse(id, empty)
        var s = 0.0
        fs.foreach { case (bk, tf) => s += tf * w(bk) }
        val r = 1.0 / (1.0 + math.exp(-(s + b))) - y
        fs.foreach { case (bk, tf) => g(bk) += tf * r }
        gb += r
      }
      var i = 0
      while (i < buckets) {
        w(i) = w(i) - eta * g(i) / n
        i += 1
      }
      // the bias "feature" is 1 per doc vs the tf features' ~1/buckets
      // mass: a single eta stable for the weights overshoots the bias
      // 64-fold and diverges it — scale the bias step down accordingly
      b = b - eta / buckets * gb / n
    }
    QualityClassifier(buckets, w, b)
  }

  /** Score pass: same typed zero-shuffle map as [[dsirScore]], then
    * the sigmoid over the mean feature weight (the fit's tf
    * normalization). */
  def qualityClassifierScore(df: DataFrame, idCol: String,
                             textCol: String,
                             model: QualityClassifier): DataFrame = {
    import org.apache.spark.sql.Encoders
    val w = model.weights
    val bias = model.bias
    val buckets = model.buckets
    df.select(col(idCol).cast("string").as("id"), col(textCol).as("text"))
      .as(Encoders.product[Chunking.DocIn])
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.map { d =>
          val fs = dsirFeaturesLocal(d.text)
          var s = 0.0
          fs.foreach(f => s += w(dsirBucketLocal(md, f, buckets)))
          val mean = if (fs.nonEmpty) s / fs.size else 0.0
          (d.id, 1.0 / (1.0 + math.exp(-(mean + bias))))
        }
      }(Encoders.product[(String, Double)])
      .toDF("id", "prob")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * fit add-one-smoothed hashed-n-gram distributions over a TARGET
    * corpus sample and the RAW corpus, then score every raw document
    * with the importance log-ratio Σ_f [ln p_target(b(f)) −
    * ln p_raw(b(f))] over its feature occurrences. High weight = looks
    * like the target domain; resample the top slice for training.
    *
    * Scale shape — fit then score, like any estimator. The fit pass is
    * two map-side-combined bucket counts collapsing to `buckets` rows,
    * collected to the driver as literals (k-row collect, the same
    * bounded-fit idiom as the IVF centroids). The score pass is a
    * zero-shuffle typed map (see [[dsirScore]]). Selection is a TakeOrdered top-k plus a broadcast
    * semi-join (see the dsir_select query).
    *
    * Output: (id, n_features, log_weight), one row per raw document
    * (feature-less docs carry 0 / 0.0). */
  /** A fitted DSIR model: per-bucket importance log-ratios. Like the
    * reference's standing indexes, this is a durable fit artifact —
    * fit once per (raw, target) corpus pair, score many times. */
  case class DsirModel(buckets: Int, logRatios: Array[Double])

  /** Fit pass: two map-side-combined bucket counts collapsing to
    * `buckets` rows each, collected to the driver (k-row collect, the
    * same bounded-fit idiom as the IVF centroids). */
  def dsirFit(raw: DataFrame, rawText: String,
              target: DataFrame, targetText: String,
              buckets: Int = 64): DsirModel = {
    val k = buckets.toDouble
    def counts(df: DataFrame, textCol: String): Array[Long] = {
      val a = new Array[Long](buckets)
      // bucket counts need only the text column — featurize under a
      // synthetic id so the target corpus is NOT required to carry the
      // raw corpus's id column name
      dsirFeatureBuckets(
          df.select(lit("").as("_cid"), col(textCol).as("_ctext")),
          "_cid", "_ctext", buckets)
        .groupBy("bucket").agg(count(lit(1)).as("c")).collect()
        .foreach(r => a(r.getLong(0).toInt) = r.getLong(1))
      a
    }
    val tc = counts(target, targetText)
    val rc = counts(raw, rawText)
    val tt = tc.sum.toDouble
    val rt = rc.sum.toDouble
    DsirModel(buckets, Array.tabulate(buckets)(b =>
      math.log((tc(b) + 1.0) / (tt + k)) -
        math.log((rc(b) + 1.0) / (rt + k))))
  }

  /** Score pass: ONE typed map, zero shuffles — each doc folds its
    * own features against the driver-literal ratio table in plain
    * Scala. Streams at scan speed over any corpus size, deterministic
    * (feature-order summation). Two declarative alternatives were
    * measured and rejected: an aggregate() array fold (~3x slower —
    * higher-order lambdas run interpreted) and explode + literal
    * lookup + re-agg (~8x slower — the bigram transform() dominates,
    * also interpreted). */
  def dsirScore(raw: DataFrame, rawId: String, rawText: String,
                model: DsirModel): DataFrame = {
    import org.apache.spark.sql.Encoders
    val lr = model.logRatios
    val buckets = model.buckets
    raw.select(col(rawId).cast("string").as("id"), col(rawText).as("text"))
      .as(Encoders.product[Chunking.DocIn])
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.map { d =>
          val fs = dsirFeaturesLocal(d.text)
          var s = 0.0
          fs.foreach(f => s += lr(dsirBucketLocal(md, f, buckets)))
          (d.id, fs.size.toLong, s)
        }
      }(Encoders.product[(String, Long, Double)])
      .toDF("id", "n_features", "log_weight")
  }

  /** Fit + score in one call (see [[dsirFit]]/[[dsirScore]]; prefer
    * fitting once and reusing the model when scoring repeatedly). */
  def dsirWeights(raw: DataFrame, rawId: String, rawText: String,
                  target: DataFrame, targetText: String,
                  buckets: Int = 64): DataFrame =
    dsirScore(raw, rawId, rawText,
      dsirFit(raw, rawText, target, targetText, buckets))

  /** C4 line- and page-level cleaning filters (Raffel et al. 2020,
    * "Exploring the Limits of Transfer Learning…", §2.2 — the published
    * rule set behind the C4 corpus). Line level: keep only trimmed
    * nonempty lines that end in a terminal punctuation mark
    * (.  !  ?  "), contain at least `minLineWords` words, and do not
    * mention "javascript". Page level: drop documents containing
    * "lorem ipsum" or a curly brace, or whose retained text has fewer
    * than `minSentences` sentences (terminal-punctuation count). The
    * paper's third-sentence-span dedup is the corpus-level pass —
    * [[graft.operators.Dedup.dedupSpans]]; its bad-words list is a
    * deployment-supplied resource, pluggable as an extra line
    * predicate.
    *
    * Map-only column arithmetic (no shuffle, no UDF) — a scan-speed
    * pass at 100 TB. Output keeps the cleaned text plus per-rule
    * counters and flags. */
  def c4Filters(df: DataFrame, idCol: String, textCol: String,
                minLineWords: Int = 5, minSentences: Int = 3): DataFrame = {
    val staged = df.select(col(idCol).as("id"), col(textCol).as("_text"),
      filter(transform(split(col(textCol), "\n", -1), l => trim(l)),
        l => length(l) > 0).as("_lines"))
    val kept = staged.select(col("id"), col("_text"), col("_lines"),
      filter(col("_lines"), l =>
        substring(l, -1, 1).isin(".", "!", "?", "\"") &&
          size(filter(split(l, "\\s+"), w => length(w) > 0)) >= minLineWords &&
          !lower(l).contains("javascript")).as("_kept"))
    val joined = kept.select(col("id"),
      size(col("_lines")).as("n_lines"),
      size(col("_kept")).as("n_kept_lines"),
      array_join(col("_kept"), "\n").as("text"),
      lower(col("_text")).contains("lorem ipsum").as("has_lorem_ipsum"),
      col("_text").contains("{").as("has_curly_brace"))
    joined
      .withColumn("n_sentences",
        size(regexp_extract_all(col("text"), lit("[.!?]"), lit(0))))
      .withColumn("c4_keep",
        !col("has_lorem_ipsum") && !col("has_curly_brace") &&
          col("n_sentences") >= minSentences)
      .select("id", "n_lines", "n_kept_lines", "n_sentences",
        "has_lorem_ipsum", "has_curly_brace", "c4_keep", "text")
  }

  /** The eight required stop words of the Gopher quality rules. */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-rule document filter (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Appendix A.1.1 — the published heuristic rule set most
    * large-corpus pipelines start from). Per document:
    *
    *  - n_words, mean_word_len — reject if n_words ∉ [minWords, maxWords]
    *    or mean length ∉ [3, 10]
    *  - symbol_ratio: ('#' chars + '...'/'…' occurrences) / words ≤ 0.1
    *  - bullet_line_ratio: lines starting with a bullet ≤ 0.9
    *  - ellipsis_line_ratio: lines ending with an ellipsis ≤ 0.3
    *  - alpha_word_ratio: words containing a letter ≥ 0.8
    *  - stop_hits: distinct hits among [[GopherStopWords]] ≥ 2
    *
    * Map-only — no shuffle, no UDF; at 100 TB this is a pass-through
    * filter at scan speed. The raw counts are one pass of the
    * [[graft.functions.GopherCounts]] kernel per row (which defines
    * words, lines and each count); the ratios, roundings and flags stay
    * column arithmetic. Line ratios use trimmed nonempty lines; a
    * document with no such lines passes both line rules (ratio 0). */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
                    minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    // the nine raw counts come from ONE kernel evaluation per row: the
    // generator keeps it a single call, where a projected struct's
    // fields would each be inlined into the flags below and re-run it
    val counted = df.select(col(idCol).as("id"),
      inline(array(ColumnBridge.column(
        GopherCounts(ColumnBridge.expression(col(textCol)))))))
    def count(name: String) = col(name).cast("double")
    val nWords = count("n_words")
    val safeWords = greatest(nWords, lit(1.0))
    val meanLen = count("word_chars") / safeWords
    val symbolRatio = (count("n_hash") + count("n_ellipsis")) / safeWords
    val safeLines = greatest(count("n_lines"), lit(1.0))
    val bulletRatio = count("n_bullet_lines") / safeLines
    val ellipsisRatio = count("n_ellipsis_lines") / safeLines
    val alphaRatio = count("n_alpha_words") / safeWords
    val stopHits = col("n_stop_hits")
    val passWords = nWords >= minWords && nWords <= maxWords
    val passMeanLen = meanLen >= 3.0 && meanLen <= 10.0
    val passSymbol = symbolRatio <= 0.1
    val passBullet = bulletRatio <= 0.9
    val passEllipsis = ellipsisRatio <= 0.3
    val passAlpha = alphaRatio >= 0.8
    val passStop = stopHits >= 2
    counted.select(col("id"),
      col("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(bulletRatio, 6).as("bullet_line_ratio"),
      round(ellipsisRatio, 6).as("ellipsis_line_ratio"),
      round(alphaRatio, 6).as("alpha_word_ratio"),
      stopHits.as("stop_hits"),
      passWords.as("pass_word_count"),
      passMeanLen.as("pass_mean_word_len"),
      passSymbol.as("pass_symbol_ratio"),
      passBullet.as("pass_bullet_lines"),
      passEllipsis.as("pass_ellipsis_lines"),
      passAlpha.as("pass_alpha_words"),
      passStop.as("pass_stop_words"),
      (passWords && passMeanLen && passSymbol && passBullet &&
        passEllipsis && passAlpha && passStop).as("gopher_pass"))
  }

  /** Corpus-composition diversity over one categorical dimension — the
    * mixture-monitoring statistic a curation pipeline tracks per
    * snapshot (is one source/language quietly taking over?):
    *
    *  - Shannon entropy H = ln N − (Σ n_g ln n_g)/N and its
    *    ln(G)-normalized form in [0, 1],
    *  - Simpson concentration Σ p_g² (the collision probability —
    *    1/G when uniform, →1 under monopoly),
    *  - Gini coefficient over group sizes,
    *    (2 Σ i·n_(i) − (G+1) N) / (G·N) with groups size-ascending.
    *
    * Everything derives from INTEGER sums (Σn, Σn², Σi·n) except the
    * single Σ n ln n term, whose addition-order drift over a
    * |groups|-bounded relation sits ~8 orders below the 6-dp rounding.
    * The only window runs over that same bounded group-count relation
    * — never the corpus. Output: one row
    * (n_groups, entropy, norm_entropy, simpson, gini). */
  def diversity(df: DataFrame, dimCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(dimCol).isNotNull)
      .groupBy(col(dimCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n"))
    // bounded relation: |groups| rows — the single-partition rank is
    // the histogram_equidepth precedent, not a corpus window
    val ranked = counts.withColumn("i",
      row_number().over(Window.orderBy(col("n"), col("g"))))
    val nt = col("nt").cast("double")
    val gc = col("gc").cast("double")
    val h = log(nt) - col("snln") / nt
    ranked.agg(count(lit(1)).as("gc"), sum("n").as("nt"),
        sum(col("n") * col("n")).as("sn2"),
        sum(col("i") * col("n")).as("sin"),
        sum(col("n").cast("double") * log(col("n").cast("double")))
          .as("snln"))
      .select(col("gc").as("n_groups"),
        round(h, 6).as("entropy"),
        round(when(col("gc") > 1L, h / log(gc)).otherwise(lit(0.0)), 6)
          .as("norm_entropy"),
        round(col("sn2").cast("double") / (nt * nt), 6).as("simpson"),
        round((lit(2.0) * col("sin") - (gc + lit(1.0)) * nt) /
          (gc * nt), 6).as("gini"))
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4) with
    * DETERMINISTIC span placement — the denoising-objective prep an
    * LLM training pipeline runs over every document: anchor positions
    * are chosen by a sha-derived hash (H(id:pos) mod `every` == 0 —
    * expected noise density span/every, 15% at the 3/20 default), each
    * anchor masks `span` consecutive tokens, overlapping spans merge
    * into one run, and each contiguous run is replaced by <extra_id_k>
    * in reading order; targets carry sentinel + the masked tokens.
    * Hash-driven sampling instead of RNG sampling is what makes the
    * op REPLAYABLE: any engine (and any re-run over a changed corpus)
    * produces identical spans, which is also the property that makes
    * decontamination and dedup of the corrupted corpus tractable.
    * Operates on the normalized token stream (F1), not raw bytes.
    *
    * Scale shape: one tokenize pass; windows partition by DOCUMENT
    * (bounded by doc length — the chunker convention); one per-doc
    * reassembly aggregation. Output: (id, n_tokens, n_masked,
    * n_spans, noise_frac, inputs_text, targets_text). */
  def spanCorruption(docs: DataFrame, idCol: String, textCol: String,
      every: Int = 20, span: Int = 3): DataFrame = {
    require(every >= 2 && span >= 1 && span < every,
      s"bad corruption spec: $span/$every")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("pos")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val toks = docs.select(col(idCol).as("id"),
      posexplode(TextFunctions.tokensCol(col(textCol),
        removeStopwords = false)).as(Seq("pos", "tok")))
    val anchored = toks.withColumn("anchor",
      Dedup.HashFamily.Sha256Slice(0, concat(col("id").cast("string"), lit(":"),
        col("pos").cast("string"))) % every === 0)
    val masked = anchored.withColumn("masked",
      (0 until span).map(d =>
        if (d == 0) col("anchor")
        else coalesce(lag(col("anchor"), d).over(w), lit(false)))
        .reduce(_ || _))
      .withColumn("run_start", col("masked") &&
        !coalesce(lag(col("masked"), 1).over(w), lit(false)))
      .withColumn("sent_id",
        sum(col("run_start").cast("int")).over(wCum) - 1)
    val sentinel =
      concat(lit("<extra_id_"), col("sent_id").cast("string"), lit(">"))
    val inputPiece = when(col("run_start"), sentinel)
      .when(col("masked"), lit(null).cast("string"))
      .otherwise(col("tok"))
    val targetPiece = when(col("run_start"),
        concat(sentinel, lit(" "), col("tok")))
      .when(col("masked"), col("tok"))
      .otherwise(lit(null).cast("string"))
    masked.groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("masked").cast("long")).as("n_masked"),
        sum(col("run_start").cast("long")).as("n_spans"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(inputPiece.isNotNull,
            struct(col("pos"), inputPiece.as("p"))))),
          x => x.getField("p"))).as("inputs_text"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(targetPiece.isNotNull,
            struct(col("pos"), targetPiece.as("p"))))),
          x => x.getField("p"))).as("targets_text"))
      .withColumn("noise_frac",
        col("n_masked").cast("double") / col("n_tokens").cast("double"))
      .select("id", "n_tokens", "n_masked", "n_spans", "noise_frac",
        "inputs_text", "targets_text")
  }

  /** Class-based TF-IDF topic terms (Grootendorst 2022 — BERTopic's
    * c-TF-IDF): treat each class (a source, a cluster, a language
    * bucket) as ONE pseudo-document and weight
    * W(t,c) = tf(t,c) · ln(1 + A / f(t)), where A is the average token
    * count per class and f(t) the term's corpus-wide frequency — the
    * per-class terms that survive are the ones that characterize the
    * class against the rest of the corpus, i.e. its topic label.
    * Tokens are the stopword-removed BM25 stream (stopwords would
    * dominate raw tf). One tokenize pass, two bounded aggregations
    * (vocab-sized, Zipf-bounded), a broadcast 1-row A; the per-class
    * cut is the bounded [[TopK]] aggregator (score desc, term asc) —
    * no rank window. Output: (class, rank, term, tf, score), top `k`
    * terms per class. */
  def classTfIdf(docs: DataFrame, classCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    val tf = docs.select(col(classCol).cast("string").as("class"),
        explode(TextFunctions.tokensCol(col(textCol))).as("term"))
      .groupBy("class", "term").agg(count(lit(1)).as("tf"))
    val f = tf.groupBy("term").agg(sum("tf").as("__f"))
    val a = broadcast(tf.agg((sum("tf").cast("double") /
      countDistinct("class").cast("double")).as("__a")))
    val scored = tf.join(f, "term").crossJoin(a)
      .select(col("class"), col("term"), col("tf"),
        (col("tf").cast("double") *
          log(lit(1.0) + col("__a") / col("__f").cast("double")))
          .as("score"))
    TopK.perGroup(scored.select(col("class").as("grp"),
        col("tf").cast("string").as("doc_id"), col("term").as("chunk_id"),
        col("score")), "grp", k)
      .select(col("grp").as("class"), col("rank"),
        col("chunk_id").as("term"), col("doc_id").cast("long").as("tf"),
        col("score"))
  }
}

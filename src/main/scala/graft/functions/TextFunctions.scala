package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by BM25, chunking, dedup and language-ID.
  *
  * Semantics follow the reference engine (cited per function); every
  * function here has both a pure-Scala form (for chunkers / unit tests)
  * and a Column form built from codegen'd Spark SQL functions — no Scala
  * UDF sits in a hot path.
  */
object TextFunctions {

  /** 89-word English stopword list.
    * Ref: packages/shared/plugins/builtins/bm25_sparse_indexer.py:59-147 */
  val EnglishStopwords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
    "to", "was", "were", "will", "with", "this", "but", "they", "have",
    "had", "what", "when", "where", "who", "which", "why", "how", "all",
    "each", "every", "both", "few", "more", "most", "other", "some",
    "such", "no", "nor", "not", "only", "own", "same", "so", "than",
    "too", "very", "just", "can", "should", "now", "or", "if", "then",
    "also", "been", "being", "would", "could", "does", "did", "about",
    "into", "over", "after", "before", "between", "under", "again",
    "further", "once", "here", "there", "because", "while")

  /** Sorted, deterministic order — for lit arrays and oracle SQL. */
  val EnglishStopwordsSorted: Seq[String] = EnglishStopwords.toSeq.sorted

  /** Word-with-internal-hyphens token pattern.
    * Ref: bm25_sparse_indexer.py:535 (`\b[\w]+(?:-[\w]+)*\b`). The
    * reference uses Python's unicode \w; the corpus is ASCII, and we pin
    * the ASCII equivalent so Spark (Java regex) and DuckDB (RE2) agree. */
  val TokenPattern = "[a-z0-9_]+(?:-[a-z0-9_]+)*"
  private val TokenRegex = TokenPattern.r

  val MinTokenLength = 2

  /** Pure-Scala tokenizer: lowercase, extract, min-length, stopwords.
    * Ref: bm25_sparse_indexer.py:516-543 */
  def tokenize(text: String, removeStopwords: Boolean = true): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty
    val toks = TokenRegex.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toSeq
      .filter(_.length >= MinTokenLength)
    if (removeStopwords) toks.filterNot(EnglishStopwords) else toks
  }

  /** Column form of [[tokenize]] — the single-pass [[Tokenize]]
    * expression; preserves duplicates and order, nulls propagate.
    * (The declarative `regexp_extract_all` + two higher-order `filter`s
    * formulation evaluates its lambdas interpreted with an
    * O(|stopwords|) `array_contains` per token — measured ~5× slower
    * over the corpus scan.) */
  def tokensCol(text: Column, removeStopwords: Boolean = true): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      Tokenize(org.apache.spark.sql.graftbridge.ColumnBridge.expression(text),
        removeStopwords))

  // -------------------------------------------------------------------
  // Mock embedding — THE deterministic test-mode embedding. Bit-exact
  // with the reference: sha256(text) → eight 4-byte big-endian uints →
  // [-1,1), zero-pad to dim, L2-normalize in double precision.
  // Ref: packages/vecpipe/search/dense_search.py:19-44
  // -------------------------------------------------------------------
  val DefaultDim = 1024

  def mockEmbeddingDouble(text: String, dim: Int = DefaultDim): Array[Double] =
    mockEmbeddingFromUtf8(text.getBytes("UTF-8"), dim)

  /** The single definition of the mock-embedding arithmetic, shared by
    * the String form above and the [[MockEmbed]] Catalyst expression
    * (which hands over UTF8String's raw bytes without a String
    * round-trip) — one place, bit-exact by construction. */
  def mockEmbeddingFromUtf8(utf8: Array[Byte], dim: Int): Array[Double] =
    mockEmbeddingFromUtf8Digest(MessageDigest.getInstance("SHA-256"), utf8, dim)

  /** Digest-supplied variant for per-thread digest reuse in the hot
    * [[MockEmbed]] path (the caller owns reset()). */
  def mockEmbeddingFromUtf8Digest(md: MessageDigest, utf8: Array[Byte],
      dim: Int): Array[Double] = {
    val hash = md.digest(utf8)
    val vals = new Array[Double](dim)
    var i = 0
    var n = 0
    while (i + 4 <= hash.length && n < dim) {
      val u = ((hash(i) & 0xffL) << 24) | ((hash(i + 1) & 0xffL) << 16) |
        ((hash(i + 2) & 0xffL) << 8) | (hash(i + 3) & 0xffL)
      vals(n) = (u.toDouble / 4294967296.0) * 2.0 - 1.0
      i += 4; n += 1
    }
    // dims beyond the 8 hash-derived values stay 0.0 (zero-pad branch)
    var norm = 0.0
    var j = 0
    while (j < dim) { norm += vals(j) * vals(j); j += 1 }
    norm = math.sqrt(norm)
    if (norm > 0) { j = 0; while (j < dim) { vals(j) /= norm; j += 1 } }
    else vals(0) = 1.0
    vals
  }

  def mockEmbedding(text: String, dim: Int = DefaultDim): Array[Float] =
    mockEmbeddingDouble(text, dim).map(_.toFloat)

  /** Column form of the mock embedding — the single [[MockEmbed]]
    * Catalyst expression: ONE sha256 per row, the whole vector
    * produced in one call, tiny generated code that keeps the
    * surrounding stage inside whole-stage codegen. The same arithmetic
    * stays expressible in the DuckDB oracle (sha2 hex → 8 uint32 →
    * scale → normalize). Only the first 8 dims are nonzero (32 hash
    * bytes / 4), matching the reference's zero-pad.
    *
    * (History: the previous formulation composed sha2 + 8
    * HexSliceToLong slices + norm from SQL builtins — correct, but the
    * expression tree inlined the full sha2 subtree into each of the 8
    * components AND the norm with no codegen-time CSE; janino refused
    * the generated method and every embed-bearing stage silently fell
    * back to interpreted execution.) */
  def mockEmbeddingCol(text: Column, dim: Int = DefaultDim): Column = {
    require(dim >= 8, "mock embedding needs dim >= 8")
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      MockEmbed(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), dim))
  }

  // -------------------------------------------------------------------
  // Sentence / cleaning / similarity helpers
  // -------------------------------------------------------------------

  /** Sentence with original char offsets (half-open [start, end)). */
  final case class Sentence(text: String, start: Int, end: Int)

  /** Split on `.!?` runs followed by whitespace, tracking offsets.
    * Ref: shared/chunking/unified/semantic_strategy.py:520-565 */
  def splitSentences(text: String): Seq[Sentence] = {
    if (text == null || text.isEmpty) return Seq.empty
    val breaks = "[.!?]+\\s+".r
    val out = Seq.newBuilder[Sentence]
    var start = 0
    for (m <- breaks.findAllMatchIn(text)) {
      val end = m.end
      val s = text.substring(start, end)
      if (s.trim.nonEmpty) out += Sentence(s, start, end)
      start = end
    }
    if (start < text.length) {
      val s = text.substring(start)
      if (s.trim.nonEmpty) out += Sentence(s, start, text.length)
    }
    out.result()
  }

  /** Collapse whitespace per line, drop empty lines, rejoin.
    * Ref: shared/chunking/unified/base.py:347-371 */
  def cleanText(text: String): String =
    text.split("\n")
      .map(_.trim.replaceAll("\\s+", " "))
      .filter(_.nonEmpty)
      .mkString("\n")

  /** Word-set Jaccard similarity.
    * Ref: shared/chunking/unified/semantic_strategy.py:703-728 */
  def jaccard(a: Seq[String], b: Seq[String]): Double = {
    val (sa, sb) = (a.toSet, b.toSet)
    if (sa.isEmpty && sb.isEmpty) 0.0
    else {
      val union = sa.union(sb).size
      if (union == 0) 0.0 else sa.intersect(sb).size.toDouble / union
    }
  }

  /** Unicode NFC canonicalization — see [[NfcNormalize]]. Run BEFORE
    * content hashing / shingling in multilingual pipelines, or
    * composed and decomposed spellings of the same text defeat every
    * dedup operator. */
  def nfcNormalizeCol(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      NfcNormalize(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** Whitespace token count (declared token-count semantics; the
    * reference's tiktoken cl100k_base has no JVM twin in this build —
    * SURVEY.md §7.4 risk 3 pins word-count semantics instead). */
  def tokenCountCol(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))
}

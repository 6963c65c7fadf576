package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Dedup.HashFamily

/** Single-pass tokenizer as a custom Catalyst expression.
  *
  * Semantics are EXACTLY [[TextFunctions.tokenize]] (lowercase → regex
  * extract → min-length → stopword drop; ref
  * bm25_sparse_indexer.py:516-543), and null text propagates to a null
  * array like the regexp_extract_all formulation it replaces.
  *
  * Why an Expression: the declarative form — `regexp_extract_all` +
  * two higher-order `filter`s with a per-token `array_contains` over
  * the 89-entry stopword list — evaluates the lambdas interpreted and
  * costs O(|stopwords|) per token. Tokenization sits under every BM25
  * index build, dedup shingle, and text-quality scan, i.e. it touches
  * every row of the corpus, so it gets the same treatment as the
  * vector dot product: one tight JVM pass per row (compiled regex,
  * HashSet membership), invoked from whole-stage codegen via a bound
  * reference (one virtual call per row, no lambda dispatch).
  */
case class Tokenize(child: Expression, removeStopwords: Boolean = true)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val pattern: Pattern =
    Pattern.compile(TextFunctions.TokenPattern)
  @transient private lazy val stops: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    TextFunctions.EnglishStopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** One pass over the row's text; called from interpreted eval AND
    * from the generated code (via a reference object). */
  def doTokenize(text: UTF8String): ArrayData = {
    // Locale.ROOT: String.toLowerCase is locale-sensitive (tr_TR turns
    // 'I' into dotless ı) where the `lower()` built-in this replaced is
    // not — pin the locale so results never depend on the host JVM
    val m = pattern.matcher(text.toString.toLowerCase(java.util.Locale.ROOT))
    val out = new java.util.ArrayList[AnyRef]()
    while (m.find()) {
      val t = m.group()
      if (t.length >= TextFunctions.MinTokenLength) {
        val u = UTF8String.fromString(t)
        if (!removeStopwords || !stops.contains(u)) out.add(u)
      }
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    doTokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenizer", this, classOf[Tokenize].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.doTokenize($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Tokenize =
    copy(child = newChild)
}

/** The deterministic mock embedding as ONE Catalyst expression:
  * sha256(utf8 bytes) → eight big-endian uint32 → scale to [-1,1) →
  * L2-normalize → zero-pad to `dim` (bit-exact with
  * [[TextFunctions.mockEmbeddingDouble]] — both call the same
  * [[TextFunctions.mockEmbeddingFromUtf8]]).
  *
  * Why an Expression rather than composed builtins: the declarative
  * form (`sha2` + 8 hex slices + norm) inlines the sha2 subtree into
  * each of the 8 components AND the norm — an O(dim×8) expression tree
  * with no codegen-time CSE — and janino rejects the generated method,
  * silently dropping every embed-bearing stage (search legs,
  * chunk→embed build, knn_text) to interpreted execution. This form is
  * one sha256 and one tight JVM loop per row, invoked from whole-stage
  * codegen via a bound reference, so the surrounding stage keeps its
  * generated pipeline.
  *
  * Ref semantics: packages/vecpipe/search/dense_search.py:19-44. */
case class MockEmbed(child: Expression, dim: Int) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false)

  // MessageDigest is stateful and this expression instance is shared
  // across the executor's task threads via the codegen reference
  // array — one digest per thread, reset per row
  @transient private lazy val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("SHA-256"))

  def embed(text: UTF8String): ArrayData = {
    val md = digests.get()
    md.reset()
    val vals = TextFunctions.mockEmbeddingFromUtf8Digest(md, text.getBytes, dim)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(vals)
  }

  override def nullSafeEval(input: Any): Any =
    embed(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mockEmbed", this, classOf[MockEmbed].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.embed($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MockEmbed =
    copy(child = newChild)
}

/** Unicode NFC normalization as a codegen'd expression — the
  * canonicalization pass a multilingual pipeline runs before hashing /
  * dedup (decomposed "e"+COMBINING ACUTE and composed "é" must hash
  * identically, or the same text dodges every dedup operator). Spark
  * ships no normalize builtin; java.text.Normalizer is the JVM
  * implementation of the same Unicode standard algorithm DuckDB's
  * `nfc_normalize` (utf8proc) implements, which is what makes the
  * oracle replay exact. The `isNormalized` fast path skips the
  * allocation entirely for already-NFC (e.g. pure-ASCII) rows — the
  * overwhelmingly common case in a web corpus. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str,
        java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  override def nullSafeEval(input: Any): Any =
    normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfc", this, classOf[NfcNormalize].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.normalize($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Parse 8 hex chars of a digest string at a fixed offset as an
  * unsigned 32-bit value — bit-identical to
  * `conv(substring(hex, off+1, 8), 16, 10).cast("long")` but without
  * conv's radix-conversion string machinery, which dominated the
  * minhash seed family's CPU (16 parses per shingle). The sha256
  * digest itself stays a shared subexpression across seeds. */
case class HexSliceToLong(child: Expression, offset: Int)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  def parse(s: UTF8String): Long = {
    // UTF8String.getByte is an unchecked raw-memory read: fail loudly
    // on short inputs instead of returning nondeterministic garbage
    if (s.numBytes < offset + 8)
      throw new IllegalArgumentException(
        s"HexSliceToLong: input has ${s.numBytes} bytes, need ${offset + 8}")
    var v = 0L
    var i = offset
    val end = offset + 8
    while (i < end) {
      val c = s.getByte(i)
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else c - 'A' + 10
      v = (v << 4) | d
      i += 1
    }
    v
  }

  override def nullSafeEval(input: Any): Any =
    parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hexSlice", this, classOf[HexSliceToLong].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.parse($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HexSliceToLong =
    copy(child = newChild)
}

/** Token n-grams of a token array — THE n-gram definition every
  * shingle consumer reads ([[graft.operators.Dedup]]'s `gramsOf`):
  * element i is tokens i..i+n-1 joined by one space, so a row of
  * `len` tokens yields `len - n + 1` grams in token order, and a row
  * shorter than `n` yields none. Null tokens are skipped in the join
  * and a null array gives null, both as in the declarative
  * `transform(sequence(0, size - n), i => array_join(slice(toks,
  * i + 1, n), " "))` form it replaces, whose lambda ran interpreted
  * (CodegenFallback) once per gram. */
case class NGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram length must be >= 1: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  def grams(toks: ArrayData): ArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[AnyRef])
    val t = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (!toks.isNullAt(i)) t(i) = toks.getUTF8String(i)
      i += 1
    }
    val out = new Array[AnyRef](len - n + 1)
    i = 0
    while (i < out.length) { out(i) = join(t, i); i += 1 }
    new GenericArrayData(out)
  }

  /** `array_join(t[from, from + n), " ")`: the non-null tokens, one
    * space between each two. */
  private def join(t: Array[UTF8String], from: Int): UTF8String = {
    var bytes = 0
    var parts = 0
    var j = from
    while (j < from + n) {
      if (t(j) != null) { bytes += t(j).numBytes; parts += 1 }
      j += 1
    }
    val buf = new Array[Byte](bytes + math.max(0, parts - 1))
    var pos = 0
    j = from
    while (j < from + n) {
      val s = t(j)
      if (s != null) {
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += s.numBytes
        // bytes left over belong to later tokens and their separators
        if (pos < buf.length) { buf(pos) = ' '; pos += 1 }
      }
      j += 1
    }
    UTF8String.fromBytes(buf)
  }

  override def nullSafeEval(input: Any): Any = grams(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngrams", this, classOf[NGrams].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.grams($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NGrams =
    copy(child = newChild)
}

/** Generated code shared by the kernels below, whose result is never
  * null: `$ref.$method(child)`, with a null child passed as Java null. */
private[functions] object KernelCodegen {
  def callNullTolerant(ctx: CodegenContext, ev: ExprCode, child: Expression,
      ref: String, method: String, dataType: DataType): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $ref.$method(${c.isNull} ? null : ${c.value});
      |""".stripMargin)
  }
}

/** MinHash signature of one shingle-set row: for each seed s in
  * `0 until numHashes`, the min over the set of `family(s, x)` —
  * element s of `array(array_min(transform(set, x => family(s, x))),
  * ...)`, the declarative form it replaces, which ran `numHashes`
  * interpreted lambdas per row. Here one pass over the set computes
  * every seed's hash of an element:
  *
  *  - xxhash64: `xxhash64(lit(s), x)` is XXH64(x) seeded with
  *    XXH64(int s, 42), so the per-seed seeds are computed once and
  *    each element costs `numHashes` [[XXH64]] passes over its bytes
  *    (the calls the builtin's generated code makes); a null element
  *    hashes to the seed itself, as the builtin skips nulls.
  *  - sha256-slice: seed s reads bytes (s%8)·4 until +4 of
  *    sha256("{s/8}:" || x) as an unsigned big-endian int — the 8 hex
  *    chars at (s%8)·8 of the hex digest — so each element costs
  *    ⌈numHashes/8⌉ digests; a null element hashes to null.
  *
  * A seed with no non-null hash (an empty set, or a null one) is a null
  * element, as `array_min` of nothing is; the array itself is never
  * null. */
case class MinHashSignature(child: Expression, numHashes: Int,
    family: HashFamily) extends UnaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false

  @transient private lazy val xxSeeds: Array[Long] =
    Array.tabulate(numHashes)(s => XXH64.hashInt(s, 42L))
  @transient private lazy val shaPrefixes: Array[Array[Byte]] =
    Array.tabulate((numHashes + 7) / 8)(g => s"$g:".getBytes("UTF-8"))
  // one digest per task thread (the MockEmbed discipline)
  @transient private lazy val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("SHA-256"))

  def signature(set: ArrayData): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    if (set != null) family match {
      case HashFamily.XxHash64 => seen = xxMins(set, mins)
      case HashFamily.Sha256Slice => seen = shaMins(set, mins)
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](numHashes))
  }

  private def xxMins(set: ArrayData, mins: Array[Long]): Boolean = {
    val n = set.numElements()
    var i = 0
    while (i < n) {
      val x = if (set.isNullAt(i)) null else set.getUTF8String(i)
      var s = 0
      while (s < numHashes) {
        val h = if (x == null) xxSeeds(s) else XXH64.hashUTF8String(x, xxSeeds(s))
        if (h < mins(s)) mins(s) = h
        s += 1
      }
      i += 1
    }
    n > 0
  }

  private def shaMins(set: ArrayData, mins: Array[Long]): Boolean = {
    val md = digests.get()
    val digest = new Array[Byte](32)
    var seen = false
    val n = set.numElements()
    var i = 0
    while (i < n) {
      if (!set.isNullAt(i)) {
        seen = true
        val x = set.getUTF8String(i)
        var g = 0
        while (g < shaPrefixes.length) {
          md.reset()
          md.update(shaPrefixes(g))
          md.update(x.getByteBuffer)
          md.digest(digest, 0, 32)
          var s = g * 8
          while (s < math.min(g * 8 + 8, numHashes)) {
            val o = (s % 8) * 4
            val h = ((digest(o) & 0xffL) << 24) | ((digest(o + 1) & 0xffL) << 16) |
              ((digest(o + 2) & 0xffL) << 8) | (digest(o + 3) & 0xffL)
            if (h < mins(s)) mins(s) = h
            s += 1
          }
          g += 1
        }
      }
      i += 1
    }
    seen
  }

  override def eval(input: InternalRow): Any =
    signature(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashSignature].getName)
    KernelCodegen.callNullTolerant(ctx, ev, child, ref, "signature", dataType)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashSignature = copy(child = newChild)
}

/** The nine raw per-document counts of the Gopher quality rules
  * ([[graft.operators.TextAnalysis.gopherQuality]]) in one pass over
  * the text, as one struct of longs:
  *
  *  - words: the nonempty pieces of `split(text, "\\s+")` — `n_words`,
  *    `word_chars` (Σ `length`), `n_alpha_words` (containing an ASCII
  *    letter, `rlike("[A-Za-z]")`), and `n_stop_hits` (the distinct
  *    [[graft.operators.TextAnalysis.GopherStopWords]] among the
  *    `lower`ed words);
  *  - `n_hash` ('#' chars) and `n_ellipsis` ("..." occurrences, counted
  *    left to right without overlap as `replace` removes them, plus
  *    "…" occurrences);
  *  - lines: the nonempty `trim`med pieces of `split(text, "\n")` —
  *    `n_lines`, `n_bullet_lines` (first char •, - or *) and
  *    `n_ellipsis_lines` (ending in "..." or "…").
  *
  * The pieces come from the routines the builtins call (UTF8String
  * `split`, the binary-collation `trim` and `lower`, `numChars`), so
  * the counts are those of the eight-lambda staged projection this
  * replaces. A null text gives a struct of nulls. */
case class GopherCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GopherCounts.Schema
  override def nullable: Boolean = false

  // read where the expression is built, as `lower` reads it
  private val icuCaseMappings =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  def counts(text: UTF8String): InternalRow = {
    import GopherCounts._
    if (text == null) return new GenericInternalRow(Schema.size)
    var nWords, wordChars, nAlpha = 0L
    var stopMask = 0
    for (w <- text.split(WordSplit, -1) if w.numBytes > 0) {
      nWords += 1
      wordChars += w.numChars
      if (hasAsciiLetter(w)) nAlpha += 1
      val stop = StopIndex.get(CollationSupport.Lower.exec(w,
        CollationFactory.UTF8_BINARY_COLLATION_ID, icuCaseMappings))
      if (stop != null) stopMask |= 1 << stop
    }
    var nLines, nBullet, nEllipsisLines = 0L
    for (raw <- text.split(LineSplit, -1)) {
      val l = CollationSupport.StringTrim.exec(raw)
      if (l.numBytes > 0) {
        nLines += 1
        if (Bullets.exists(l.startsWith)) nBullet += 1
        if (l.endsWith(Dots) || l.endsWith(Ellipsis)) nEllipsisLines += 1
      }
    }
    val bytes = text.getBytes
    new GenericInternalRow(Array[Any](nWords, wordChars,
      count(bytes, Hash), count(bytes, Dots) + count(bytes, Ellipsis),
      nBullet, nEllipsisLines, nLines, nAlpha,
      java.lang.Integer.bitCount(stopMask).toLong))
  }

  override def eval(input: InternalRow): Any =
    counts(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopher", this, classOf[GopherCounts].getName)
    KernelCodegen.callNullTolerant(ctx, ev, child, ref, "counts", dataType)
  }

  override protected def withNewChildInternal(newChild: Expression): GopherCounts =
    copy(child = newChild)
}

object GopherCounts {
  val Schema: StructType = StructType(Seq("n_words", "word_chars", "n_hash",
    "n_ellipsis", "n_bullet_lines", "n_ellipsis_lines", "n_lines",
    "n_alpha_words", "n_stop_hits").map(StructField(_, LongType)))

  private val WordSplit = UTF8String.fromString("\\s+")
  private val LineSplit = UTF8String.fromString("\n")
  private val Hash = UTF8String.fromString("#")
  private val Dots = UTF8String.fromString("...")
  private val Ellipsis = UTF8String.fromString("…")
  private val Bullets = Seq("•", "-", "*").map(UTF8String.fromString)
  private val StopIndex: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    graft.operators.TextAnalysis.GopherStopWords.zipWithIndex
      .foreach { case (w, i) => m.put(UTF8String.fromString(w), i) }
    m
  }

  /** Occurrences of `pat` in the bytes `sb`, left to right without overlap — the
    * matches `replace(s, pat, "")` removes. */
  private def count(sb: Array[Byte], pat: UTF8String): Long = {
    val pb = pat.getBytes
    var n = 0L
    var i = 0
    while (i + pb.length <= sb.length) {
      var j = 0
      while (j < pb.length && sb(i + j) == pb(j)) j += 1
      if (j == pb.length) { n += 1; i += pb.length } else i += 1
    }
    n
  }

  /** Any byte in [A-Za-z]: UTF-8 continuation and lead bytes are all
    * ≥ 0x80, so this is `rlike("[A-Za-z]")` on the decoded text. */
  private def hasAsciiLetter(w: UTF8String): Boolean = {
    var i = 0
    while (i < w.numBytes) {
      val b = w.getByte(i)
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) return true
      i += 1
    }
    false
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{MinHashSignature, NGrams, TextFunctions}

/** Corpus deduplication operators for large-scale training-data
  * pipelines: exact (content-hash), n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Reference anchor: the engine's own dedup surface is exact
  * content_hash change-skip (packages/shared/pipeline/executor.py:713-744
  * — operator P7); the near-dup family extends it with the standard
  * public algorithms (Broder MinHash / Charikar SimHash).
  *
  * Scale posture: every variant is a hash-partition + equi-join — no
  * all-pairs comparison ever leaves a bucket. Exact dedup shuffles once
  * on the hash; SimHash pigeonholes 64-bit fingerprints into 4×16-bit
  * blocks so Hamming≤3 candidates meet on an exact block join. MinHash
  * LSH keeps ONE row per doc, its shingle set ([[shingleSets]]: one
  * shuffle on id, localCheckpointed per call): signatures are an array
  * expression over the row, candidates shuffle on (band, band_hash),
  * and a candidate pair's exact Jaccard reads its two set rows — no
  * exploded (id, shingle) rows are shuffled or joined, and no call
  * leaves a relation in the session's cache.
  */
object Dedup {

  /** SHA-256 content hash (ref pipeline/types.py:162 / F2). */
  def contentHash(text: Column): Column = sha2(text.cast("binary"), 256)

  /** Exact dedup: group identical content, keep the smallest id.
    * Output: (id, content_hash, dup_count, is_kept). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df.select(col(idCol).as("id"),
      contentHash(col(textCol)).as("content_hash"))
    val w = Window.partitionBy("content_hash")
    h.withColumn("dup_count", count("*").over(w))
      .withColumn("keep_id", min("id").over(w))
      .withColumn("is_kept", col("id") === col("keep_id"))
      .select("id", "content_hash", "dup_count", "keep_id", "is_kept")
  }

  /** Exact dedup that KEEPS the surviving rows (all columns) directly —
    * the pipeline-composition form of [[exact]]: one hash-window
    * shuffle over the input, no (id, is_kept) relation to join back.
    * Keep rule identical to [[exact]]: min-id per content hash. */
  def exactRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(contentHash(col(textCol)))
    df.withColumn("__keep_id", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__keep_id"))
      .drop("__keep_id")
  }

  /** Incremental exact dedup — the PRODUCTION dedup shape: today's
    * batch deduplicates against the historical corpus without ever
    * re-shuffling history's rows. Two stages, both on the hash key:
    * (1) within-batch keep-first ([[exactRows]] semantics over the
    * incoming relation only); (2) a left-anti join of survivors
    * against history's DISTINCT hash relation. At 100 TB the history
    * side is a hash-bucketed table of one 32-byte column per distinct
    * doc — the anti-join co-locates on that bucketing and history's
    * text is never read (column pruning keeps the scan to the hash, or
    * to `textCol` once, if hashes aren't materialized).
    * Output: the surviving incoming rows, all columns. */
  def exactIncremental(incoming: DataFrame, history: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val seen = history
      .select(contentHash(col(textCol)).as("__h")).distinct()
    exactRows(incoming, idCol, textCol)
      .withColumn("__h", contentHash(col(textCol)))
      .join(seen, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Token n-grams of a token array, one array per row: THE n-gram
    * definition of every shingle, window and decontamination pass, the
    * single-pass [[graft.functions.NGrams]] kernel (gram i = tokens
    * i..i+n-1 joined by a space; docs shorter than `n` tokens give an
    * empty array). */
  private def gramsOf(toks: Column, n: Int): Column =
    ColumnBridge.column(NGrams(ColumnBridge.expression(toks), n))

  private def tokenized(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(col(idCol).as("id"),
      TextFunctions.tokensCol(col(textCol), removeStopwords = false)
        .as("_toks"))

  /** Token n-gram rows per doc, repeats kept: (id, shingle). The gram
    * EXPRESSION is exploded directly — exploding a projected gram
    * attribute instead lets InferFiltersFromGenerate add a
    * `size(grams) > 0` filter that is pushed below the projections with
    * the tokenizer inlined into it, so each doc is tokenized twice (with
    * the former per-gram lambda, once per gram: measured 0.8 s → 20 s
    * on the curate decontamination pass). */
  private def gramRows(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    tokenized(df, idCol, textCol)
      .select(col("id"), explode(gramsOf(col("_toks"), n)).as("shingle"))

  /** Distinct token n-gram shingles per doc, one row each:
    * (id, shingle). The exploded form, for consumers keyed on the
    * shingle (df prunes, postings self-joins, eval-set joins); the
    * near-dup passes work on [[shingleSets]] instead. Docs shorter than
    * `n` tokens yield no rows. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    gramRows(df, idCol, textCol, n).distinct()

  /** Distinct token n-gram shingles per doc as ONE set row:
    * (id, shingles ARRAY<STRING>) — `array_distinct(flatten(
    * collect_list(grams)))` grouped by id, so a repeated id gets the
    * union of its texts' shingles (the set [[shingles]] would give it).
    * Docs without shingles are dropped. One map-side-combinable shuffle
    * on id and one row per doc: the MinHash signature is an array
    * expression over the row and a pair's Jaccard reads two rows,
    * where the exploded form needs a shuffle per consumer. Callers
    * reading it more than once (signatures, both verify sides)
    * localCheckpoint it, so the tokenize and set build run once; the
    * checkpoint also keeps the set build a leaf under the signature,
    * which a projected (unfiltered) form let CollapseProject inline
    * into each of the former 16 per-seed lambdas (0.18 s → 10.1 s). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    tokenized(df, idCol, textCol).groupBy("id")
      .agg(array_distinct(flatten(collect_list(gramsOf(col("_toks"), n))))
        .as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** Candidate pairs `(id_a, id_b)`, localCheckpointed, and their row
    * count `n`, observed by the checkpoint job itself: sizing the
    * [[candidateRows]] broadcast costs no extra job. */
  private final case class Candidates(pairs: DataFrame, n: Long)

  private def pinCandidates(pairs: DataFrame): Candidates = {
    val seen = org.apache.spark.sql.Observation()
    val pinned = pairs.select("id_a", "id_b")
      .observe(seen, count(lit(1)).as("n")).localCheckpoint()
    Candidates(pinned, seen.get("n").asInstanceOf[Long])
  }

  /** The rows of `rel` (keyed `id`) whose id appears in any of the
    * candidates' columns `cols`: the semi-filter every verify applies
    * to a corpus-sized relation BEFORE it is shuffled or joined. The
    * ids are broadcast while n·|cols| of them fit the session's
    * broadcast threshold at 8 bytes an id, so the corpus side streams
    * map-side. The decision cannot be left to AQE: a candidate
    * relation's size estimate is a join's, so the static plan is a
    * sort-merge semi-join, and AQE demotes it to a broadcast only after
    * the corpus side has been shuffled. Corpus-sized candidate sets
    * degrade to that one keyed shuffle. */
  private def candidateRows(rel: DataFrame, cands: Candidates,
                            cols: String*): DataFrame = {
    // repeated ids are harmless on a semi-join's build side: no distinct
    val ids = cols.map(c => cands.pairs.select(col(c).as("id")))
      .reduce(_ union _)
    val fits = cands.n * cols.size * 8 <=
      org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    rel.join(if (fits) broadcast(ids) else ids, Seq("id"), "left_semi")
  }

  /** Exact n-gram Jaccard of each pair `(id_a, id_b)` from the two docs'
    * shingle sets: the pair joins one set row per side,
    * |A∩B| = size(array_intersect), |A∪B| = |A|+|B|−|A∩B|. A pair whose
    * doc has no shingles is dropped. Every n-gram Jaccard and
    * containment verify in graft goes through here, over sets already
    * restricted to the candidate docs ([[candidateRows]]).
    * Output: (id_a, id_b, n_inter, n_a, n_b, jaccard). */
  private def jaccardOfSets(pairs: DataFrame, setsA: DataFrame,
                            setsB: DataFrame): DataFrame = {
    val (sa, sb) = (col("_sa"), col("_sb"))
    pairs
      .join(setsA.select(col("id").as("id_a"), col("shingles").as("_sa")),
        "id_a")
      .join(setsB.select(col("id").as("id_b"), col("shingles").as("_sb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(sa, sb)).cast("long").as("n_inter"),
        size(sa).cast("long").as("n_a"), size(sb).cast("long").as("n_b"))
      .withColumn("jaccard",
        when(col("n_a") + col("n_b") - col("n_inter") === 0, lit(0.0))
          .otherwise(col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter"))))
  }

  /** Pairwise n-gram Jaccard for a given candidate pair set
    * `pairs(id_a, id_b)`. Never all-pairs: feed it LSH candidates (or
    * any bounded pair relation). A pair given twice is output twice,
    * each with the same exact counts. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame, n: Int): DataFrame =
    // the verify collapses rows to sets itself: no distinct shuffle
    ngramJaccardFrom(gramRows(df, idCol, textCol, n), pairs)

  /** [[ngramJaccard]] over a precomputed (id, shingle) relation (repeated
    * rows are harmless). Verification scales with the CANDIDATE set,
    * not the corpus: the rows semi-filter to docs that appear in a pair
    * BEFORE any shuffle ([[candidateRows]]) and collapse to one set row
    * per candidate doc, which [[jaccardOfSets]] reads. The pairs (read
    * by the id filter and the verify) and the candidate sets (read by
    * both verify sides) are localCheckpointed, not cached: nothing
    * stays pinned in the session's cache after the call. */
  def ngramJaccardFrom(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val cands = pinCandidates(pairs)
    val sets = candidateRows(sh, cands, "id_a", "id_b")
      .groupBy("id").agg(collect_set("shingle").as("shingles"))
      .localCheckpoint()
    jaccardOfSets(cands.pairs, sets, sets)
  }

  /** Corpus-level exact span dedup (the C4/RefinedWeb "line dedup"
    * pass): split each document on `sep`, drop every duplicate
    * normalized (lower+trim) span EXCEPT its first occurrence — first =
    * lowest (id, span index) — and reassemble the documents. Shared
    * boilerplate (nav lines, footers) survives in exactly one document.
    *
    * Scale: one shuffle keyed by the normalized span. Whitespace-only
    * spans are document structure, not content — they bypass the
    * window entirely (they would otherwise concentrate the whole
    * corpus's blank lines into one hot partition).
    * Output: (id, text, n_spans, n_removed). */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n"): DataFrame = {
    val spans = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("idx", "span")))
      .withColumn("_norm", lower(trim(col("span"))))
    // ONE pass over the exploded spans: whitespace-only spans get a
    // per-row-unique partition key (each a singleton window, trivially
    // rank 1 = kept) instead of a filter+union that would evaluate the
    // corpus-wide explode twice and concentrate every blank line into
    // one hot '' partition
    val pkey = when(col("_norm") === "",
      concat_ws(":", lit("\u0000"), col("id"), col("idx")))
      .otherwise(col("_norm"))
    val w = Window.partitionBy("_pkey").orderBy(col("id"), col("idx"))
    spans.withColumn("_pkey", pkey)
      .withColumn("_keep", row_number().over(w) === 1)
      .groupBy("id")
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("idx"), col("span"))))),
          x => x.getField("span"))).as("text"),
        count(lit(1)).as("n_spans"),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Boilerplate-line stripping — the jusText/C4-flavored cleanup pass
    * that [[dedupSpans]] is NOT: a normalized line occurring in at
    * least `minDocs` DISTINCT documents is boilerplate (nav bars,
    * cookie banners, footers) and is removed from EVERY document —
    * dedupSpans instead keeps the first occurrence. Whitespace-only
    * lines are document structure and always survive.
    *
    * Scale: one distinct-(doc, line) aggregation keyed on the
    * normalized line to find boilerplate (map-side combinable; blank
    * lines bypass it entirely, so the corpus's empty lines never
    * concentrate on one key), then the line stream re-joins the
    * boilerplate relation — which is "lines in ≥ minDocs docs"-sized,
    * broadcastable in practice — and documents reassemble with one
    * per-doc aggregation. Output: (id, text, n_lines, n_removed). */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       minDocs: Long = 3, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("idx", "line")))
      .withColumn("_norm", lower(trim(col("line"))))
    val boiler = lines.filter(col("_norm") =!= "")
      .select("id", "_norm").distinct()
      .groupBy("_norm").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("_norm"), lit(true).as("_boiler"))
    lines.join(boiler, Seq("_norm"), "left")
      .withColumn("_keep", col("_boiler").isNull)
      .groupBy("id")
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("idx"), col("line"))))),
          x => x.getField("line"))).as("text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Exact duplicated-substring detection at token-window granularity —
    * the distributed shape of Lee et al. 2021 ("Deduplicating Training
    * Data Makes Language Models Better", the suffix-array ExactSubstr
    * method): a span is reported wherever a k-token window recurs
    * ANYWHERE in the corpus (other docs or the same doc), and adjacent/
    * overlapping duplicated windows merge into maximal spans — which is
    * exactly the set of ≥k-token repeated substrings, discretized to
    * window starts. Complements [[dedupSpans]] (line-granularity
    * boilerplate) with arbitrary-position repeats.
    *
    * Shape: window generation is the per-doc n-gram kernel (no
    * self-join, no suffix array materialization); the corpus-wide
    * duplicate test is ONE groupBy on the window key; the island merge
    * is a per-doc window function. With `hashKey` (the scale default)
    * the shuffle key is xxhash64(window) — 8 bytes instead of the
    * k-token string; collisions only ever ADD a candidate window
    * (they cannot drop a true duplicate). The oracle-checked variant
    * keeps the string key: identical semantics modulo those
    * vanishingly-rare extra candidates, asserted equal in DedupKnnSpec. */
  def duplicatedSubstrings(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, hashKey: Boolean = true): DataFrame = {
    // localCheckpoint, not cache(): two consumers (the duplicate
    // groupBy and the semi-join probe side) would otherwise re-run the
    // corpus-wide tokenize + window build, but a per-call cache is
    // never unpersisted and would pin this corpus-sized relation for
    // the session — the checkpoint's blocks are released by the
    // ContextCleaner once the plan is garbage-collected (the
    // semanticDedup discipline)
    val wins = tokenized(df, idCol, textCol)
      .select(col("id"), posexplode(gramsOf(col("_toks"), k))
        .as(Seq("ti", "win")))
      .select(col("id"), col("ti"),
        (if (hashKey) xxhash64(col("win")) else col("win")).as("wkey"))
      .localCheckpoint()
    val dup = wins.groupBy("wkey").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
    val marked = wins.join(dup.select("wkey"), Seq("wkey"), "left_semi")
    val byDoc = Window.partitionBy("id").orderBy("ti")
    val prevMaxEnd = max(col("te"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marked.withColumn("te", col("ti") + lit(k - 1))
      .withColumn("_new",
        when(prevMaxEnd.isNull || col("ti") > prevMaxEnd + 1, 1).otherwise(0))
      .withColumn("_island", sum(col("_new")).over(byDoc))
      .groupBy(col("id"), col("_island"))
      .agg(min("ti").as("span_start"), max("te").as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("_island")
  }

  /** A seeded hash family for MinHash and SimHash: `family(seed, x)`
    * is hash number `seed` of `x` as a Column. A closed set, so the
    * [[graft.functions.MinHashSignature]] kernel can compute every
    * seed of a family in one pass over a set row. */
  sealed trait HashFamily {
    def apply(seed: Int, c: Column): Column
  }

  object HashFamily {
    /** `xxhash64(seed, x)`: the scale default (cheapest). */
    case object XxHash64 extends HashFamily {
      def apply(seed: Int, c: Column): Column = xxhash64(lit(seed), c)
    }

    /** 32 bits of sha256: slower, but expressible in the DuckDB oracle
      * (('0x' || substr(sha256(seed || ':' || x), 1, 8))::UBIGINT), so
      * the full LSH pipeline can be hash-verified end to end. Seed s
      * reads 8 hex chars at offset (s%8)·8 of sha256("{s/8}:" || x):
      * one digest yields EIGHT independent 32-bit hashes, so 16 minhash
      * seeds cost 2 sha256 evaluations per shingle (Spark's
      * common-subexpression elimination computes each digest once). The
      * hex slice parses through [[graft.functions.HexSliceToLong]] —
      * bit-identical to `conv(substr, 16, 10)::long` (the form the
      * DuckDB oracle uses) minus conv's radix string machinery. */
    case object Sha256Slice extends HashFamily {
      def apply(seed: Int, c: Column): Column =
        ColumnBridge.column(graft.functions.HexSliceToLong(
          ColumnBridge.expression(
            sha2(concat(lit(s"${seed / 8}:"), c).cast("binary"), 256)),
          (seed % 8) * 8))
    }
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions,
    * the min over the doc's shingles of hash(seed, shingle).
    * Output: (id, signature ARRAY<BIGINT>). One shuffle (the groupBy in
    * shingles' distinct); signatures are fixed-width regardless of doc
    * size. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int): DataFrame =
    minhashSignaturesFrom(shingles(df, idCol, textCol, n), numHashes)

  /** [[minhashSignatures]] over a precomputed (id, shingle) relation. */
  def minhashSignaturesFrom(sh: DataFrame, numHashes: Int,
                            hashFamily: HashFamily =
                              HashFamily.XxHash64): DataFrame = {
    val hashed = sh.select(col("id"),
      array((0 until numHashes).map(s =>
        hashFamily(s, col("shingle"))): _*).as("hs"))
    // one min() per seed — partial-aggregates map-side, so the shuffle
    // carries numHashes longs per doc, not the shingle set
    val mins = (0 until numHashes).map(i =>
      min(element_at(col("hs"), i + 1)).as(s"m$i"))
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("signature"))
  }

  /** [[minhashSignaturesFrom]] over a [[shingleSets]] relation: the
    * [[graft.functions.MinHashSignature]] kernel, every seed's min in
    * one pass over each set row — a narrow projection with no shuffle.
    * Identical signatures to the exploded form (the min of the same
    * hashes over the same set). Pass a checkpointed set relation (see
    * [[shingleSets]]). */
  def minhashSignaturesFromSets(sets: DataFrame, numHashes: Int,
                                hashFamily: HashFamily =
                                  HashFamily.XxHash64): DataFrame =
    sets.select(col("id"), ColumnBridge.column(MinHashSignature(
      ColumnBridge.expression(col("shingles")), numHashes, hashFamily))
      .as("signature"))

  /** Banded LSH bucket keys for a signature relation: (id, band,
    * band_hash) — one row per band. The joined string IS the bucket
    * key (hashing it again only fixed the width; the string form is
    * also oracle-expressible). Shared by the in-corpus candidate
    * self-join and the cross-corpus decontamination join. */
  def minhashBandKeys(signatures: DataFrame, numHashes: Int,
                      bands: Int): DataFrame = {
    require(numHashes % bands == 0, s"numHashes $numHashes not divisible by $bands")
    val rows = numHashes / bands
    signatures.select(col("id"),
      posexplode(array((0 until bands).map(b => array_join(
        slice(col("signature"), b * rows + 1, rows).cast("array<string>"),
        ",")): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  /** LSH banding: split the signature into `bands` bands and emit one
    * (band, band_hash) bucket key per band. Docs colliding in ANY band
    * become candidate pairs (id_a < id_b). The self-join runs inside
    * bucket groups only. */
  def minhashCandidates(signatures: DataFrame, numHashes: Int,
                        bands: Int): DataFrame = {
    val banded = minhashBandKeys(signatures, numHashes, bands)
    val l = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Full MinHash-LSH near-dup: candidates verified by exact n-gram
    * Jaccard ≥ threshold. Runs on ONE per-doc [[shingleSets]] relation,
    * localCheckpointed once per call: the signatures are an array
    * expression over each set row, the candidates come from
    * [[minhashCandidates]] (checkpointed too: the candidate-id filter
    * and the verify both read them), and each candidate pair reads its
    * two set rows, semi-filtered to the candidate docs, once
    * ([[jaccardOfSets]]). No shuffle carries shingle rows: the set
    * build shuffles once on id, the band self-join's distinct and the
    * candidate-id distinct shuffle id pairs and ids. Nothing is left
    * in the session's cache. Output: (id_a < id_b, jaccard). */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.8,
                      hashFamily: HashFamily =
                        HashFamily.XxHash64): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, n).localCheckpoint()
    val cands = pinCandidates(minhashCandidates(
      minhashSignaturesFromSets(sets, numHashes, hashFamily), numHashes,
      bands))
    val near = candidateRows(sets, cands, "id_a", "id_b")
    jaccardOfSets(cands.pairs, near, near)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** [[minhashNearDups]] over a precomputed (id, shingle) relation —
    * for callers that already paid (and pinned) the shingle pass: the
    * tuned-dedup query shares the banding sweep's checkpointed
    * shingles, so the corpus is tokenized ONCE for sweep + selection +
    * dedup. The caller owns the relation's persistence. */
  def minhashNearDupsFrom(sh: DataFrame, numHashes: Int, bands: Int,
                          threshold: Double,
                          hashFamily: HashFamily =
                            HashFamily.XxHash64): DataFrame =
    minhashNearDupsFromSigs(sh,
      minhashSignaturesFrom(sh, numHashes, hashFamily), numHashes,
      bands, threshold)

  /** [[minhashNearDupsFrom]] against PRECOMPUTED signatures — the
    * online-serving shape of near-dup collapse: signatures are
    * corpus-deterministic, so a deployment computes them at INDEX
    * time and stores them beside the postings; query time pays only
    * banding + verify over the (bounded) id set the caller passed.
    * `sh` and `sigs` must cover the same ids (typically both filtered
    * to a candidate page of a standing corpus-wide relation). */
  def minhashNearDupsFromSigs(sh: DataFrame, sigs: DataFrame,
                              numHashes: Int, bands: Int,
                              threshold: Double): DataFrame = {
    // cheap guard (ADVICE r14): a stale or mismatched standing
    // signature artifact must fail LOUDLY, not silently mis-band —
    // every signature array must be numHashes wide. A map-side
    // assert_true filter costs one size() per row inside codegen (no
    // extra job, unlike a collect probe); minhashBandKeys already
    // validates bands | numHashes.
    val checked = sigs.filter(org.apache.spark.sql.functions.assert_true(
      org.apache.spark.sql.functions.size(col("signature")) ===
        numHashes,
      lit(s"precomputed signature width != numHashes=$numHashes " +
        "(stale or mismatched standing artifact)")).isNull)
    ngramJaccardFrom(sh, minhashCandidates(checked, numHashes, bands))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Batch "related documents" precompute — the nightly
    * related-articles job (moreLikeThis for every document at once),
    * over n-gram SHINGLES rather than unigrams: shingles are the
    * discriminative features (two docs quoting the same phrases are
    * related; shared single words are noise on a dense vocabulary),
    * and their Zipf tail makes the pruning honest — the candidate
    * generator is the shingle postings self-join restricted to
    * 2 ≤ df ≤ `maxDf`, bounding pairs at Σ df² ≤ maxDf·|postings|.
    * Pair score = Σ ln(N/df) over shared shingles (idf-weighted
    * phrase overlap), summed in shingle order and 6-dp rounded BEFORE
    * the bounded [[TopK]] per-doc cut — never a per-doc rank window.
    * Rank ties break on the STRING form of the related id (the TopK
    * contract). Output: (src_id, rank, related_id, score) as strings/
    * int/double, top `k` per doc. */
  def relatedDocs(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxDf: Long = 50L, k: Int = 3): DataFrame =
    relatedDocsFrom(relatedPostings(corpus, idCol, textCol, n, maxDf), k)

  /** The df-pruned, idf-WEIGHTED, dictionary-ENCODED shingle postings
    * relation [[relatedDocsFrom]] scores over: (sid, id, __w) with
    * __w = ln(N/df) and `sid` the rank of the shingle in ascending
    * shingle order ([[Sampling.globalRank]] — the sparseVectors
    * two-phase discipline, never a global window). The encoding is a
    * MONOTONE bijection, so ordering by sid IS ordering by shingle —
    * the pair aggregation's order-sensitive float sum is unchanged
    * bit-for-bit — while the self-join key and the per-pair collected
    * structs carry 8-byte longs instead of 3-word strings (r15: the
    * pair scoring was the row's dominant cost; narrower structs cut
    * its shuffle AND its per-group sort). The relation is
    * corpus-deterministic — an index-time artifact a deployment
    * computes once (the collapseSigs precedent), which is why it is
    * factored apart from the scoring. */
  def relatedPostings(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxDf: Long = 50L): DataFrame = {
    require(maxDf >= 2, s"bad relatedPostings maxDf: $maxDf")
    val sh = shingles(corpus, idCol, textCol, n)
    val nDocs = broadcast(corpus.agg(count(lit(1)).as("__n")))
    val dfRel = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
    val sidRel = graft.operators.Sampling.globalRank(
      dfRel, Seq("shingle"), "sid")
    sh.join(sidRel, "shingle").crossJoin(nDocs)
      .select(col("sid"), col("id"),
        log(col("__n").cast("double") / col("__df").cast("double"))
          .as("__w"))
  }

  /** [[relatedDocs]] over a precomputed [[relatedPostings]] relation —
    * the standing-artifact serve path (VERDICT r14 #6). Pair score =
    * Σ __w over shared shingles summed in sid (= shingle) order and
    * 6-dp rounded BEFORE the bounded [[TopK]] per-doc cut — never a
    * per-doc rank window. Rank ties break on the STRING form of the
    * related id (the TopK contract).
    * NOTE (r11 pin sweep, still true of this shape): the self-join's
    * duplicate exchanges reuse, and the pair-scoring aggregation
    * dominates — the caller pins `w` for cross-invocation reuse, not
    * for intra-plan reuse. */
  def relatedDocsFrom(w: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"bad relatedDocsFrom k: $k")
    val scored = w.select(col("sid"), col("id").as("id_a"), col("__w"))
      .join(w.select(col("sid"), col("id").as("id_b")), "sid")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(round(Bm25.sparseScore(col("__w"), col("sid")), 6)
        .as("score"))
    TopK.perGroup(scored.select(col("id_a").cast("string").as("grp"),
        col("id_b").cast("string").as("doc_id"),
        col("id_b").cast("string").as("chunk_id"), col("score")),
        "grp", k)
      .select(col("grp").as("src_id"), col("rank"),
        col("chunk_id").as("related_id"), col("score"))
  }

  /** Asymmetric shingle CONTAINMENT (Broder 1997 defines both
    * resemblance and containment; near-dup pipelines usually ship only
    * the former): C(a→b) = |S(a)∩S(b)| / |S(a)|. A short excerpt
    * lifted from a long source has Jaccard ≈ |S(excerpt)|/|S(source)|
    * — invisible to every symmetric threshold — but containment ≈ 1;
    * this pass is how a training-data pipeline catches quote-expansion
    * and excerpt duplication that [[minhashNearDups]] structurally
    * misses. Candidates come from the shingle postings self-join
    * pruned to 2 ≤ df ≤ `maxDf` (the Σ df² ≤ maxDf·|postings| bound of
    * [[relatedDocs]]) AND sharing ≥ `minShared` pruned shingles — the
    * second gate is load-bearing at scale: a web corpus yields
    * millions of pairs sharing ONE collision shingle, and running the
    * exact verify on those would shuffle |pairs|·shingles-per-doc rows
    * (measured 17 s → 1 s at sf0.1). The recall contract is therefore:
    * a pair is detectable when the two docs share ≥ minShared
    * discriminative (df ≤ maxDf) shingles — real excerpts share
    * dozens. Survivors verify EXACTLY over the full shingle sets of
    * candidate docs only: [[ngramJaccardFrom]] gives n_inter and
    * |S(a)| = n_a. Output: directed pairs
    * (id_a, id_b, n_inter, size_a, containment) with C(a→b) ≥
    * `threshold`; containment is an exact integer ratio, so the value
    * is engine-order-independent. */
  def containment(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxDf: Long = 50L,
      threshold: Double = 0.8, minShared: Int = 3): DataFrame = {
    require(maxDf >= 2, s"bad containment maxDf: $maxDf")
    require(minShared >= 1, s"bad containment minShared: $minShared")
    // sh feeds the df prune, the postings join, and the exact verify;
    // pruned feeds both candidate self-join sides — pin both (each
    // unpinned consumer re-runs the tokenize+shingle plan; the pin
    // sweep measured 4× on this shape). Cache LIFETIME (ADVICE r11):
    // the caches live only for THIS call — the result is eagerly
    // checkpointed below with the caches hot, then both are
    // unpersisted before returning, so a long-lived session
    // accumulates nothing.
    val sh = shingles(corpus, idCol, textCol, n).cache()
    val prunable = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select("shingle")
    // NOTE (r15, measured negative): dictionary-encoding the pruned
    // shingles to rank longs before this self-join (the
    // relatedPostings trick) was tried and REVERTED — globalRank's
    // eager range pass + checkpoint over the pruned vocabulary cost
    // more than the narrower join key saved (16→30 stages, warm task
    // time 47 s → 69 s). relatedPostings wins because its encode runs
    // ONCE into a standing artifact; here it would run per call.
    val pruned = sh.join(prunable, "shingle").cache()
    val cands = pruned.select(col("shingle"), col("id").as("id_a"))
      .join(pruned.select(col("shingle"), col("id").as("id_b")),
        "shingle")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
    // eager checkpoint: the (pair-bounded) result materializes NOW,
    // with the caches hot; the caches then release immediately
    val out = ngramJaccardFrom(sh, cands)
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("n_a").as("size_a"))
      .withColumn("containment",
        col("n_inter").cast("double") / col("size_a").cast("double"))
      .filter(col("containment") >= threshold)
      .localCheckpoint()
    sh.unpersist(blocking = false)
    pruned.unpersist(blocking = false)
    out
  }

  /** Incremental MinHash near-dup — [[exactIncremental]]'s FUZZY
    * sibling, the production arrival shape: today's batch against the
    * standing corpus. Band keys for both sides; the candidate join is
    * incoming-bands ⨝ standing-bands on (band, band_hash) — never a
    * self-join of the union — so the standing corpus contributes rows
    * only where an incoming band collides, and within-batch pairs are
    * deliberately NOT emitted (run [[minhashNearDups]] on the batch
    * for those). At scale the standing band-key relation is a
    * materialized index bucketed on (band, band_hash): an arrival
    * probes its ≤`bands` buckets, never the corpus. Ids must be
    * disjoint across the two relations (same contract as
    * exactIncremental's history).
    * Output: (id_a incoming, id_b standing, jaccard ≥ threshold).
    *
    * Each side is one [[shingleSets]] relation read by its signatures
    * and by the verify, so each is localCheckpointed for the call — no
    * cache entry outlives it (the [[minhashNearDups]] shape). */
  def minhashIncremental(incoming: DataFrame, standing: DataFrame,
      idCol: String, textCol: String, n: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.8,
      hashFamily: HashFamily = HashFamily.XxHash64): DataFrame =
    crossNearDups(shingleSets(incoming, idCol, textCol, n),
      shingleSets(standing, idCol, textCol, n), numHashes, bands,
      threshold, hashFamily)

  /** Near-dup pairs BETWEEN two set relations: a-bands ⨝ b-bands on
    * (band, band_hash), then [[jaccardOfSets]] over each side's sets
    * semi-filtered to its candidate ids. Each side is read by its
    * signatures and by the verify, and the candidates by both id
    * filters and the verify, so all three are localCheckpointed.
    * Output: (id_a from `a`, id_b from `b`, jaccard ≥ threshold). */
  private def crossNearDups(a: DataFrame, b: DataFrame, numHashes: Int,
      bands: Int, threshold: Double,
      hashFamily: HashFamily): DataFrame = {
    val (setsA, setsB) = (a.localCheckpoint(), b.localCheckpoint())
    def bandsOf(sets: DataFrame, id: String) = minhashBandKeys(
        minhashSignaturesFromSets(sets, numHashes, hashFamily),
        numHashes, bands)
      .select(col("band"), col("band_hash"), col("id").as(id))
    val cands = pinCandidates(bandsOf(setsA, "id_a")
      .join(bandsOf(setsB, "id_b"), Seq("band", "band_hash"))
      .select("id_a", "id_b").distinct())
    jaccardOfSets(cands.pairs, candidateRows(setsA, cands, "id_a"),
      candidateRows(setsB, cands, "id_b"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Edit-distance-verified near-dup: the MinHash-banded candidate
    * pairs (never all-pairs) verified by Levenshtein similarity
    * `1 − dist / max(len)` over a bounded text PREFIX. Levenshtein is
    * O(len_a · len_b) per pair, so unbounded documents would make
    * verification the bottleneck — both sides clip to `prefixLen`
    * chars (a documented approximation: candidates are already
    * shingle-recall-bounded; clipping only affects the verify score).
    * Uses Spark's codegen'd `levenshtein`, identical DP values to the
    * oracle engine's. */
  def editDistanceNearDups(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                           threshold: Double = 0.5, prefixLen: Int = 256,
                           hashFamily: HashFamily =
                             HashFamily.XxHash64): DataFrame = {
    // checkpointed: the band self-join reads the signatures twice,
    // and each read would otherwise re-tokenize the corpus. From the
    // exploded shingles, not [[shingleSets]]: nothing here reads the
    // sets again, and the per-seed min() combines map-side to numHashes
    // longs per doc where the set build shuffles every shingle
    // (dedup_editdist at sf0.01: ~2x the task time over sets)
    val sigs = minhashSignaturesFrom(shingles(df, idCol, textCol, n),
      numHashes, hashFamily).localCheckpoint()
    val cands = minhashCandidates(sigs, numHashes, bands)
    val txt = df.select(col(idCol).as("id"),
      substring(col(textCol), 1, prefixLen).as("t"))
    // banded DP: any dist that could still pass the filter satisfies
    // dist <= (1-threshold)·maxLen <= (1-threshold)·prefixLen, so the
    // bounded variant is OUTPUT-IDENTICAL (its above-band sentinel −1
    // is rejected explicitly below) and skips the full O(len²) table
    // for far-apart candidates
    val bound = math.max(1, math.ceil((1.0 - threshold) * prefixLen).toInt)
    cands
      .join(txt.select(col("id").as("id_a"), col("t").as("t_a")), "id_a")
      .join(txt.select(col("id").as("id_b"), col("t").as("t_b")), "id_b")
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), bound))
      .withColumn("sim", lit(1.0) - col("dist").cast("double") /
        greatest(length(col("t_a")), length(col("t_b")), lit(1)).cast("double"))
      // dist >= 0 first: the bounded levenshtein returns −1 above the
      // band, which would otherwise INFLATE sim past 1
      .filter(col("dist") >= 0 && col("sim") >= threshold)
      .select("id_a", "id_b", "dist", "sim")
  }

  /** SimHash over tokens (Charikar): bit b of the fingerprint is the
    * sign of Σ_terms tf · (bit b of hash(term) ? +1 : −1). Computed as
    * `bits` conditional sums in one aggregation — single shuffle on id,
    * fully codegen'd. Default 64-bit xxhash; the sha family gives a
    * 32-bit fingerprint that the DuckDB oracle reproduces. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 64,
              hashFamily: HashFamily = HashFamily.XxHash64)
      : DataFrame = {
    require(bits >= 4 && bits <= 64 && bits % 4 == 0)
    val toks = df.select(col(idCol).as("id"),
      explode(TextFunctions.tokensCol(col(textCol), removeStopwords = false))
        .as("term"))
    val tf = toks.groupBy("id", "term").agg(count("*").as("tf"))
      .withColumn("h", hashFamily(0, col("term")))
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, col("tf"))
        .otherwise(-col("tf"))).as(s"b$b")
    }
    tf.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until bits).map(b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist via a
    * generalized Manku-style block pigeonhole: the fingerprint splits
    * into `numBlocks` equal blocks; any pair within distance d differs
    * in ≤ d blocks, so it agrees EXACTLY on some combination of
    * (numBlocks − d) blocks. Each doc emits one join key per
    * C(numBlocks, numBlocks−d) combination; candidates meet on
    * (combo_idx, combined_block_values) and verify with bit_count(xor).
    *
    * Scale dial: numBlocks = maxDist+1 gives 1-block keys (minimal
    * replication but blockBits-wide buckets — at 10⁹ docs a 16-bit
    * block holds ~15k docs, ~10⁸ in-bucket pairs). Raising numBlocks
    * widens the key by (numBlocks−maxDist−…)·blockBits — e.g. bits=64,
    * maxDist=3, numBlocks=8: 56 keys/doc but 40-bit keys, shrinking
    * expected bucket sizes by ~2²⁴ — the right trade at corpus scale.
    * Recall stays EXACT (pigeonhole covers every ≤ d pair). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3, bits: Int = 64,
                      hashFamily: HashFamily = HashFamily.XxHash64,
                      numBlocks: Int = 4): DataFrame = {
    require(numBlocks > maxDist,
      s"need numBlocks ($numBlocks) > maxDist ($maxDist) for the pigeonhole")
    require(bits % numBlocks == 0, s"bits $bits not divisible by $numBlocks")
    require(numBlocks <= 10,
      s"numBlocks $numBlocks: C(numBlocks, numBlocks-maxDist) keys/doc " +
        "explodes past ~10 blocks; pick a divisor of `bits` in 4-10 " +
        "(with the default bits=64 that means 4 or 8)")
    val blockBits = bits / numBlocks
    val mask = if (blockBits == 64) -1L else (1L << blockBits) - 1
    def blockVal(i: Int): Column =
      shiftrightunsigned(col("simhash"), i * blockBits).bitwiseAND(mask)
    val combos = (0 until numBlocks).combinations(numBlocks - maxDist).toSeq
    // read by both join sides: checkpoint, not cache — nothing is left
    // in the session's cache
    val fp = simhash(df, idCol, textCol, bits, hashFamily).localCheckpoint()
    val keyed = fp.select(col("id"), col("simhash"),
      posexplode(array(combos.map(combo =>
        concat_ws(",", combo.map(i => blockVal(i).cast("string")): _*)): _*)))
      .withColumnRenamed("pos", "block").withColumnRenamed("col", "block_val")
    val l = keyed.select(col("block"), col("block_val"),
      col("id").as("id_a"), col("simhash").as("sim_a"))
    val r = keyed.select(col("block"), col("block_val"),
      col("id").as("id_b"), col("simhash").as("sim_b"))
    l.join(r, Seq("block", "block_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Connected components over an undirected pair relation
    * (id_a, id_b) via hash-min label propagation: every node starts as
    * its own representative; each round takes the min over its
    * neighbors' reps; fixpoint after O(component diameter) rounds.
    * Each round is one join + one aggregation — no driver-side graph,
    * no all-pairs — and the label relation is localCheckpoint'ed so
    * the plan does not grow with iterations. Near-dup clusters have
    * tiny diameters, so this converges in a handful of rounds.
    * Output: (id, rep) for every id appearing in `pairs`. Throws if the
    * propagation has not converged after `maxIter` rounds — a silent
    * cap would return WRONG labels for any component whose diameter
    * exceeds it. */
  /** Below this many candidate pairs the component resolution runs as
    * a driver-side union-find: the pair relation is the BOUNDED
    * candidate set (never the corpus), so ≤1M edges is ≤ ~50 MB on the
    * driver, and the union-find replaces per-round join+checkpoint
    * scheduling (~1 s/round in local mode for a 256-edge graph) with
    * microseconds. Above it, the distributed hash-min propagation runs
    * unchanged — the 10⁹-doc posture is untouched. */
  val LocalCcMaxPairs: Long = 1000000L

  def connectedComponents(rawPairs: DataFrame, maxIter: Int = 50,
                          localMaxPairs: Long = LocalCcMaxPairs): DataFrame = {
    // pin uncached inputs before the size probe — otherwise the (often
    // deep) candidate pipeline would evaluate once for the count and
    // again for the collect / edges build
    val wasCached =
      rawPairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val pairs = if (wasCached) rawPairs else rawPairs.cache()
    var pairsReleased = wasCached // never unpersist a caller's cache
    def releasePairs(): Unit =
      if (!pairsReleased) { pairs.unpersist(); pairsReleased = true }
    try {
      // runtime-size-based strategy switch (the same idea AQE applies
      // to joins): small candidate graphs resolve on the driver. Only
      // id types whose driver-side ordering provably matches Spark's
      // take the local path — anything else stays distributed.
      if (pairs.count() <= localMaxPairs &&
          localOrdering(pairs.schema("id_a").dataType).isDefined)
        return localConnectedComponents(pairs)
      val edges = pairs
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct().cache()
      // materialize edges, then drop the pair pin immediately — holding
      // both through the rounds double-stores a large relation
      edges.count()
      releasePairs()
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("rep", col("id"))
        .localCheckpoint()
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val neighborMin = edges
          .join(labels.select(col("id").as("dst"), col("rep").as("nrep")),
            "dst")
          .groupBy("src").agg(min("nrep").as("min_neighbor"))
        // the convergence probe rides the checkpoint materialization as
        // an observed metric — ONE job per round, where a separate
        // filter(...).isEmpty probe after the checkpoint cost a second
        // scheduler round-trip per iteration
        val obs = new org.apache.spark.sql.Observation(s"cc_round_$i")
        val updated = labels
          .join(neighborMin.withColumnRenamed("src", "id"), Seq("id"), "left")
          .withColumn("new_rep",
            least(col("rep"), coalesce(col("min_neighbor"), col("rep"))))
          .observe(obs, sum(when(col("new_rep") < col("rep"), 1L)
            .otherwise(0L)).as("changed"))
          .localCheckpoint()
        converged = Option(obs.get("changed"))
          .forall(_.asInstanceOf[Long] == 0L)
        labels = updated.select(col("id"), col("new_rep").as("rep"))
        i += 1
      }
      edges.unpersist()
      require(converged,
        s"connected components did not converge in $maxIter rounds — a " +
          "component's diameter exceeds maxIter; raise it")
      labels
    } finally releasePairs() // also on the non-convergence throw
  }

  /** Driver-side `<` matching Spark's ordering for the id type, or
    * None when no provably-equivalent comparison exists (then the
    * distributed path must run regardless of size). Strings compare as
    * UTF-8 bytes — Spark's string ordering is binary UTF-8, and Scala's
    * UTF-16 `<` DIVERGES on supplementary-plane characters (surrogates
    * 0xD800+ sort before 0xE000.. in UTF-16 but after in UTF-8). */
  private[graft] def localOrdering(
      idType: org.apache.spark.sql.types.DataType)
      : Option[(Any, Any) => Boolean] = {
    import org.apache.spark.sql.types._
    idType match {
      case StringType => Some { (a, b) =>
        val ab = a.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bb = b.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        java.util.Arrays.compareUnsigned(ab, bb) < 0
      }
      case ByteType | ShortType | IntegerType | LongType => Some {
        (a, b) => a.asInstanceOf[Number].longValue <
          b.asInstanceOf[Number].longValue
      }
      case _ => None // dates, decimals, floats… stay distributed
    }
  }

  /** Driver-side union-find for small candidate graphs (the normal
    * case — near-dup pair sets are tiny next to the corpus). Same
    * semantics as the propagation: rep = the component's minimum id
    * under Spark's ordering for the id type. Zero iterative jobs. */
  private[graft] def localConnectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("id_a").dataType
    val lt: (Any, Any) => Boolean = localOrdering(idType).getOrElse(
      throw new IllegalArgumentException(
        s"no driver-side ordering for id type $idType"))
    val edges = pairs.select("id_a", "id_b").collect()
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val nodes = parent.keys.toSeq
    val minOfRoot = scala.collection.mutable.HashMap.empty[Any, Any]
    nodes.foreach { n =>
      val r = find(n)
      minOfRoot.get(r) match {
        case Some(m) => if (lt(n, m)) minOfRoot(r) = n
        case None => minOfRoot(r) = n
      }
    }
    val out = nodes.map(n => org.apache.spark.sql.Row(n, minOfRoot(find(n))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("rep", idType)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava, schema)
  }

  /** Duplicate-cluster resolution — the step that turns near-dup PAIRS
    * into a keep/drop decision: components over the pair graph, every
    * id from `all` joined in (singletons form their own cluster), the
    * min-id member kept as the canonical survivor. Output:
    * (id, cluster_rep, cluster_size, is_kept). */
  def resolveClusters(all: DataFrame, idCol: String,
                      pairs: DataFrame): DataFrame = {
    // connectedComponents pins the (often deep) candidate pipeline
    // itself, at the pairs' own partitioning, and releases the pin
    // before returning.
    // No broadcast hint: labels are bounded by the ids in `pairs`, which
    // is usually tiny (AQE converts the join to broadcast at runtime)
    // but can be corpus-sized on a degenerate corpus, where a forced
    // broadcast would OOM the driver.
    val labels = connectedComponents(pairs)
    val full = all.select(col(idCol).as("id")).distinct()
      .join(labels, Seq("id"), "left")
      .withColumn("cluster_rep", coalesce(col("rep"), col("id")))
      .drop("rep")
    val sizes = full.groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
    full.join(sizes, "cluster_rep")
      .withColumn("is_kept", col("id") === col("cluster_rep"))
      .select("id", "cluster_rep", "cluster_size", "is_kept")
  }

  /** Quality-aware cluster keep rule — the practical complement of
    * [[resolveClusters]]'s min-id convention: within every near-dup
    * cluster keep the HIGHEST-quality member (ties to the lowest id),
    * the "keep the longest / best-scored copy" policy real curation
    * pipelines apply after near-dup detection.
    *
    * Scale: one map-side-combinable argmax aggregation per cluster
    * (a lexicographic struct max — no per-cluster rank window) plus
    * one keyed join back; everything else is [[resolveClusters]]'
    * shape. `idCol` must cast to LONG (the tie-break negates it inside
    * the comparison struct).
    * Output: (id, cluster_rep, cluster_size, quality, is_kept). */
  def keepBestOfCluster(all: DataFrame, idCol: String, qualityCol: String,
                        pairs: DataFrame): DataFrame = {
    val clusters = resolveClusters(all, idCol, pairs)
      .drop("is_kept") // min-id rule replaced by the quality argmax
    val q = all.select(col(idCol).cast("long").as("id"),
      col(qualityCol).cast("double").as("quality"))
    val withQ = clusters.join(q, "id")
    val best = withQ.groupBy("cluster_rep")
      .agg(max(struct(col("quality"), (-col("id")).as("negid"))).as("m"))
      .select(col("cluster_rep"), (-col("m.negid")).as("best_id"))
    withQ.join(best, "cluster_rep")
      .withColumn("is_kept", col("id") === col("best_id"))
      .select("id", "cluster_rep", "cluster_size", "quality", "is_kept")
  }

  /** N-gram coverage — the memorization/novelty METRIC dual of
    * [[contamination]] (Lee et al. 2022 §5 measure "how much of the
    * eval set is n-gram-covered by train"): for each eval doc, the
    * fraction of its DISTINCT n-grams that occur anywhere in the train
    * corpus. Direction is reversed vs decontamination (per-EVAL-doc
    * scores against the big train side), so the train shingle relation
    * cannot broadcast: distinct train shingles meet the eval shingles
    * on a shingle-keyed shuffle equi-join — partition-parallel at any
    * corpus size, with map-side-combinable aggregations on both sides
    * (a bloom prefilter on the eval shingle set would cut the shuffle
    * further, the [[decontaminateBloom]] discipline, at the cost of a
    * sketch pass; the exact join is already the scale-safe shape).
    * Docs with < n tokens have no shingles and are absent from the
    * output (coverage of nothing is undefined, not 0).
    * Output: (id, n_grams, n_seen, coverage ∈ [0,1]). */
  def ngramCoverage(train: DataFrame, trainId: String, trainText: String,
                    evalDf: DataFrame, evalId: String, evalText: String,
                    n: Int = 3): DataFrame = {
    val trainSh = shingles(train, trainId, trainText, n)
      .select("shingle").distinct()
      .withColumn("_seen", lit(1))
    shingles(evalDf, evalId, evalText, n)
      .join(trainSh, Seq("shingle"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), count(col("_seen")).as("n_seen"))
      .withColumn("coverage", round(
        col("n_seen").cast("double") / col("n_grams"), 6))
  }

  /** Benchmark-contamination check: flag training docs sharing any
    * token n-gram shingle with an eval/benchmark corpus — the standard
    * decontamination pass of a training-data pipeline. The eval side is
    * distinct shingles of a (small) benchmark set and rides a
    * broadcast; the train side is one narrow shingle explode + one
    * aggregation. Output: (id, n_shared, contaminated). */
  def contamination(train: DataFrame, trainId: String, trainText: String,
                    evalDf: DataFrame, evalId: String, evalText: String,
                    n: Int = 3): DataFrame = {
    val trainSh = shingles(train, trainId, trainText, n)
    val evalSh = shingles(evalDf, evalId, evalText, n)
      .select("shingle").distinct()
    val hits = trainSh.join(broadcast(evalSh), "shingle")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
    train.select(col(trainId).as("id")).distinct()
      .join(hits, Seq("id"), "left")
      .na.fill(0L, Seq("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
  }

  /** Decontamination that KEEPS the clean rows directly — the
    * pipeline-composition form of [[contamination]]: contaminated ids
    * (any shared n-gram with the broadcast eval shingles) are
    * anti-joined away in ONE join, instead of a contaminated-flag
    * relation plus a join-back. Only EXISTENCE of a shared n-gram
    * matters, so the train side is the raw exploded gram stream — no
    * distinct shuffle per (doc, shingle) — left-semi-joined map-side
    * against the broadcast distinct eval shingles. The matching ids
    * are de-duplicated (partial-aggregated map-side) before the
    * anti-join: a train doc copying an eval doc matches once per gram.
    * Surviving set is identical to
    * `contamination(...).filter(!contaminated)` re-joined to train. */
  def decontaminateRows(train: DataFrame, trainId: String, trainText: String,
                        evalDf: DataFrame, evalId: String, evalText: String,
                        n: Int = 3): DataFrame = {
    val evalSh = gramRows(evalDf, evalId, evalText, n)
      .select("shingle").distinct()
    val contaminatedIds = gramRows(train, trainId, trainText, n)
      .join(broadcast(evalSh), Seq("shingle"), "left_semi")
      .select(col("id").as(trainId)).distinct()
    train.join(contaminatedIds, Seq(trainId), "left_anti")
  }

  /** [[decontaminateRows]] with a Bloom-filter prefilter — the scale
    * path when the distinct eval-shingle relation is too large to
    * BROADCAST as an exact hash relation (a few hundred MB of hash
    * table) but its Bloom sketch still fits comfortably (~1.2 GB for
    * 10⁹ shingles at 1% fpp; ~12 MB for 10⁷). The result is EXACTLY
    * [[decontaminateRows]]': the bloom admits false positives only,
    * and every surviving candidate is re-verified by the exact
    * shingle join — a false positive costs shuffle bytes, never
    * correctness, and the bloom has no false negatives by
    * construction.
    *
    * Plan shape: the train-side shingle stream is prefiltered MAP-SIDE
    * by a codegen'd [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * probe against the broadcast-serialized sketch (a literal; no UDF,
    * no closure capture), so the exact verify join shuffles only the
    * ~fpp-sized candidate slice of the corpus instead of every
    * shingle. The sketch itself is built by a treeAggregate over the
    * xxhash64'd eval shingles — the same hash the probe expression
    * applies — with partial bitmaps OR-merged up the tree. */
  def decontaminateBloom(train: DataFrame, trainId: String,
      trainText: String, evalDf: DataFrame, evalId: String,
      evalText: String, n: Int = 3, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.util.sketch.BloomFilter
    val spark = train.sparkSession
    import spark.implicits._
    // cached: three consumers (count for sketch sizing, sketch build,
    // exact verify join); the relation is bounded by the eval set, and
    // the cache is RELEASED below once the contaminated-id relation is
    // pinned — repeated calls in a long-lived session must not
    // accumulate eval-shingle blocks
    val evalSh = shingles(evalDf, evalId, evalText, n)
      .select("shingle").distinct().cache()
    val nEval = math.max(1L, evalSh.count())
    // per-partition partial filters tree-merged: treeAggregate would
    // ship a FULL-SIZE empty filter as every task's zeroValue (at the
    // ~1.2 GB / 10⁹-shingle scale, per task); here a partial exists
    // only where eval data does, and merges ride the tree
    val hashes = evalSh.select(xxhash64(col("shingle")).as("h")).as[Long].rdd
    val partials = hashes.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val f = BloomFilter.create(nEval, fpp)
        it.foreach(f.putLong)
        Iterator.single(f)
      }
    }
    // null zeroValue (bytes, not a full-size filter) + null-absorbing
    // merge: one job, and an empty eval set degrades to a fresh filter
    val bf = Option(partials.treeAggregate(null: BloomFilter)(
        (a, b) => if (a == null) b else { a.mergeInPlace(b); a },
        (a, b) =>
          if (a == null) b
          else if (b == null) a
          else { a.mergeInPlace(b); a }))
      .getOrElse(BloomFilter.create(nEval, fpp))
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    // the serialized sketch rides the plan as a LITERAL — simple and
    // codegen'd, but it ships with the task binary of EVERY stage that
    // contains the probe (once per stage per executor). At sketch
    // sizes where that shipping cost bites (≫100 MB), route it the way
    // Spark's own runtime filters do: a broadcast variable probed via
    // a scalar subquery, trading plan-literal simplicity for one-time
    // broadcast distribution.
    val mightContain = ColumnBridge.column(new BloomFilterMightContain(
      Literal.create(out.toByteArray,
        org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(ColumnBridge.expression(col("shingle"))))))
    // eager localCheckpoint: materializes the (bounded) contaminated-id
    // relation NOW, so the eval-shingle cache can be dropped before
    // returning — the caller's anti-join re-reads only the pinned ids
    val contaminatedIds = shingles(train, trainId, trainText, n)
      .filter(mightContain)
      .join(evalSh, "shingle")
      .select(col("id").as(trainId)).distinct()
      .localCheckpoint()
    evalSh.unpersist(blocking = false)
    train.join(contaminatedIds, Seq(trainId), "left_anti")
  }

  /** FUZZY decontamination — the MinHash twin of [[decontaminateRows]]
    * (which requires an EXACT shared n-gram): drop training docs that
    * NEAR-duplicate any eval/benchmark doc, the cross-corpus analogue
    * of [[minhashNearDups]]. Candidate (train, eval) pairs meet on an
    * LSH band-bucket equi-join BETWEEN the two corpora's signature
    * relations — never all-pairs, and the eval side's banded keys are
    * benchmark-sized, so at scale they ride a broadcast while the
    * train side streams map-side. Every candidate is then verified by
    * exact cross-corpus n-gram Jaccard ≥ `threshold` (separate shingle
    * set relations per side: the two id spaces may overlap), so a
    * bucket collision alone never drops a doc. Same shape as
    * [[minhashIncremental]]: per-side [[shingleSets]], checkpointed for
    * the call, and the [[jaccardOfSets]] verify.
    *
    * The verify joins are bounded by the candidate set: each side's
    * sets semi-filter to its candidate ids before any shuffle (the
    * [[ngramJaccardFrom]] discipline), so a corpus-sized train side
    * never crosses an exchange to be verified. */
  def decontaminateFuzzy(train: DataFrame, trainId: String,
      trainText: String, evalDf: DataFrame, evalId: String,
      evalText: String, n: Int = 3, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.2,
      hashFamily: HashFamily = HashFamily.XxHash64): DataFrame = {
    val contaminatedIds = crossNearDups(
        shingleSets(train, trainId, trainText, n),
        shingleSets(evalDf, evalId, evalText, n), numHashes, bands,
        threshold, hashFamily)
      .select(col("id_a").as(trainId))
    train.join(contaminatedIds, Seq(trainId), "left_anti")
  }

  /** Plane count that keeps expected LSH bucket occupancy near
    * `targetBucket` vectors: ceil(log2(n / targetBucket)), clamped to
    * [1, 24]. Use when the corpus size is known; pass the result as
    * `nPlanes` so bucket population stays bounded as the corpus grows
    * (a FIXED plane count goes quadratic in-bucket at 1000× data). */
  def embeddingPlanesFor(n: Long, targetBucket: Long = 1024): Int =
    math.max(1, math.min(24,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt))

  /** Embedding-cosine near-dup: LSH-bucket the vectors (random
    * hyperplanes), compare only within buckets, keep pairs with
    * cosine ≥ threshold.
    *
    * `nPlanes <= 0` derives the plane count from the corpus size via
    * [[embeddingPlanesFor]] (one count() job). `bands` > 1 repeats the
    * bucketing with independent plane sets and unions the candidates —
    * the MinHash-banding recall trade: with per-plane agreement
    * probability p, recall ≈ 1 − (1 − p^nPlanes)^bands, so more planes
    * (smaller buckets) can be offset with more bands. Duplicate
    * candidate pairs across bands are de-duplicated before output. */
  /** SemDeDup-style cluster-bounded semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest coarse
    * centroid (the same deterministic k-means quantizer IVF search
    * uses, [[graft.operators.Knn.ivfAssign]]), compare pairs ONLY
    * within a cluster, and mark a vector as a duplicate when an
    * EARLIER (lower-id) vector in the same cluster has cosine ≥
    * `threshold`. Keep-first-by-id is the deterministic analog of the
    * paper's keep-one-representative rule; no transitive chaining —
    * the verdict for an id depends only on its own earlier neighbors,
    * so it is order-independent and exactly reproducible.
    *
    * Scale shape: one shuffle on cluster_id, then per-cluster pairwise
    * — k·(n/k)² work in the balanced case, the published trick that
    * makes embedding dedup feasible at corpus scale (SemDeDup runs 50k
    * clusters over LAION). Fit the quantizer with
    * [[graft.operators.Knn.scaledCellCount]] cells (k = max(8,
    * ⌈n/256⌉) — the DEFAULT every pairwise-within-cell consumer uses;
    * a fixed k makes cells grow linearly and the pair count
    * quadratically, the failure the 10× scale probe measured at ratio
    * 150 on mutualTopK). A skewed cluster shows up as one big task,
    * mitigable by splitting hot clusters with a salt on id ranges —
    * never by falling back to all-pairs.
    *
    * Output: (id, cluster_id, is_duplicate, dup_of, max_cosine) where
    * dup_of is the LOWEST qualifying earlier id and max_cosine the
    * highest qualifying cosine (null when kept). */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Array[Double]],
                    threshold: Double): DataFrame = {
    // localCheckpoint: three consumers (both pair sides + the final
    // payload projection) would otherwise each re-run the
    // k-dot-product argmax over the full vectors scan. Checkpoint, not
    // cache(): a per-call cache is never unpersisted and would pin a
    // corpus-sized relation for the session; checkpoint blocks are
    // released by the ContextCleaner once the result is dropped (the
    // same lifetime pattern connectedComponents uses).
    val assigned = Knn.ivfAssign(
      vectors.select(col(idCol).as("id"), col(vecCol).as("vec")),
      "vec", centroids).localCheckpoint()
    val l = assigned.select(col("cluster_id"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val r = assigned.select(col("cluster_id"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    val dups = l.join(r, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("id_b").as("id"))
      .agg(min("id_a").as("dup_of"), max("cosine").as("max_cosine"))
    assigned.select(col("id"), col("cluster_id"))
      .join(dups, Seq("id"), "left")
      .withColumn("is_duplicate", col("dup_of").isNotNull)
      .select("id", "cluster_id", "is_duplicate", "dup_of", "max_cosine")
  }

  /** Incremental embedding near-dup — [[semanticDedup]]'s arrival
    * shape and [[minhashIncremental]]'s dense sibling: arrivals and
    * the standing corpus are both assigned under a FROZEN coarse
    * quantizer (assignment only — the standing side's cells are a
    * materialized index at scale, partitioned by cluster_id), and the
    * candidate join is arrival-cells ⨝ standing-cells on cluster_id —
    * never a self-join of the union — so standing vectors surface
    * only in cells an arrival lands in, and within-batch pairs are
    * deliberately NOT emitted (run [[semanticDedup]] on the batch for
    * those). Ids must be disjoint across the two relations.
    * Output: (id_a arrival, id_b standing, cluster_id,
    * cosine ≥ threshold). */
  def semanticDedupIncremental(incoming: DataFrame, standing: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Array[Double]],
      threshold: Double): DataFrame = {
    val a = Knn.ivfAssign(
        incoming.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")),
        "vec_a", centroids)
    val b = Knn.ivfAssign(
        standing.select(col(idCol).as("id_b"), col(vecCol).as("vec_b")),
        "vec_b", centroids)
    a.join(b, Seq("cluster_id"))
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cluster_id", "cosine")
  }

  def embeddingNearDups(vectors: DataFrame, idCol: String, vecCol: String,
                        dim: Int, threshold: Double = 0.95,
                        nPlanes: Int = 8, bands: Int = 1): DataFrame = {
    require(bands >= 1)
    val np = if (nPlanes > 0) nPlanes
             else embeddingPlanesFor(vectors.count())
    // band 0 keeps the historical seed so single-band results (and the
    // dedup_embedding oracle) are unchanged
    val planeSets = (0 until bands).map(b =>
      Knn.hyperplanes(np, dim,
        if (b == 0) "graft-lsh" else s"graft-lsh:$b"))
    val bucketed = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .select(col("id"), col("vec"),
        posexplode(array(planeSets.map(ps =>
          Knn.lshBucket(col("vec"), ps)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val l = bucketed.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("vec").as("vec_a"))
    val r = bucketed.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("vec").as("vec_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .distinct()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{CorpusQuery, QueryTerms, TextFunctions, VectorExpressions}
import graft.plans.PreparedPlan

/** BM25 sparse indexing and scoring as declarative DataFrame plans.
  *
  * Formula (ref packages/shared/plugins/builtins/bm25_sparse_indexer.py:11-23):
  *   idf(t)      = max(0, ln((N - n(t) + 0.5) / (n(t) + 0.5) + 1))
  *   w(t, D)     = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))
  *   w(t, Q)     = tf_q(t) · idf(t)           (no length normalization,
  *                 ref :414-464; unknown terms dropped)
  *   score(D, Q) = Σ_t w(t,Q) · w(t,D)        (sparse dot product, ref
  *                 packages/vecpipe/sparse.py:118-156)
  *
  * Statefulness deviation (SURVEY.md §7.4 risk 2): the reference updates
  * IDF incrementally mid-batch under a lock; we define SNAPSHOT stats over
  * the full corpus — order-independent and embarrassingly parallel, which
  * is the only semantics that scales to 100 TB. Scores remain
  * self-consistent; the deviation is documented here.
  *
  * Scale posture: per-(doc, term) TF is computed INSIDE the scan stage
  * with higher-order functions (docTermFreqs) — the raw token stream
  * never crosses an exchange. The only aggregation shuffle is the
  * per-term df/idf stats (map-side combined to ≤|vocab| rows per
  * partition); the stats relation is tiny (term, df, idf) and joins
  * back broadcast (AQE) — at web-scale vocabularies it degrades to one
  * shuffle on `term`. The N/avgdl scalars ride a broadcast of a 1-row
  * DF. No global window sits in the scoring path.
  */
object Bm25 {
  final case class Params(k1: Double = 1.5, b: Double = 0.75)
  val Default: Params = Params()

  /** How many request shapes an [[Index]] keeps a prepared plan for. */
  val MaxPreparedShapes = 16

  /** Explode a corpus into (id, term) rows, duplicates preserved. */
  def tokens(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(
      col(idCol).as("id"),
      explode(TextFunctions.tokensCol(col(textCol))).as("term"))

  /** Per-document token length, INCLUDING zero-token docs (the reference
    * counts every added chunk toward N and avgdl). */
  def docLengths(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(
      col(idCol).as("id"),
      size(TextFunctions.tokensCol(col(textCol))).as("doc_len"))

  /** (term, df): number of distinct docs containing each term. */
  def termDocFreqs(toks: DataFrame): DataFrame =
    toks.groupBy("term").agg(countDistinct("id").as("df"))

  /** Per-(doc, term) frequencies: (id, term, tf) via explode + one
    * map-side-combined aggregation. (A doc-local HOF formulation that
    * avoids the shuffle entirely was measured 5× SLOWER here: higher-
    * order functions evaluate outside whole-stage codegen and the
    * optimizer re-inlines the tokenizer into every lambda consumer —
    * O(tokens²) per doc. The exploded groupBy stays codegen'd.) */
  def docTermFreqs(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    tokens(corpus, idCol, textCol)
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))

  /** Canonical sparse dot product: Σ weight·q_weight summed in TERM
    * order. Float addition is non-associative, and `sum()` aggregates
    * in engine-chosen order — near-tied docs could then rank
    * differently between Spark and an oracle engine (the exact failure
    * rake_keywords had in round 1). Per (query, doc) there are at most
    * |query terms| products, so the sorted-list aggregate costs O(q·log
    * q) on a handful of elements. The DuckDB twin is
    * `list_sum(list(w.weight * q_weight ORDER BY term))`. */
  def sparseScore(productCol: Column, termCol: Column): Column =
    aggregate(
      sort_array(collect_list(struct(termCol.as("t"), productCol.as("p")))),
      lit(0.0),
      (acc, x) => acc + x.getField("p"))

  /** idf column from df and N (both already joined in). */
  def idfCol(dfCol: Column, nCol: Column): Column =
    greatest(lit(0.0),
      log((nCol.cast("double") - dfCol + 0.5) / (dfCol.cast("double") + 0.5) + 1.0))

  /** Full corpus statistics in one relation: (term, df, idf, n_docs,
    * avg_doc_len). This is operator A1's queryable surface — the same
    * single-scan stats relation [[buildIndex]] assembles. */
  def corpusStats(corpus: DataFrame, idCol: String, textCol: String,
                  pinStats: Boolean = false): DataFrame =
    buildIndex(corpus, idCol, textCol, pinStats = pinStats).stats
      .select("term", "df", "n_docs", "avg_doc_len", "idf")

  /** Per-(doc, term) BM25 weights — operator A2 in relational form.
    * Zero/negative-weight terms are dropped (idf clamp), mirroring the
    * reference's `if weight > 0` guard. */
  def docTermWeights(corpus: DataFrame, idCol: String, textCol: String,
                     p: Params = Default, pinStats: Boolean = false): DataFrame =
    buildIndex(corpus, idCol, textCol, p, pinStats = pinStats).docWeights

  /** Assemble (id, indices, values) sparse vectors. Term ids are the
    * rank of the term in the sorted vocabulary (snapshot semantics; the
    * reference uses insertion order, which is inherently sequential).
    *
    * Rank assignment is a two-phase DISTRIBUTED sort kept entirely on
    * the DataFrame layer: range-partition the vocabulary, rank locally
    * per partition (`row_number` over `spark_partition_id` — each
    * window partition is one range partition, never the whole
    * vocabulary), then add broadcast per-partition prefix offsets (a
    * P-row driver collect). A global un-partitioned window would pull
    * the whole vocabulary into one sort buffer; the previous RDD
    * `sortBy+zipWithIndex` form scaled the same way but severed
    * exchange reuse with the weights subplan and paid sortBy's extra
    * sampling job per call.
    *
    * The vocabulary itself derives from the STATS relation
    * (`idf > 0` — exactly the terms whose weights survive
    * [[buildIndex]]'s positive-weight guard, since weight > 0 ⇔
    * idf > 0), which is vocabulary-sized, not corpus-sized. */
  def sparseVectors(corpus: DataFrame, idCol: String, textCol: String,
                    p: Params = Default, pinStats: Boolean = false): DataFrame = {
    val idx = buildIndex(corpus, idCol, textCol, p, pinStats = pinStats)
    val weights = idx.docWeights
    // follows session parallelism (the Sampling.rangeParts discipline —
    // no fixed local-harness cap): the per-partition offsets collect is
    // bounded by the partition count either way
    val rankParts = math.max(1,
      corpus.sparkSession.sessionState.conf.numShufflePartitions)
    // local rank = monotonically_increasing_id over the range-sorted
    // partitions (pid in the high 31 bits, the within-partition row
    // offset in the low 33) — the relational zipWithIndex, with no
    // window exchange at all
    val ranged = idx.stats.filter(col("idf") > 0.0).select("term")
      .repartitionByRange(rankParts, col("term"))
      .sortWithinPartitions("term")
      .withColumn("mid", monotonically_increasing_id())
      .select(col("term"), shiftright(col("mid"), 33).cast("int").as("pid"),
        (col("mid").bitwiseAND(lit((1L << 33) - 1))).as("lr"))
      // MATERIALIZED once: two consumers (offs + the id join) must read
      // the SAME physical range partitioning — uncached, each copy
      // would run its own RangePartitioner, whose sampled boundaries
      // can diverge between executions, silently corrupting the
      // offset/rank pairing. The relation is vocabulary-sized.
      .localCheckpoint()
    // per-partition prefix offsets: the un-partitioned window runs
    // over the P-row COUNTS relation (P = rankParts, never the
    // vocabulary), so its single-partition sort is bounded by the
    // partition count at any corpus scale
    val offs = ranged.groupBy("pid").agg(count(lit(1)).as("c"))
      .withColumn("off",
        coalesce(sum("c").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "off")
    val vocab = ranged.join(broadcast(offs), "pid")
      .select(col("term"), (col("lr") + col("off")).cast("int").as("term_id"))
    weights.join(vocab, "term")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("term_id"), col("weight"))))
        .as("pairs"))
      .select(
        col("id"),
        col("pairs.term_id").as("indices"),
        col("pairs.weight").as("values"))
  }

  /** Query-side term weights for a literal query string: tf_q · idf,
    * unknown terms dropped. Returns (term, q_weight). Built as a plan
    * against the corpus stats so it composes; the query itself is a
    * handful of rows and broadcasts. */
  def queryTermWeights(stats: DataFrame, queryText: String,
                       spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val qTerms = TextFunctions.tokenize(queryText)
      .groupBy(identity).view.mapValues(_.size).toSeq
    import spark.implicits._
    val q = qTerms.toDF("term", "q_tf")
    q.join(stats.select("term", "idf"), "term")
      .filter(col("idf") > 0.0)
      .withColumn("q_weight", col("q_tf").cast("double") * col("idf"))
      .select("term", "q_weight")
  }

  /** A reusable BM25 index: the token explosion, doc lengths, and term
    * stats built ONCE and shared by every consumer (identical subplans
    * also let Spark reuse the shuffle exchanges).
    *
    * A STANDING index — one whose `docWeights` the caller has persisted
    * — also carries [[forward]], the per-doc forward relation
    * [[searchTopK]] scores from, the [[serving]] relation of the table
    * it was built over, and the prepared plans of the request shapes
    * served from that relation ([[preparedPlan]]). All three are fields
    * of the index object: they are built on demand and dropped with it.
    *
    * `corpus`: the analyzed plan of the corpus the index was built over
    * ([[buildIndex]], [[indexFromPostings]]); None for an index assembled
    * from parts or restored from disk. [[builtOver]] compares a table
    * with it. */
  final case class Index(stats: DataFrame, docWeights: DataFrame,
      corpus: Option[LogicalPlan] = None) {
    @volatile private var fwd: DataFrame = _
    @volatile private var served: DataFrame = _
    private var servingAsked = false // guarded by this

    /** True when the caller persisted `docWeights`: the standing-index
      * pattern (cache + materialize once, serve many requests). */
    def isStanding: Boolean = docWeights.storageLevel != StorageLevel.NONE

    /** `(id, fwd ARRAY<STRUCT<term, weight, idf, tf>>, doc_len)`, one
      * row per doc with at least one positive-weight term, entries
      * sorted by term — the reference's per-chunk sparse vector point
      * `{chunk_id, indices, values}` (ref
      * packages/vecpipe/sparse.py:118-156) with the term's idf and tf
      * riding beside its weight, and the doc's token count. `doc_len` is
      * Σ tf over the entries, which is the whole count: idf > 0 for every
      * df ≤ N, so every posting has a positive weight and is kept. Built
      * from docWeights ⨝ stats and localCheckpointed on first call, so it
      * is a leaf in every request plan; Spark's ContextCleaner drops its
      * blocks once the index is garbage-collected. */
    def forward: DataFrame = {
      if (fwd == null) synchronized {
        if (fwd == null) fwd = docWeights.select("id", "term", "weight", "tf")
          .join(stats.select("term", "idf"), "term")
          .groupBy("id")
          .agg(sort_array(collect_list(struct(col("term"), col("weight"),
              col("idf"), col("tf")))).as("fwd"),
            sum("tf").as("doc_len"))
          .localCheckpoint()
      }
      fwd
    }

    /** Whether [[forward]] has been built — lets tests check that
      * non-standing indexes never pay for it. */
    private[graft] def forwardBuilt: Boolean = fwd != null

    /** Whether `table` is the corpus this index was built over: its
      * analyzed plan canonicalizes like [[corpus]]. False when the
      * corpus is unknown. */
    def builtOver(table: DataFrame): Boolean =
      corpus.exists(_.sameResult(table.queryExecution.analyzed))

    /** The serving relation of `table`, a standing index's answer to the
      * reference's point that holds vector, sparse vector and payload
      * together (ref packages/vecpipe/sparse.py:118-156): the `cols` of
      * `table` left joined to [[forward]] on `idCol` = id, so each table
      * row carries its `fwd` entries and `doc_len` (null when it has no
      * positive-weight term). A request then reads payload, vector and
      * sparse entries from one leaf, with no join, and a filtered slice
      * of it has what [[filteredForwardScore]] needs to score the slice
      * under its own statistics. None when `table` is not the corpus the
      * index was built over ([[builtOver]]): the entries are the
      * corpus's.
      *
      * The relation pays off only when the index serves many requests,
      * so it is built on the SECOND call: the first call answers None
      * and its request keeps the in-plan path, and an index that serves
      * one request (a rebuilt-per-batch index probed once) never pays
      * for the join. The built relation is localCheckpointed, in at most
      * as many partitions as `table` has, and kept for the index's
      * lifetime, like [[forward]]. */
    def serving(table: DataFrame, idCol: String,
        cols: Seq[String]): Option[DataFrame] = {
      require(isStanding, "a serving relation needs a standing index")
      if (!builtOver(table)) None
      else Option(served).orElse(synchronized {
        if (served == null && servingAsked) {
          val rows = table.select(cols.map(col): _*)
          // no more partitions than the table: each partition of the
          // relation costs every request a task per leg, and the
          // join's shuffle would spread a small table over all of them
          served = rows.join(forward.withColumnRenamed("id", idCol),
              Seq(idCol), "left")
            .coalesce(math.max(1, rows.rdd.getNumPartitions))
            .localCheckpoint()
        }
        servingAsked = true
        Option(served)
      })
    }

    /** How many serving relations this index has built: 0 or 1. */
    private[graft] def servingsBuilt: Int = if (served == null) 0 else 1

    /** The plans prepared over [[serving]]'s relation, one per request
      * shape, least recently used first. */
    private val prepared = new java.util.LinkedHashMap[AnyRef, PreparedPlan](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[AnyRef, PreparedPlan]): Boolean =
        size > MaxPreparedShapes
    }

    /** The plan prepared for a request `shape` (a value-compared key the
      * caller defines) over [[serving]]'s relation, if one is kept. A
      * prepared plan reads only that relation, so it lives as long as
      * the index; at most [[MaxPreparedShapes]] are kept, and the least
      * recently used one is dropped first. */
    def preparedPlan(shape: AnyRef): Option[PreparedPlan] =
      prepared.synchronized(Option(prepared.get(shape)))

    /** Keep `plan` as the prepared plan of `shape`. */
    def keepPreparedPlan(shape: AnyRef, plan: PreparedPlan): Unit =
      prepared.synchronized(prepared.put(shape, plan))

    /** How many request shapes have a prepared plan. */
    private[graft] def preparedShapes: Int = prepared.synchronized(prepared.size)

    /** Cache and materialize `docWeights` and build [[forward]], off
      * the query clock: the one way to make a standing index. */
    def pin(): Index = {
      val pinned = copy(docWeights = docWeights.cache())
      pinned.docWeights.count()
      pinned.forward
      pinned
    }
  }

  /** The standing relations a SERVING deployment keeps beside its
    * [[Index]] so filtered/boolean searches never re-tokenize the
    * corpus (the reference keeps persistent per-collection sparse
    * index files — ref packages/vecpipe/sparse.py — and serves every
    * request from them):
    *  - `posts`: `(id, term, tf, doc_len)` from [[postings]] (default
    *    tokenizer, stopwords removed) — feeds [[indexFromPostings]]
    *    for eligible-corpus statistics
    *  - `gateToks`: DISTINCT keep-stopword `(id, tok)` — feeds the
    *    must/must_not postings gates, whose terms may be stopwords */
  final case class Standing(posts: DataFrame, gateToks: DataFrame)

  /** @param pinStats cache the (vocabulary-sized) stats relation in a
    *   single partition BEFORE deriving docWeights, so (a) repeated
    *   searches over the same corpus reuse one entry via the cache
    *   manager's canonical-plan dedup, and (b) the docWeights join
    *   probes the InMemoryRelation instead of re-deriving the whole
    *   stats DAG (tf shuffle + globals) a second time inside its own
    *   subplan. Without the pin, AQE's runtime stage cache misses the
    *   canonically-identical tf exchanges that sit under the globals
    *   BroadcastExchange (non-AQE ReuseExchange dedupes them; measured
    *   on bm25_sparsevec: 3 full tokenize passes with AQE on vs 1 with
    *   it off), so every stats consumer re-tokenizes the corpus. The
    *   pin is the scale-right fix: the cached relation is
    *   vocabulary-sized, never corpus-sized. */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
                 p: Params = Default, pinStats: Boolean = false): Index =
    indexFromTf(corpus, idCol, postings(corpus, idCol, textCol), p, pinStats)

  /** Assemble an [[Index]] from a STANDING postings relation (the
    * [[postings]] schema `(id, term, tf, doc_len)`) instead of
    * re-tokenizing the corpus — the serve-path primitive behind the
    * filtered-collection searches: gates shrink the corpus, and the
    * eligible index derives from the standing postings restricted to
    * the eligible ids (one left-semi join), never a second tokenize
    * pass. Bit-exact vs [[buildIndex]] over the same corpus: the
    * restricted postings ARE the eligible corpus's tf rows (a doc's
    * postings depend only on its own text), n_docs counts the corpus
    * relation itself (zero-token docs included, matching buildIndex's
    * column-pruned count), and every downstream formula is shared via
    * [[indexFromTf]]. */
  def indexFromPostings(corpus: DataFrame, idCol: String,
      posts: DataFrame, p: Params = Default,
      pinStats: Boolean = false): Index = {
    val restricted = posts.join(
      corpus.select(col(idCol).as("id")), Seq("id"), "left_semi")
    indexFromTf(corpus, idCol, restricted, p, pinStats)
  }

  /** The shared assembly half of [[buildIndex]] /
    * [[indexFromPostings]]: globals, df/idf stats, and doc weights
    * from a `(id, term, tf, doc_len)` tf relation plus the corpus
    * relation (needed only for the zero-token-inclusive doc count). */
  private def indexFromTf(corpus: DataFrame, idCol: String,
      tfRows: DataFrame, p: Params, pinStats: Boolean): Index = {
    // N counts ALL docs (zero-token docs too) from a column-pruned scan
    // with no tokenize; total token count folds out of tf's existing
    // shuffle (zero-token docs contribute nothing to either sum). The
    // division is identical arithmetic to avg(doc_len): integer-valued
    // double sums are exact, so the result is bit-equal. Both scalars
    // come out of ONE union-aggregate: a 1-row × 1-row crossJoin here
    // would plant a BroadcastNestedLoopJoin inside the globals
    // broadcast, and nested broadcast materialization stalls ~20s on
    // the shared broadcast thread pool.
    // `tf + 0*doc_len` (not plain `tf`): referencing BOTH aggregated
    // columns keeps this consumer's pruned tf subplan canonically
    // identical to docWeights' (which uses tf AND doc_len), so the
    // planner's ReuseExchange serves every consumer from ONE tokenize
    // + shuffle pass instead of three pruning-divergent copies.
    val tokExpr = col("tf") + col("doc_len").cast("long") * lit(0L)
    val counts = corpus.select(lit(1L).as("_doc"), lit(0L).as("_tok"))
      .unionByName(tfRows.select(lit(0L).as("_doc"), tokExpr.as("_tok")))
      .agg(coalesce(sum("_doc"), lit(0L)).as("n_docs"),
        coalesce(sum("_tok"), lit(0L)).as("_tot"))
    // df(term) = tf's row count per term — derives from tf's shuffle
    // instead of a second full-token countDistinct pass; map-side
    // combines to ≤|vocab| rows per partition. count(tf+0*doc_len)
    // ≡ count(1) (both non-null) but keeps the subplan reuse-identical
    // — see tokExpr above.
    indexFrom(tfRows, tfRows.groupBy("term").agg(count(tokExpr).as("df")),
      counts, "_tot", p, pinStats)
      .copy(corpus = Some(corpus.queryExecution.analyzed))
  }

  /** The assembly both index sources share: broadcast globals
    * `(n_docs, avg_doc_len)` from `counts`' `n_docs` and token total
    * `totCol`, the `(term, df)` rows joined to them into the idf stats
    * (pinned when `pinStats`, see [[buildIndex]]), and the doc weights
    * of the `(id, term, tf, doc_len)` rows `tfRows`. */
  private def indexFrom(tfRows: DataFrame, termDf: DataFrame,
      counts: DataFrame, totCol: String, p: Params,
      pinStats: Boolean): Index = {
    val globals = broadcast(counts
      .select(col("n_docs"),
        when(col("n_docs") > 0,
          col(totCol).cast("double") / col("n_docs").cast("double"))
          .otherwise(lit(0.0)).as("avg_doc_len")))
    val statsRaw = termDf.crossJoin(globals)
      .withColumn("idf", idfCol(col("df"), col("n_docs")))
    val stats = if (pinStats) statsRaw.coalesce(1).cache() else statsRaw
    val lengthNorm = when(col("avg_doc_len") > 0.0,
      lit(1.0 - p.b) + lit(p.b) * col("doc_len").cast("double") / col("avg_doc_len"))
      .otherwise(lit(1.0))
    // stats is (term, df, idf) — tiny relative to the corpus; AQE
    // broadcasts it at local sizes and degrades to one term-keyed
    // shuffle at web-scale vocabularies
    val docW = tfRows
      .join(stats, "term")
      .withColumn("weight",
        col("idf") * (col("tf").cast("double") * lit(p.k1 + 1.0)) /
          (col("tf").cast("double") + lit(p.k1) * lengthNorm))
      .filter(col("weight") > 0.0)
      .select(col("id"), col("term"), col("tf"), col("weight"))
    Index(stats, docW)
  }

  /** Raw postings (id, term, tf, doc_len) — the per-doc-LOCAL half of
    * an index, which is what makes the index incrementally
    * maintainable: a doc's postings depend only on its own text, so
    * arrivals APPEND rows and departures DELETE rows (one anti-join on
    * id) without touching any other doc's rows. The global half (df, N,
    * Σlen → idf/avgdl) lives in the additive stats state
    * ([[graft.streaming.Sync.mergeBm25Stats]] /
    * [[graft.streaming.Sync.removeBm25Stats]]); [[indexFromParts]]
    * reassembles a queryable [[Index]] from the two. It is
    * [[buildIndex]]'s first stage. */
  def postings(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    // ONE tokenizing scan of the corpus: doc_len rides the explode as a
    // constant-per-doc column through the tf aggregation, so docW needs
    // no separate doc-lengths scan or join. (The tokenizer is evaluated
    // twice inside the same narrow stage — size() and explode() — which
    // beats a second full corpus read + shuffle join at any scale.)
    // doc_len MUST be projected in its own select BELOW the explode:
    // a generator is extracted into a Generate node and every OTHER
    // expression in the same select is planned in a Project ABOVE it —
    // which would re-run the full tokenizer once per exploded token
    // (O(tokens²) per doc; measured 10× on bm25_topk). Split this way,
    // the tokenizer runs twice per DOC (size + generator), both inside
    // the narrow scan stage.
    corpus
      .select(col(idCol).as("id"),
        size(TextFunctions.tokensCol(col(textCol))).as("doc_len"),
        col(textCol).as("_text"))
      .select(col("id"), col("doc_len"),
        explode(TextFunctions.tokensCol(col("_text"))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"), max("doc_len").as("doc_len"))

  /** Reassemble a queryable [[Index]] from incrementally-maintained
    * parts: `posts` (id, term, tf, doc_len) from [[postings]] (plus
    * appends/deletes), `termStats` (term, df) and `globals` (n_docs,
    * total_doc_len) from the additive merge/remove algebra. Bit-exact
    * vs [[buildIndex]] over the same corpus: df/N/Σlen are integer
    * sums (order-free), avg_doc_len is the same integer-valued
    * division, and the idf/weight formulas are shared — so a search
    * served from the maintained index equals one served from a full
    * rebuild, the property the cdc_reindex oracle replays. */
  def indexFromParts(posts: DataFrame, termStats: DataFrame,
                     globals: DataFrame, p: Params = Default,
                     pinStats: Boolean = false): Index =
    indexFrom(posts, termStats, globals, "total_doc_len", p, pinStats)

  /** Sparse dot-product top-k — operator W2: (id, score) for the top-k
    * docs sharing a term with the query, ranked (score desc, id asc).
    * Two plan shapes, one result:
    *
    *  - FORWARD SCAN, for a standing `index` ([[Index.isStanding]]: the
    *    caller persisted docWeights): one narrow scan of the index's
    *    [[Index.forward]] relation scored by the codegen'd
    *    [[graft.functions.SparseDot]] kernel ([[forwardScore]]), which
    *    folds `acc + weight · (q_tf · idf)` from 0.0 in term order over
    *    the doc's query-term entries and is null for a doc with none;
    *    then a TakeOrderedAndProject that sorts nulls last, and a filter
    *    that drops them ([[topKScored]]) — no query broadcast, no
    *    exchange, no lambda, one kernel evaluation per doc. The forward
    *    relation is built once per index, on first use.
    *  - POSTINGS JOIN, for every other index (derived in-plan, per
    *    request from [[indexFromPostings]], or restored from disk
    *    unpersisted): docWeights ⨝ broadcast query weights, a shuffle
    *    on id for the [[sparseScore]] aggregate, then the top-k. Such
    *    indexes never build the forward relation. Without an `index`,
    *    the stats are pinned in a single cached partition, since they
    *    feed both the query weighting and the doc weights; the cache
    *    manager dedupes by canonical plan, so repeated searches over
    *    the same corpus reuse one entry. Nothing ever unpersists that
    *    entry: every distinct corpus leaves one cached stats relation
    *    in the session, so an index-less caller that searches many
    *    filtered slices (each its own corpus) grows the cache by one
    *    per slice. `SearchEngine.search` avoids this for filtered
    *    requests on a standing index ([[filteredForwardScore]]).
    *
    * The two are bit-identical: each term appears once per doc, unknown
    * terms have no entries on either side, weight > 0 ⇔ idf > 0, and
    * both sum the same products `weight · (q_tf · idf)` in term order. */
  def searchTopK(corpus: DataFrame, idCol: String, textCol: String,
                 queryText: String, k: Int, p: Params = Default,
                 index: Option[Index] = None): DataFrame = index match {
    case Some(idx) if idx.isStanding => forwardTopK(idx, queryText, k)
    case _ =>
      val idx = index.getOrElse(buildIndex(corpus, idCol, textCol, p,
        pinStats = true))
      val qW = queryTermWeights(idx.stats, queryText, corpus.sparkSession)
      idx.docWeights.join(broadcast(qW), "term")
        .groupBy("id")
        .agg(sparseScore(col("weight") * col("q_weight"), col("term"))
          .as("score"))
        .orderBy(col("score").desc, col("id"))
        .limit(k)
  }

  /** [[searchTopK]]'s forward-scan shape over a standing index. */
  private def forwardTopK(idx: Index, queryText: String, k: Int): DataFrame =
    topKScored(idx.forward.select(col("id"),
      forwardScore(col("fwd"), queryText).as("score")), "id", k)

  /** A query's score of a [[Index.forward]] entry array: the
    * [[graft.functions.SparseDot]] kernel over the query's term
    * frequencies, null when no entry is a query term. */
  def forwardScore(fwd: Column, queryText: String): Column =
    VectorExpressions.sparseDotExpr(fwd, queryTerms(queryText))

  /** The [[graft.functions.SparseDot]] parameter of a query. */
  def queryTerms(queryText: String): QueryTerms = new QueryTerms(queryTf(queryText))

  /** The query's term frequencies, unknown terms included. */
  private def queryTf(queryText: String): Map[String, Double] =
    TextFunctions.tokenize(queryText).groupBy(identity)
      .map { case (t, ts) => t -> ts.size.toDouble }

  /** A query's score of `rows`, a filtered slice of an
    * [[Index.serving]] relation, under the slice's OWN statistics: the
    * filtered-corpus semantics of a filtered request, without the
    * re-tokenize, shuffle and cached stats relation of an index built
    * over the slice. One aggregate over `rows`, collected as one row
    * (a Spark job, run here), gives N (the row count, zero-token rows
    * included), Σ doc_len and each query term's df. It reads the slice
    * in one task: a localCheckpointed relation reports no partitioning,
    * so over its partitions the aggregate would exchange its partial
    * rows, which AQE runs as a second job. A serving relation has at
    * most its table's partitions, one for a table read from one file.
    * idf, avgdl and the query weights follow on the driver with
    * [[idfCol]]'s and [[indexFrom]]'s operations in their order (Spark's
    * `log` is `StrictMath.log`). The [[graft.functions.ReweightedSparseDot]]
    * kernel then re-weights each row's query-term entries under them.
    * Bit-identical to [[searchTopK]] with an index built over the same
    * rows: the entries of a row are its postings (see [[Index.forward]]),
    * so df, N and Σ doc_len are the built index's, and the kernel sums
    * the same products in the same term order. */
  def filteredForwardScore(rows: DataFrame, queryText: String,
      p: Params = Default): Column = {
    val qTf = queryTf(queryText)
    val terms = qTf.keys.toSeq.sorted
    val r = rows.coalesce(1).agg(count(lit(1)),
      coalesce(sum("doc_len"), lit(0L)) +:
      terms.map(t => count(when(array_contains(col("fwd.term"), t), 1))): _*)
      .collect()(0)
    val n = r.getLong(0).toDouble
    val avgDocLen = if (n > 0) r.getLong(1).toDouble / n else 0.0
    val weights = terms.zipWithIndex.map { case (t, i) =>
      val df = r.getLong(2 + i).toDouble
      val idf = math.max(0.0,
        StrictMath.log((n - df + 0.5) / (df + 0.5) + 1.0))
      t -> ((qTf(t) * idf, idf))
    }.toMap
    VectorExpressions.reweightedSparseDotExpr(col("fwd"), col("doc_len"),
      new CorpusQuery(weights, avgDocLen, p.k1, p.b))
  }

  /** The top `k` rows of `scored` by (score desc, `idCol` asc), with the
    * null-score (non-matching) rows dropped AFTER the cut: nulls sort
    * last, so the kept rows are the top k of the matching ones. Filtering
    * first would evaluate the score twice per row, since Catalyst pushes
    * `isnotnull(score)` through the projection that computes it. */
  def topKScored(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored.orderBy(col("score").desc_nulls_last, col(idCol)).limit(k)
      .filter(col("score").isNotNull)

  /** [[searchTopK]] for MANY queries in ONE plan (r15): the
    * union-of-per-query-searchTopK harness shape scanned the pinned
    * doc-weight relation once PER LEG and carried an 11-leg plan
    * through Catalyst per invocation; this is [[BenchmarkRunner]]'s
    * one-join multi-query form surfaced as an operator. Per-query
    * results are IDENTICAL to searchTopK's: q_weight = tf_q · idf over
    * the same stats, the per-(query, doc) score is the same
    * term-ordered [[sparseScore]] fold, and the top-k cut's
    * (score desc, id asc) tie-break is preserved through
    * [[TopK.perGroup]]'s string compare by riding a ZERO-PADDED id key
    * (ids must be non-negative longs — padding makes string order =
    * numeric order). Output: (query_id, id, score), the top ≤ k rows
    * per query, unordered (callers rank with their own windows, as
    * they did over the unioned form). */
  def searchTopKMulti(queries: Seq[(Int, String)], k: Int, index: Index,
                      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val qRows = queries.flatMap { case (qid, qt) =>
      TextFunctions.tokenize(qt).groupBy(identity).view.mapValues(_.size)
        .toSeq.map { case (term, n) => (qid, term, n) }
    }
    val qW = qRows.toDF("query_id", "term", "q_tf")
      .join(index.stats.select("term", "idf"), "term")
      .filter(col("idf") > 0.0)
      .select(col("query_id"), col("term"),
        (col("q_tf").cast("double") * col("idf")).as("q_weight"))
    val scored = index.docWeights.join(broadcast(qW), "term")
      .groupBy("query_id", "id")
      .agg(sparseScore(col("weight") * col("q_weight"), col("term"))
        .as("score"))
    TopK.perGroup(scored.select(
        col("query_id").cast("string").as("grp"),
        col("id").cast("string").as("doc_id"),
        format_string("%019d", col("id")).as("chunk_id"),
        col("score")), "grp", k)
      .select(col("grp").cast("int").as("query_id"),
        col("doc_id").cast("long").as("id"), col("score"))
  }

  /** Lucene-`explain`-style score decomposition for the top-`k` hits:
    * every hit fans out to its per-term contribution
    * weight(term, doc) · q_weight(term) — the additive terms of
    * [[searchTopK]]'s score, which the returned `score` provably sums
    * to (the oracle hash-checks both columns). The fan-out join is
    * RESULT-SET-bounded: top-k ids ⨝ the (already query-term-filtered)
    * docWeights ⨝ the broadcast query vector — explain costs one extra
    * broadcast-bounded pass over k hit rows, never a second corpus
    * scan. Output: (id, term, contribution, score), one row per
    * hit × matched query term. */
  def explainTopK(corpus: DataFrame, idCol: String, textCol: String,
      queryText: String, k: Int, p: Params = Default,
      index: Option[Index] = None): DataFrame = {
    val idx = index.getOrElse(buildIndex(corpus, idCol, textCol, p,
      pinStats = true))
    val qW = queryTermWeights(idx.stats, queryText, corpus.sparkSession)
    val contribs = idx.docWeights.join(broadcast(qW), "term")
      .select(col("id"), col("term"),
        (col("weight") * col("q_weight")).as("contribution"))
    val top = contribs.groupBy("id")
      .agg(sparseScore(col("contribution"), col("term")).as("score"))
      .orderBy(col("score").desc, col("id")).limit(k)
    contribs.join(top, "id")
      .select("id", "term", "contribution", "score")
  }

  /** MaxScore-pruned top-k (Turtle & Flood 1995 — the dynamic-pruning
    * family WAND belongs to), batch formulation: output-IDENTICAL to
    * [[searchTopK]] — the shared oracle is the identity proof — while
    * the expensive term-ordered scoring aggregation runs over a
    * PRUNED candidate set. Phase 1 computes, per matching doc in ONE
    * map-side-combinable pass, its best single-term contribution
    * (`best1`, a LOWER bound on its full score) and its upper bound
    * `ubDoc` = Σ over contained terms of the term's max contribution;
    * θ = the k-th best `best1` then lower-bounds the k-th best full
    * score, so docs with ubDoc < θ provably cannot reach the top k
    * and are dropped BEFORE the full scoring pass. In an inverted-
    * index engine the win is skipped postings I/O; in the Spark batch
    * shape it is SHUFFLE VOLUME — phase 1 is max/sum partial-agg
    * (combinable), and the order-sensitive sparseScore shuffle then
    * carries survivor postings only. Soundness: full ≥ best1 per doc
    * and full ≤ ubDoc per doc, so kth(full) ≥ kth(best1) = θ and any
    * pruned doc has full ≤ ubDoc < θ.
    *
    * Data-shape caveat (measured, NOTES r11): the win requires a Zipf
    * vocabulary where most matching docs contain FEW of the query's
    * terms. On the synthetic bench corpus (≈31 unigram terms, every
    * doc matches nearly every term) the survivor set ≈ the matching
    * set and the extra phase costs more than it saves — the checked
    * row exists for the identity proof; deploy the pruning on
    * long-tail corpora. */
  def searchTopKMaxScore(corpus: DataFrame, idCol: String,
      textCol: String, queryText: String, k: Int,
      p: Params = Default, index: Option[Index] = None): DataFrame = {
    val idx = index.getOrElse(buildIndex(corpus, idCol, textCol, p,
      pinStats = true))
    val qW = queryTermWeights(idx.stats, queryText, corpus.sparkSession)
    // matching postings feed phase 1 AND the survivor scoring —
    // bounded by postings of query terms; localCheckpoint (not cache)
    // for the two passes: the blocks are ContextCleaner-released when
    // the plan is collected, so repeated query invocations in a
    // long-lived session don't accumulate pinned storage (the
    // spanDedup cache-lifetime discipline)
    val contribs = idx.docWeights.join(broadcast(qW), "term")
      .select(col("id"), col("term"),
        (col("weight") * col("q_weight")).as("c"))
      .localCheckpoint()
    val ub = contribs.groupBy("term").agg(max("c").as("__ub"))
    val pass1 = contribs.join(broadcast(ub), "term")
      .groupBy("id")
      .agg(max("c").as("__best1"), sum("__ub").as("__ubDoc"))
    val theta = broadcast(pass1
      .orderBy(col("__best1").desc, col("id")).limit(k)
      .agg(min("__best1").as("__theta")))
    val survivors = pass1.crossJoin(theta)
      .filter(col("__ubDoc") >= col("__theta")).select("id")
    contribs.join(survivors, "id")
      .groupBy("id")
      .agg(sparseScore(col("c"), col("term")).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** BM25F — field-boosted ranking (Robertson & Zaragoza's "simple
    * BM25F": weighted term frequency wtf = Σ_f boost_f·tf_f and
    * weighted length norm over wlen = Σ_f boost_f·len_f, one
    * saturation curve on the COMBINED frequency — boosting fields
    * this way beats score-mixing per-field BM25s because saturation
    * applies after the evidence is pooled). df counts documents
    * containing the term in ANY field; idf is the shared formula.
    *
    * Scale shape: one tokenize pass per field unioned into a single
    * (id, term) aggregation — the same one-shuffle profile as
    * [[buildIndex]], ×|fields| narrow scans. Weighted tfs and lengths
    * are dyadic-exact (integer tf × dyadic boost), so cross-engine
    * doubles are identical.
    *
    * @param fields (fieldColumn, boost) pairs — the caller projects
    *               the field columns (e.g. a title split) first. */
  def searchTopKFielded(corpus: DataFrame, idCol: String,
      fields: Seq[(String, Double)], queryText: String, k: Int,
      p: Params = Default): DataFrame = {
    require(fields.nonEmpty, "no fields")
    val lens = fields.map { case (f, boost) =>
      corpus.select(col(idCol).as("id"),
        (size(TextFunctions.tokensCol(col(f))).cast("double") * boost)
          .as("wl"))
    }.reduce(_ unionByName _)
      .groupBy("id").agg(sum("wl").as("wlen"))
    val globals = broadcast(lens.agg(
      count(lit(1)).as("n_docs"), avg("wlen").as("avgwl")))
    val tf = fields.map { case (f, boost) =>
      corpus.select(col(idCol).as("id"),
          explode(TextFunctions.tokensCol(col(f))).as("term"))
        .withColumn("w", lit(boost))
    }.reduce(_ unionByName _)
      .groupBy("id", "term").agg(sum("w").as("wtf"))
    val stats = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(globals)
      .withColumn("idf", idfCol(col("df"), col("n_docs")))
      .coalesce(1).cache() // two consumers: doc weights + query terms
    val norm = when(col("avgwl") > 0.0,
      lit(1.0 - p.b) + lit(p.b) * col("wlen") / col("avgwl"))
      .otherwise(lit(1.0))
    val docW = tf.join(lens, "id").join(stats, "term")
      .withColumn("weight",
        col("idf") * (col("wtf") * lit(p.k1 + 1.0)) /
          (col("wtf") + lit(p.k1) * norm))
      .filter(col("weight") > 0.0)
      .select("id", "term", "weight")
    val qW = queryTermWeights(stats.select("term", "idf"), queryText,
      corpus.sparkSession)
    docW.join(broadcast(qW), "term")
      .groupBy("id")
      .agg(sparseScore(col("weight") * col("q_weight"), col("term"))
        .as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** "More like this" — query-by-document (the Lucene MLT operator a
    * search product exposes as "similar results"): the seed document's
    * top `topTerms` terms by its own BM25 weight become the query
    * vector (q_weight = the seed's weight, 6-dp rounded BEFORE the cut
    * so the term selection and the re-score replay cross-engine), and
    * every OTHER document scores by the standard sparse dot product.
    * Seed excluded from results.
    *
    * Scale shape: the seed's posting list is one broadcast-sized
    * filter of docWeights (at web scale: one id-keyed lookup); the
    * scoring pass is the same one-shuffle docWeights ⨝ broadcast query
    * as [[searchTopK]]. */
  def moreLikeThis(corpus: DataFrame, idCol: String, textCol: String,
      seedFilter: Column, topTerms: Int, k: Int,
      p: Params = Default, index: Option[Index] = None): DataFrame = {
    require(topTerms >= 1 && k >= 1, s"bad MLT spec: $topTerms/$k")
    val idx = index.getOrElse(buildIndex(corpus, idCol, textCol, p,
      pinStats = true))
    val seed = idx.docWeights.filter(seedFilter)
    val qW = seed
      .select(col("term"), round(col("weight"), 6).as("q_weight"))
      .orderBy(col("q_weight").desc, col("term"))
      .limit(topTerms)
    idx.docWeights.filter(!seedFilter)
      .join(broadcast(qW), "term")
      .groupBy("id")
      .agg(sparseScore(col("weight") * col("q_weight"), col("term"))
        .as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Boolean query tree at the ranking layer — the full
    * must/should/must_not surface the reference normalizes for its
    * payload filters (ref packages/vecpipe/search/payloads.py:17-31),
    * compiled to postings operations, all BEFORE the top-k cut
    * (filter-then-rank, so the page fills with eligible docs):
    *
    *  - `must`     — eligibility CONJUNCTION: docs containing EVERY
    *                 must term (one postings pass + a distinct-count
    *                 HAVING, then a left-semi join — not |must| joins);
    *                 must terms gate, they do not score (the reference
    *                 semantic: filters are orthogonal to ranking)
    *  - `mustNot`  — the postings ANTI-join (search_boolean's leg);
    *                 when must is ALSO present the two gate families
    *                 fuse into ONE postings aggregation (r13 — the
    *                 banned flag rides the must-count pass)
    *  - `should`   — optional-term BOOST: each should term joins the
    *                 query vector at `shouldBoost · idf(t)` — it raises
    *                 the score of docs containing it but never changes
    *                 eligibility (a should term also in the query text
    *                 adds on top of its tf·idf weight)
    *
    * BM25 statistics are recomputed over the ELIGIBLE corpus, matching
    * the filtered-collection semantics. Scale shape: two bounded
    * postings passes (isin filters push into the tokenize scan) + the
    * standard one-shuffle [[buildIndex]]; the composed query relation
    * stays query-sized and broadcasts. */
  def searchBooleanTree(corpus: DataFrame, idCol: String, textCol: String,
      queryText: String, must: Seq[String], should: Seq[String],
      mustNot: Seq[String], shouldBoost: Double, k: Int,
      p: Params = Default,
      termBoosts: Map[String, Double] = Map.empty,
      standing: Option[Standing] = None): DataFrame = {
    // standing serve path: gates probe the standing DISTINCT keep-stop
    // (id, tok) relation of the FULL corpus — sound because a doc's
    // membership in a gate set depends only on its own tokens, and the
    // semi/anti joins against `corpus` discard ids outside the (possibly
    // pre-gated) input — and the eligible index derives from the
    // standing postings (indexFromPostings), so a filtered search costs
    // zero tokenize passes
    val toks = standing.map(st =>
        st.gateToks.select(col("id"), col("tok"))
      ).getOrElse(corpus.select(col(idCol).as("id"),
        explode(TextFunctions.tokensCol(col(textCol),
          removeStopwords = false)).as("tok")))
    // gate fusion (r13): when BOTH families are present, one pass over
    // the gate-token relation computes the must-conjunction count AND
    // the banned flag per doc — semi-join(must-sat ∧ ¬banned) equals
    // the old anti-then-semi chain (per-doc-local predicates compose),
    // for one gate shuffle instead of two. A must-only query plans
    // only the __nm aggregate; a mustNot-only query keeps its
    // anti-join form (the only sound shape when no positive gate
    // exists — absent docs must PASS a pure must_not).
    val eligible =
      if (must.isEmpty && mustNot.isEmpty) corpus
      else if (must.isEmpty)
        corpus.join(
          toks.filter(col("tok").isin(mustNot.distinct: _*))
            .select(col("id").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
      else {
        val gateWords = (must ++ mustNot).distinct
        val gated = toks.filter(col("tok").isin(gateWords: _*))
          .groupBy("id")
        // must-only: the gate filter already restricted toks to must
        // words, so the conjunction count alone decides — no vestigial
        // __banned aggregate over an empty isin (ADVICE r13)
        val verdicts = (if (mustNot.isEmpty)
            gated.agg(countDistinct(col("tok")).as("__nm"))
              .filter(col("__nm") === must.distinct.size)
          else
            gated.agg(
              countDistinct(when(col("tok").isin(must.distinct: _*),
                col("tok"))).as("__nm"),
              coalesce(max(when(col("tok").isin(mustNot.distinct: _*),
                lit(1))), lit(0)).as("__banned"))
              .filter(col("__nm") === must.distinct.size &&
                col("__banned") === 0))
          .select(col("id").as(idCol))
        corpus.join(verdicts, Seq(idCol), "left_semi")
      }
    val idx = standing match {
      case Some(st) =>
        indexFromPostings(eligible, idCol, st.posts, p, pinStats = true)
      case None => buildIndex(eligible, idCol, textCol, p, pinStats = true)
    }
    val qW0 = queryTermWeights(idx.stats, queryText, corpus.sparkSession)
    // per-term query boosts (the Lucene `term^b` semantic: b multiplies
    // that term's score contribution) — a bounded when-chain over the
    // query-sized relation, fully codegen'd
    val qW = if (termBoosts.isEmpty) qW0
      else qW0.withColumn("q_weight",
        termBoosts.toSeq.sortBy(_._1).foldLeft(col("q_weight")) {
          case (acc, (t, b)) =>
            when(col("term") === t, acc * lit(b)).otherwise(acc)
        })
    val spark = corpus.sparkSession
    import spark.implicits._
    val q2 =
      if (should.isEmpty) qW
      else {
        val sW = should.distinct.toDF("term")
          .join(idx.stats.select("term", "idf"), "term")
          .filter(col("idf") > 0.0)
          .select(col("term"),
            (lit(shouldBoost) * col("idf")).as("q_weight"))
        // at most two rows per term (query + should) — a 2-element
        // float sum is commutative, so the merge is order-safe
        qW.unionByName(sW).groupBy("term")
          .agg(sum("q_weight").as("q_weight"))
      }
    idx.docWeights.join(broadcast(q2), "term")
      .groupBy("id")
      .agg(sparseScore(col("weight") * col("q_weight"), col("term"))
        .as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Pseudo-relevance-feedback expansion (Rocchio 1971, the
    * statistical sibling of the reference's HyDE LLM expansion —
    * ref shared/llm/hyde.py:40-173 expands with generated text; PRF
    * expands with the corpus itself): first-pass BM25 keeps the top
    * `fbDocs` documents, expansion terms are the top `fbTerms` by
    * SUMMED doc weight across that feedback set (original query terms
    * excluded; 6-dp rounded-BEFORE-cut ordering so the cut replays
    * cross-engine), and the expanded query re-scores with
    * `beta · fb_weight / fbDocs` added per expansion term. Every
    * relation beyond the doc-weight joins is query-sized or
    * feedback-sized and broadcasts; the corpus-sized docWeights
    * relation is touched exactly twice — the two scoring passes any
    * PRF implementation pays. */
  def searchPrf(corpus: DataFrame, idCol: String, textCol: String,
                queryText: String, k: Int, fbDocs: Int = 10,
                fbTerms: Int = 5, beta: Double = 0.4,
                p: Params = Default,
                index: Option[Index] = None): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 1, s"bad PRF spec: $fbDocs/$fbTerms")
    val idx = index.getOrElse(buildIndex(corpus, idCol, textCol, p,
      pinStats = true))
    val qW = queryTermWeights(idx.stats, queryText, corpus.sparkSession)
    val first = idx.docWeights.join(broadcast(qW), "term")
      .groupBy("id")
      .agg(sparseScore(col("weight") * col("q_weight"), col("term"))
        .as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(fbDocs)
      .select("id")
    val fb = idx.docWeights.join(broadcast(first), "id")
      .join(broadcast(qW.select("term")), Seq("term"), "left_anti")
      .groupBy("term").agg(round(sum("weight"), 6).as("fb_w"))
      .orderBy(col("fb_w").desc, col("term"))
      .limit(fbTerms)
      .select(col("term"),
        (lit(beta) * col("fb_w") / lit(fbDocs.toDouble)).as("q_weight"))
    val q2 = qW.unionByName(fb)
    idx.docWeights.join(broadcast(q2), "term")
      .groupBy("id")
      .agg(sparseScore(col("weight") * col("q_weight"), col("term"))
        .as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }
}

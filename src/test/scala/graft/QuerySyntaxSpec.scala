package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bm25, Spell}
import graft.search.{Ingest, QuerySyntax}

/** The search-box grammar: parse shape and the composed gate
  * semantics over a golden corpus. */
class QuerySyntaxSpec extends SparkSpec {
  import spark.implicits._

  /** The corpus the persisted search sidecars are written from. */
  private val sidecarCorpus = Seq(
    (1L, "spark streaming data big data table"),
    (2L, "customer table error data spark"),
    (3L, "big data spark hash join table"),
    (4L, "table spark data big data hash"),
    (5L, "hash spark big data table window"),
    (6L, "spark data error table hash big data")
  ).toDF("doc_id", "text")

  test("parse: quoted phrases tokenize, +/- prefixes route to " +
      "must/must_not, bare terms score; dangling prefixes ignored") {
    val p = QuerySyntax.parse(
      "\"Big Data\" +table -error spark hash + -")
    assert(p.phrases == Seq(Seq("big", "data")), p.phrases)
    assert(p.must == Seq("table") && p.mustNot == Seq("error"))
    assert(p.terms == Seq("spark", "hash"), p.terms)
    // multiple phrases, empty quotes dropped (tokens shorter than the
    // tokenizer's minimum length vanish with them)
    val p2 = QuerySyntax.parse("\"alpha beta\" \"\" \"gamma delta\" term")
    assert(p2.phrases.length == 2 && p2.terms == Seq("term"))
    intercept[IllegalArgumentException](QuerySyntax.parse("  "))
  }

  test("parse v2: slop phrases carry their k, boosts attach to bare " +
      "terms (which still score), and the v1 legs are unchanged") {
    val p = QuerySyntax.parse(
      "\"big data\"~3 +table -error spark^2 hash boost^1.5")
    assert(p.slops == Seq((Seq("big", "data"), 3)), p.slops)
    assert(p.phrases.isEmpty)
    assert(p.must == Seq("table") && p.mustNot == Seq("error"))
    assert(p.terms == Seq("spark", "hash", "boost"), p.terms)
    assert(p.boosts == Map("spark" -> 2.0, "boost" -> 1.5), p.boosts)
    // a slop phrase with fewer than 2 tokens is dropped (nothing to
    // pair); slop 0 likewise
    assert(QuerySyntax.parse("\"one\"~5 x").slops.isEmpty)
    // mixed exact + sloppy quotes in one query (>=2-char words — the
    // tokenizer drops shorter tokens)
    val p2 = QuerySyntax.parse("\"aa bb\" \"cc dd\"~2 term")
    assert(p2.phrases == Seq(Seq("aa", "bb")) &&
      p2.slops == Seq((Seq("cc", "dd"), 2)))
  }

  test("search v2: the proximity gate admits gapped ordered pairs an " +
      "exact phrase rejects, bounds the gap at k, rejects reversed " +
      "order; a boost reorders the ranking") {
    val docs = Seq(
      (1L, "big data table spark processing"),     // gap 1 (exact)
      (2L, "big fast new data table spark runs"),  // gap 3 -> in at k=3
      (3L, "big aaa bbb ccc ddd data table spark deep"), // gap 5 -> out
      (4L, "data big table spark wrong order"),    // reversed -> out
      (5L, "big data table nothing to rank"))      // no scoring term
      .toDF("doc_id", "text")
    val got = QuerySyntax.search(docs, "doc_id", "text",
        "\"big data\"~3 +table spark", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L), got.toString)
    // boost flips a ranking: doc A has the rare term once, doc B the
    // common term twice — boosting the common term must lift B over A
    val docs2 = Seq(
      (1L, "alpha beta beta gamma"),
      (2L, "alpha zeta gamma gamma"))
      .toDF("doc_id", "text")
    def top(q: String): Long =
      QuerySyntax.search(docs2, "doc_id", "text", q, k = 1)
        .collect()(0).getLong(0)
    val base = top("beta gamma")
    val boosted = top("beta gamma^100")
    assert(base != boosted,
      s"boost should reorder: base=$base boosted=$boosted")
  }

  test("field filters: `field:value` gates by declared column " +
      "equality before everything else; unknown fields fail loudly") {
    val p = QuerySyntax.parse("lang:en source:web spark")
    assert(p.fields == Seq(("lang", "en"), ("source", "web")), p.fields)
    assert(p.terms == Seq("spark"))
    val docs = Seq(
      (1L, "spark rows here", "en"),
      (2L, "spark rows here", "de"),
      (3L, "nothing relevant", "en"))
      .toDF("doc_id", "text", "lang")
    val got = QuerySyntax.search(docs, "doc_id", "text",
        "lang:en spark", k = 10, fieldCols = Map("lang" -> "lang"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), got.toString)
    intercept[IllegalArgumentException](
      QuerySyntax.search(docs, "doc_id", "text", "nope:x spark",
        k = 10, fieldCols = Map("lang" -> "lang")))
  }

  test("search: phrase gate, must conjunction, and exclusion compose " +
      "filter-then-rank; a doc missing any gate never ranks") {
    val docs = Seq(
      (1L, "big data table spark processing"),   // all gates pass
      (2L, "big data table spark error logged"), // -error kills it
      (3L, "big data spark only no required"),   // +table kills it
      (4L, "data big table spark wrong order"),  // phrase order wrong
      (5L, "big data table nothing to score"))   // passes gates, no
                                                 // query term -> unscored
      .toDF("doc_id", "text")
    val got = QuerySyntax.search(docs, "doc_id", "text",
        "\"big data\" +table -error spark", k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), got.toString)
    // a query with no bare scoring terms is rejected loudly
    intercept[IllegalArgumentException](
      QuerySyntax.search(docs, "doc_id", "text", "\"big data\" +table",
        k = 10))
  }

  // the four standing search artifacts must survive a parquet
  // generation round-trip and serve identically to the in-memory ones
  test("the four search sidecars round-trip a generation bit-exactly " +
      "and serve query-syntax + spell from the restored files") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-r13-idx").toString
    val posts = Bm25.postings(sidecarCorpus, "doc_id", "text")
    val gates = sidecarCorpus.select(col("doc_id").as("id"),
        explode(graft.functions.TextFunctions.tokensCol(col("text"),
          removeStopwords = false)).as("tok"))
      .distinct()
    val postoks = sidecarCorpus.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.tokensCol(col("text"),
        removeStopwords = false)).as(Seq("pos", "tok")))
    val vocab = Spell.vocabulary(sidecarCorpus, "doc_id", "text")
    Ingest.reindexSwapRaw(spark, posts, s"$root/postings")
    Ingest.reindexSwapRaw(spark, gates, s"$root/gatetoks")
    Ingest.reindexSwapRaw(spark, postoks, s"$root/postoks")
    Ingest.reindexSwapRaw(spark, vocab, s"$root/vocab")

    val rPosts = Ingest.readCurrent(spark, s"$root/postings")
    val rGates = Ingest.readCurrent(spark, s"$root/gatetoks")
    val rPostoks = Ingest.readCurrent(spark, s"$root/postoks")
    val rVocab = Ingest.readCurrent(spark, s"$root/vocab")

    // relation-level round-trip: exact row multiset per artifact
    Seq((posts, rPosts), (gates, rGates), (postoks, rPostoks),
        (vocab, rVocab)).foreach { case (orig, restored) =>
      assert(orig.exceptAll(restored).isEmpty &&
        restored.exceptAll(orig).isEmpty)
    }

    // serving-level round-trip: the query-syntax capstone from the
    // RESTORED standing equals the in-memory standing row-for-row
    val q = "\"big data\"~3 +table -error spark^2 hash"
    def run(st: QuerySyntax.Standing) =
      QuerySyntax.search(sidecarCorpus, "doc_id", "text", q, k = 5,
          standing = Some(st))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
        .collect().toSeq
    val mem = run(QuerySyntax.Standing(Bm25.Standing(posts, gates),
      postoks))
    val disk = run(QuerySyntax.Standing(Bm25.Standing(rPosts, rGates),
      rPostoks))
    assert(mem.nonEmpty && mem == disk)

    // the vocabulary sidecar serves the same correction
    val inputs = Seq("sprk").toDF("q")
    val memCorr = Spell.didYouMean(vocab, inputs, "q")
      .select("suggestion").collect().map(_.getString(0)).toSeq
    val diskCorr = Spell.didYouMean(rVocab, inputs, "q")
      .select("suggestion").collect().map(_.getString(0)).toSeq
    assert(memCorr == Seq("spark") && diskCorr == memCorr)
  }

  test("searchBooleanTree's fused must+mustNot gate equals the " +
      "anti-then-semi chain, and the standing QuerySyntax path " +
      "equals the inline path") {
    // old chain replicated by hand: anti-join banned, semi-join must
    val toks = sidecarCorpus.select(col("doc_id").as("id"),
      explode(graft.functions.TextFunctions.tokensCol(col("text"),
        removeStopwords = false)).as("tok"))
    val banned = toks.filter(col("tok") === "error")
      .select(col("id").as("doc_id")).distinct()
    val mustSat = toks.filter(col("tok") === "table")
      .groupBy("id").agg(countDistinct("tok").as("n"))
      .filter(col("n") === 1).select(col("id").as("doc_id"))
    val oldEligible = sidecarCorpus
      .join(banned, Seq("doc_id"), "left_anti")
      .join(mustSat, Seq("doc_id"), "left_semi")
    val viaOld = Bm25.searchBooleanTree(oldEligible, "doc_id", "text",
        "spark hash", must = Nil, should = Nil, mustNot = Nil,
        shouldBoost = 0.0, k = 5)
      .select(col("id"), round(col("score"), 6).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaFused = Bm25.searchBooleanTree(sidecarCorpus, "doc_id", "text",
        "spark hash", must = Seq("table"), should = Nil,
        mustNot = Seq("error"), shouldBoost = 0.0, k = 5)
      .select(col("id"), round(col("score"), 6).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaFused == viaOld && viaFused.nonEmpty)

    // end-to-end: the standing path (ALL gates in one gateIds pass)
    // equals the inline path row-for-row
    val posts = Bm25.postings(sidecarCorpus, "doc_id", "text")
    val gates = toks.distinct()
    val postoks = sidecarCorpus.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.tokensCol(col("text"),
        removeStopwords = false)).as(Seq("pos", "tok")))
    val q = "\"big data\"~3 +table -error spark^2 hash"
    def run(st: Option[QuerySyntax.Standing]) =
      QuerySyntax.search(sidecarCorpus, "doc_id", "text", q, k = 5,
          standing = st)
        .select(col("id"), round(col("score"), 6).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val standing = run(Some(QuerySyntax.Standing(
      Bm25.Standing(posts, gates), postoks)))
    val inline = run(None)
    assert(standing == inline && standing.nonEmpty)
  }
}

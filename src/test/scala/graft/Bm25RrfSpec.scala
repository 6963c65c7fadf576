package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bm25, Rrf}

/** Hand-computed BM25 goldens (k1=1.5, b=0.75) and RRF fixtures
  * (FIXTURES.md §7-8). */
class Bm25RrfSpec extends SparkSpec {
  import spark.implicits._

  /** A corpus with a zero-hit doc (7) and a repeated-term doc (8) for
    * the standing-vs-inline serving equivalences. */
  private val servingCorpus = Seq(
    (1L, "spark streaming data big data table"),
    (2L, "customer table error data spark"),
    (3L, "big data spark hash join table"),
    (4L, "error log stream data"),
    (5L, "the spark table holds customer data rows"),
    (6L, "hash partition data table spark big"),
    (7L, "zebra quartz unrelated text"),
    (8L, "data data data table table spark")
  ).toDF("doc_id", "text")

  private def standingFor(df: org.apache.spark.sql.DataFrame) =
    Bm25.Standing(
      posts = Bm25.postings(df, "doc_id", "text"),
      gateToks = df.select(col("doc_id").as("id"),
          explode(graft.functions.TextFunctions.tokensCol(col("text"),
            removeStopwords = false)).as("tok"))
        .distinct())

  private val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "")).toDF("doc_id", "text")

  test("corpus stats: df, N, avgdl, idf (empty doc counts toward N)") {
    val stats = Bm25.corpusStats(corpus, "doc_id", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4)))
      .toMap
    // (term -> (df, n_docs, idf))
    assert(stats("apple")._1 == 1 && stats("banana")._1 == 2 &&
      stats("cherry")._1 == 1)
    assert(stats("apple")._2 == 3) // N includes the empty doc
    assert(math.abs(stats("apple")._3 - 0.9808292530117263) < 1e-12)
    assert(math.abs(stats("banana")._3 - 0.47000362924573563) < 1e-12)
  }

  test("document term weights match the closed-form values") {
    val w = Bm25.docTermWeights(corpus, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(math.abs(w((1L, "apple")) - 1.1145786966042344) < 1e-12)
    assert(math.abs(w((1L, "banana")) - 0.3455909038571585) < 1e-12)
    assert(math.abs(w((2L, "banana")) - 0.43119599013370247) < 1e-12)
    assert(math.abs(w((2L, "cherry")) - 0.8998433513869051) < 1e-12)
    assert(!w.contains((3L, ""))) // empty doc emits no terms
  }

  test("query scoring: tf_q * idf, unknown terms dropped") {
    val top = Bm25.searchTopK(corpus, "doc_id", "text",
      "apple cherry cherry durian", 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(top(2L) - 1.765185364336773) < 1e-12)
    assert(math.abs(top(1L) - 1.0932113904131147) < 1e-12)
    assert(!top.contains(3L))
  }

  test("sparse vectors: sorted term ids aligned with weights") {
    val sv = Bm25.sparseVectors(corpus, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getSeq[Double](2))).toMap
    // vocab sorted: apple=0, banana=1, cherry=2
    assert(sv(1L)._1 == Seq(0, 1))
    assert(sv(2L)._1 == Seq(1, 2))
    assert(math.abs(sv(1L)._2.head - 1.1145786966042344) < 1e-12)
  }

  test("RRF fusion: overlap, disjoint, and payload-side semantics") {
    val dense = Seq(("d1", 0.9), ("d2", 0.8), ("d3", 0.7)).toDF("id", "score")
    val sparse = Seq(("d2", 5.0), ("d4", 4.0)).toDF("id", "score")
    val fused = Rrf.fuse(dense, sparse, "id", "score", k = 10).collect()
    val order = fused.map(_.getString(0)).toSeq
    assert(order == Seq("d2", "d1", "d4", "d3"))
    val scores = fused.map(r => r.getString(0) -> r.getAs[Double]("score")).toMap
    assert(math.abs(scores("d2") - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(math.abs(scores("d1") - 1.0 / 61) < 1e-15)
    assert(math.abs(scores("d4") - 1.0 / 62) < 1e-15)
    assert(math.abs(scores("d3") - 1.0 / 63) < 1e-15)
    // rank annotations
    val d2 = fused.find(_.getString(0) == "d2").get
    assert(d2.getAs[Int]("_dense_rank") == 2 && d2.getAs[Int]("_sparse_rank") == 1)
    val d3 = fused.find(_.getString(0) == "d3").get
    assert(d3.isNullAt(d3.fieldIndex("_sparse_rank")))
  }

  test("RRF: empty side degrades to rank-only of the other") {
    val dense = Seq(("a", 1.0), ("b", 0.5)).toDF("id", "score")
    val sparse = spark.emptyDataFrame
      .select(lit("").as("id"), lit(0.0).as("score")).limit(0)
    val fused = Rrf.fuse(dense, sparse, "id", "score", k = 10).collect()
    assert(fused.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(math.abs(fused.head.getAs[Double]("score") - 1.0 / 61) < 1e-15)
  }

  test("RRF top-k truncates by fused score") {
    val dense = (1 to 30).map(i => (s"d$i", 1.0 / i)).toDF("id", "score")
    val sparse = (1 to 30).map(i => (s"s$i", 1.0 / i)).toDF("id", "score")
    val fused = Rrf.fuse(dense, sparse, "id", "score", k = 5).collect()
    assert(fused.length == 5)
    // ties (same rank on each side) break by id: d before s
    assert(fused.map(_.getString(0)).toSeq ==
      Seq("d1", "s1", "d2", "s2", "d3"))
  }

  test("fuse(preRanked) honors caller-assigned leg ranks (J2 contract)") {
    // equal scores: the derived retrieval list ranked "10" first (its
    // derived id sorted first), but re-ranking on the remapped ids
    // would put "10" behind "2"... no — string "10" < "2", so
    // re-ranking would PROMOTE "10"; the caller's ranking says "2"
    // leads. preRanked must preserve the caller's order.
    val dense = Seq(("2", 1.0, 1), ("10", 1.0, 2))
      .toDF("chunk_id", "score", "rank")
    val sparse = Seq.empty[(String, Double, Int)]
      .toDF("chunk_id", "score", "rank")
    val got = Rrf.fuse(dense, sparse, "chunk_id", "score", k = 10,
        preRanked = true).collect()
      .map(r => r.getString(0) -> r.getAs[Int]("_dense_rank")).toMap
    assert(got == Map("2" -> 1, "10" -> 2),
      s"preRanked fusion must not re-rank: $got")
    // sanity: WITHOUT preRanked the same input re-ranks by id and flips
    val re = Rrf.fuse(dense.drop("rank"), sparse.drop("rank"),
        "chunk_id", "score", k = 10).collect()
      .map(r => r.getString(0) -> r.getAs[Int]("_dense_rank")).toMap
    assert(re == Map("10" -> 1, "2" -> 2))
  }

  test("fuse(queryCol): per-query fusion equals independent per-query " +
      "fuse calls — ranks, scores, and the k-cut all scoped to the " +
      "query partition") {
    val dense = Seq(
      (1, "a", 0.9), (1, "b", 0.8), (1, "c", 0.7),
      (2, "c", 0.9), (2, "d", 0.5)).toDF("qid", "id", "score")
    val sparse = Seq(
      (1, "b", 5.0), (1, "x", 4.0),
      (2, "d", 9.0), (2, "e", 8.0), (2, "a", 1.0))
      .toDF("qid", "id", "score")
    val batch = Rrf.fuse(dense, sparse, "id", "score", k = 3,
        queryCol = Some("qid"))
      .collect().map(r => (r.getAs[Int]("qid"), r.getAs[String]("id"),
        math.rint(r.getAs[Double]("score") * 1e12))).toSet
    val perQuery = Seq(1, 2).flatMap { q =>
      Rrf.fuse(dense.filter($"qid" === q).drop("qid"),
          sparse.filter($"qid" === q).drop("qid"), "id", "score", k = 3)
        .collect().map(r => (q, r.getAs[String]("id"),
          math.rint(r.getAs[Double]("score") * 1e12)))
    }.toSet
    assert(batch == perQuery, s"batch=$batch perQuery=$perQuery")
  }

  test("searchBooleanTree: must gates without scoring, must_not " +
      "excludes before the cut, should boosts score only") {
    val c = Seq(
      (1L, "spark join optimizer"),
      (2L, "spark join error trace"),
      (3L, "join only document"),
      (4L, "spark boost here please")).toDF("doc_id", "text")
    val got = Bm25.searchBooleanTree(c, "doc_id", "text", "join",
        must = Seq("spark"), should = Seq("boost"),
        mustNot = Seq("error"), shouldBoost = 0.5, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 2 has the banned term; 3 misses the must term; 4 scores ONLY
    // through the should boost (it has no query term)
    assert(got.keySet == Set(1L, 4L), got.toString)
    assert(got(4L) > 0.0 && got(1L) > got(4L), got.toString)
    // should is score-only: drop it and doc 4 vanishes (nothing to
    // score), while eligibility of 1 is unchanged
    val noShould = Bm25.searchBooleanTree(c, "doc_id", "text", "join",
        Seq("spark"), Nil, Seq("error"), 0.5, 10)
      .collect().map(_.getLong(0)).toSet
    assert(noShould == Set(1L), noShould.toString)
  }

  test("moreLikeThis: the seed's top-weight terms retrieve the " +
      "overlapping doc first; the seed itself and term-disjoint docs " +
      "are absent") {
    val c = Seq(
      (1L, "quantum entanglement physics experiment"),
      (2L, "quantum physics laboratory experiment results"),
      (3L, "cooking pasta tomato sauce recipe"),
      (4L, "gardening tomato plants summer")).toDF("doc_id", "text")
    val got = Bm25.moreLikeThis(c, "doc_id", "text",
        col("id") === 1L, topTerms = 4, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L), got.toString) // shares 3 of 4 seed terms
  }

  test("explainTopK: per-term contributions sum exactly to the hit's " +
      "score and match searchTopK's ranking") {
    val c = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana cherry banana"),
      (3L, "apple date"),
      (4L, "date fig grape")).toDF("doc_id", "text")
    val expl = Bm25.explainTopK(c, "doc_id", "text", "apple banana", 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3)))
    val top = Bm25.searchTopK(c, "doc_id", "text", "apple banana", 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(expl.map(_._1).toSet == top.keySet)
    // score column carries the hit total on every fan-out row, and the
    // contributions reassemble it (term-sorted sum = sparseScore order)
    expl.groupBy(_._1).foreach { case (id, rows) =>
      rows.foreach { case (_, _, _, s) => assert(s == top(id)) }
      val sum = rows.sortBy(_._2).map(_._3).sum
      assert(math.abs(sum - top(id)) < 1e-12, s"doc $id: $sum vs ${top(id)}")
    }
  }

  test("combSum: per-leg min-max normalization, SUM adds, MNZ rewards " +
      "multi-evidence, single-leg docs survive the merge") {
    val dense = Seq((1L, 10.0), (2L, 5.0), (3L, 0.0))
      .toDF("doc_id", "score")
    val sparse = Seq((1L, 4.0), (4L, 2.0), (5L, 0.0))
      .toDF("doc_id", "score")
    val got = Rrf.combSum(dense, sparse, "doc_id", "score", 10)
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getInt(3))).toMap
    // doc 1: dense (10-0)/10=1.0, sparse (4-0)/4=1.0 -> sum 2, mnz 4
    assert(got(1L) == ((2.0, 4.0, 2)))
    // doc 2: dense-only 0.5 -> mnz = 0.5 * 1
    assert(got(2L) == ((0.5, 0.5, 1)))
    // doc 4: sparse-only (2-0)/4 = 0.5
    assert(got(4L) == ((0.5, 0.5, 1)))
    // min-score docs normalize to 0 but still appear with n_legs=1
    assert(got(3L) == ((0.0, 0.0, 1)) && got(5L) == ((0.0, 0.0, 1)))
  }

  test("searchTopKMaxScore returns searchTopK's exact top-k (scores " +
      "and order) at every k, on a corpus where pruning is active") {
    val rnd = new scala.util.Random(3)
    val vocabulary = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val c = (0 until 120).map { i =>
      (i.toLong, (0 until 5 + rnd.nextInt(20))
        .map(_ => vocabulary(rnd.nextInt(vocabulary.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    for (k <- Seq(1, 5, 20)) {
      val exact = Bm25.searchTopK(c, "doc_id", "text",
          "alpha beta gamma", k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val pruned = Bm25.searchTopKMaxScore(c, "doc_id", "text",
          "alpha beta gamma", k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(pruned == exact, s"k=$k")
    }
  }

  // ids 0-119 random text; 120/121 and 122/123 are identical pairs
  // (tied scores on different ids); 124 is empty and 125 all stopwords
  // (zero-token docs)
  private lazy val forwardCorpus = {
    val rnd = new scala.util.Random(11)
    val vocabulary = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val random = (0 until 120).map { i =>
      (i.toLong, (0 until 1 + rnd.nextInt(20))
        .map(_ => vocabulary(rnd.nextInt(vocabulary.size)))
        .mkString(" "))
    }
    (random ++ Seq((120L, "alpha gamma gamma"), (121L, "alpha gamma gamma"),
      (122L, "theta"), (123L, "theta"), (124L, ""), (125L, "the and of")))
      .toDF("doc_id", "text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("searchTopK against a standing index scans the forward relation " +
      "and returns the in-plan path's exact rows and scores") {
    val standing = Bm25.buildIndex(forwardCorpus, "doc_id", "text",
      pinStats = true).pin()
    assert(standing.isStanding && standing.forwardBuilt)
    val queries = Seq(
      "alpha beta gamma",
      "alpha alpha gamma beta alpha", // repeated query terms
      "theta",                        // tied scores on different ids
      "gamma",
      "the and of",                   // stopwords only
      "zzz qqq",                      // unknown words only
      "theta zzz the")                // known + unknown + stopword
    for (q <- queries; k <- Seq(1, 3, 10, 1000)) { // 1000 > every match
      val inPlan = Bm25.searchTopK(forwardCorpus, "doc_id", "text", q, k)
      val served = Bm25.searchTopK(forwardCorpus, "doc_id", "text", q, k,
        index = Some(standing))
      assert(rows(served) == rows(inPlan), s"q='$q' k=$k")
      assert(!plan(served).contains("Join") &&
        !plan(served).contains("Exchange"), plan(served))
    }
    val tied = rows(Bm25.searchTopK(forwardCorpus, "doc_id", "text",
      "theta", 1000, index = Some(standing)))
    val at = tied.indexWhere(_._1 == 122L)
    assert(tied(at + 1) == ((123L, tied(at)._2)), tied)
    assert(rows(Bm25.searchTopK(forwardCorpus, "doc_id", "text",
      "the and of zzz", 10, index = Some(standing))).isEmpty)
    standing.docWeights.unpersist()
  }

  test("searchTopK keeps the postings join and never builds the forward " +
      "relation for indexes whose docWeights is not persisted") {
    val q = "alpha theta gamma"
    val expected = rows(Bm25.searchTopK(forwardCorpus, "doc_id", "text",
      q, 20))
    // per-request eligible-corpus index, as search_boolean and the
    // spell/boolean searches derive from standing postings
    val eligible = forwardCorpus.filter(col("doc_id") =!= 7L)
    val perRequest = Bm25.indexFromPostings(eligible, "doc_id",
      Bm25.postings(forwardCorpus, "doc_id", "text"), pinStats = true)
    val got = Bm25.searchTopK(eligible, "doc_id", "text", q, 20,
      index = Some(perRequest))
    assert(rows(got) == rows(Bm25.searchTopK(eligible, "doc_id", "text",
      q, 20)))
    assert(plan(got).contains("Join"))
    assert(!perRequest.isStanding && !perRequest.forwardBuilt)
    // restored from disk, stats pinned, docWeights left unpersisted —
    // the bm25_index_persist shape
    val root = java.nio.file.Files.createTempDirectory("bm25fwd").toString
    val built = Bm25.buildIndex(forwardCorpus, "doc_id", "text")
    graft.search.Ingest.reindexSwapRaw(spark, built.stats, s"$root/stats")
    graft.search.Ingest.reindexSwapRaw(spark, built.docWeights,
      s"$root/weights")
    val restored = Bm25.Index(
      stats = graft.search.Ingest.readCurrent(spark, s"$root/stats")
        .coalesce(1).cache(),
      docWeights = graft.search.Ingest.readCurrent(spark, s"$root/weights"))
    val fromDisk = Bm25.searchTopK(forwardCorpus, "doc_id", "text", q, 20,
      index = Some(restored))
    assert(rows(fromDisk) == expected)
    assert(plan(fromDisk).contains("Join"))
    assert(!restored.isStanding && !restored.forwardBuilt)
    restored.stats.unpersist()
  }

  test("combSum: a constant-score leg normalizes to 1.0 everywhere") {
    val dense = Seq((1L, 7.0), (2L, 7.0)).toDF("doc_id", "score")
    val sparse = Seq((1L, 3.0), (2L, 1.0)).toDF("doc_id", "score")
    val got = Rrf.combSum(dense, sparse, "doc_id", "score", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 2.0 && got(2L) == 1.0)
  }

  // the standing serving path: statistics derived from standing
  // postings and gates must be bit-exact vs the inline tokenize path
  test("indexFromPostings is bit-exact vs buildIndex (stats and " +
      "docWeights row sets identical)") {
    val idx1 = Bm25.buildIndex(servingCorpus, "doc_id", "text")
    val idx2 = Bm25.indexFromPostings(servingCorpus, "doc_id",
      Bm25.postings(servingCorpus, "doc_id", "text"))
    assert(idx1.stats.collect().toSet == idx2.stats.collect().toSet)
    assert(idx1.docWeights.collect().toSet ==
      idx2.docWeights.collect().toSet)
    // and on a FILTERED servingCorpus: restricted postings == re-tokenized
    // eligible servingCorpus
    val eligible = servingCorpus.filter(col("doc_id") =!= 2L)
    val f1 = Bm25.buildIndex(eligible, "doc_id", "text")
    val f2 = Bm25.indexFromPostings(eligible, "doc_id",
      Bm25.postings(servingCorpus, "doc_id", "text"))
    assert(f1.stats.collect().toSet == f2.stats.collect().toSet)
    assert(f1.docWeights.collect().toSet == f2.docWeights.collect().toSet)
    // zero-token docs: absent from postings but MUST count toward
    // n_docs/avgdl (buildIndex counts them from the servingCorpus relation;
    // indexFromPostings must replicate, not infer N from posting keys)
    val withEmpty = servingCorpus.unionByName(
      Seq((99L, ""), (100L, "   ")).toDF("doc_id", "text"))
    val z1 = Bm25.buildIndex(withEmpty, "doc_id", "text")
    val z2 = Bm25.indexFromPostings(withEmpty, "doc_id",
      Bm25.postings(withEmpty, "doc_id", "text"))
    assert(z1.stats.collect().toSet == z2.stats.collect().toSet)
    assert(z1.docWeights.collect().toSet == z2.docWeights.collect().toSet)
    assert(z1.stats.select("n_docs").head().getLong(0) == 10L)
  }

  test("searchBooleanTree standing path equals the inline path") {
    val inline = Bm25.searchBooleanTree(servingCorpus, "doc_id", "text",
      "spark data", must = Seq("table"), should = Seq("customer"),
      mustNot = Seq("error"), shouldBoost = 0.5, k = 10)
    val standing = Bm25.searchBooleanTree(servingCorpus, "doc_id", "text",
      "spark data", must = Seq("table"), should = Seq("customer"),
      mustNot = Seq("error"), shouldBoost = 0.5, k = 10,
      standing = Some(standingFor(servingCorpus)))
    assert(inline.collect().toSeq == standing.collect().toSeq)
    assert(inline.collect().nonEmpty)
  }
}

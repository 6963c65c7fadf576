package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bm25, Knn, Phrase, TextRank}

/** Round-12 serving-path and tuning-loop equivalences:
  *
  *  - indexFromPostings must be BIT-EXACT vs buildIndex over the same
  *    corpus (it is how every filtered-collection search derives its
  *    eligible statistics from the standing postings without a second
  *    tokenize pass)
  *  - searchBooleanTree served from Standing relations must equal the
  *    inline-tokenize path row-for-row
  *  - phrase/proximity gates probing a standing positional-postings
  *    relation must equal the inline path
  *  - pageRank's driver fold must equal the distributed RDD loop
  *    bit-for-bit (the fixed-point grid makes the sum
  *    permutation-invariant — the property the fast path leans on)
  *  - mutualTopK must REJECT non-numeric id columns loudly (ADVICE
  *    r11: the long cast otherwise nulls and silently returns an
  *    empty pair set)
  */
class Round12Spec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
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

  test("indexFromPostings is bit-exact vs buildIndex (stats and " +
      "docWeights row sets identical)") {
    val idx1 = Bm25.buildIndex(corpus, "doc_id", "text")
    val idx2 = Bm25.indexFromPostings(corpus, "doc_id",
      Bm25.postings(corpus, "doc_id", "text"))
    assert(idx1.stats.collect().toSet == idx2.stats.collect().toSet)
    assert(idx1.docWeights.collect().toSet ==
      idx2.docWeights.collect().toSet)
    // and on a FILTERED corpus: restricted postings == re-tokenized
    // eligible corpus
    val eligible = corpus.filter(col("doc_id") =!= 2L)
    val f1 = Bm25.buildIndex(eligible, "doc_id", "text")
    val f2 = Bm25.indexFromPostings(eligible, "doc_id",
      Bm25.postings(corpus, "doc_id", "text"))
    assert(f1.stats.collect().toSet == f2.stats.collect().toSet)
    assert(f1.docWeights.collect().toSet == f2.docWeights.collect().toSet)
    // zero-token docs: absent from postings but MUST count toward
    // n_docs/avgdl (buildIndex counts them from the corpus relation;
    // indexFromPostings must replicate, not infer N from posting keys)
    val withEmpty = corpus.unionByName(
      Seq((99L, ""), (100L, "   ")).toDF("doc_id", "text"))
    val z1 = Bm25.buildIndex(withEmpty, "doc_id", "text")
    val z2 = Bm25.indexFromPostings(withEmpty, "doc_id",
      Bm25.postings(withEmpty, "doc_id", "text"))
    assert(z1.stats.collect().toSet == z2.stats.collect().toSet)
    assert(z1.docWeights.collect().toSet == z2.docWeights.collect().toSet)
    assert(z1.stats.select("n_docs").head().getLong(0) == 10L)
  }

  test("searchBooleanTree standing path equals the inline path") {
    val inline = Bm25.searchBooleanTree(corpus, "doc_id", "text",
      "spark data", must = Seq("table"), should = Seq("customer"),
      mustNot = Seq("error"), shouldBoost = 0.5, k = 10)
    val standing = Bm25.searchBooleanTree(corpus, "doc_id", "text",
      "spark data", must = Seq("table"), should = Seq("customer"),
      mustNot = Seq("error"), shouldBoost = 0.5, k = 10,
      standing = Some(standingFor(corpus)))
    assert(inline.collect().toSeq == standing.collect().toSeq)
    assert(inline.collect().nonEmpty)
  }

  test("phrase and proximity gates probing standing positional " +
      "postings equal the inline tokenize path") {
    val posts = corpus.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.tokensCol(col("text"),
        removeStopwords = false)).as(Seq("pos", "tok")))
    val p1 = Phrase.phraseSearch(corpus, "doc_id", "text",
      Seq("big", "data")).collect().toSet
    val p2 = Phrase.phraseSearch(corpus, "doc_id", "text",
      Seq("big", "data"), standingPostings = Some(posts)).collect().toSet
    assert(p1 == p2 && p1.nonEmpty)
    val x1 = Phrase.proximitySearch(corpus, "doc_id", "text",
      "spark", "table", slop = 3).collect().toSet
    val x2 = Phrase.proximitySearch(corpus, "doc_id", "text",
      "spark", "table", slop = 3,
      standingPostings = Some(posts)).collect().toSet
    assert(x1 == x2 && x1.nonEmpty)
  }

  test("fused gateIds equals the chained phrase/proximity semi-join " +
      "gates (the QuerySyntax standing path's single-pass form)") {
    val posts = corpus.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.tokensCol(col("text"),
        removeStopwords = false)).as(Seq("pos", "tok")))
    val phrases = Seq(Seq("big", "data"))
    val slops = Seq((Seq("spark", "table"), 3))
    // chained form: phrase gate then proximity gate, each a semi-join
    val chained = corpus
      .join(Phrase.phraseSearch(corpus, "doc_id", "text", phrases.head)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .join(Phrase.proximitySearch(corpus, "doc_id", "text",
          "spark", "table", slop = 3)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fused = Phrase.gateIds(posts, phrases, slops)
      .collect().map(_.getLong(0)).toSet
    assert(fused == chained && fused.nonEmpty)
    // phrase-only and slop-only degenerate forms
    assert(Phrase.gateIds(posts, phrases, Nil)
      .collect().map(_.getLong(0)).toSet ==
      Phrase.phraseSearch(corpus, "doc_id", "text", phrases.head)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(Phrase.gateIds(posts, Nil, slops)
      .collect().map(_.getLong(0)).toSet ==
      Phrase.proximitySearch(corpus, "doc_id", "text", "spark", "table",
          slop = 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("pageRank driver fold is bit-identical to the distributed RDD " +
      "loop (order-free fixed-point accumulation)") {
    // a graph with a hub, a chain, and a triangle — uneven degrees so
    // a non-exact accumulation would diverge in the last ulps
    val edges = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("a", "d", 2L), ("a", "e", 5L),
      ("b", "c", 2L), ("c", "d", 1L), ("e", "f", 4L), ("f", "g", 1L),
      ("g", "e", 2L), ("d", "h", 7L)
    ).toDF("u", "v", "w")
    val fold = TextRank.pageRank(edges, iterations = 6)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val dist = TextRank.pageRank(edges, iterations = 6,
        driverFoldMaxEdges = -1L) // force the distributed loop
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(fold.keySet == dist.keySet)
    fold.foreach { case (v, s) =>
      assert(s == dist(v), s"vertex $v: fold=$s dist=${dist(v)}")
    }
  }

  test("mutualTopK rejects a non-numeric id column loudly") {
    val vecs = Seq(("x1", Seq(1.0, 0.0)), ("x2", Seq(0.9, 0.1)))
      .toDF("sid", "vec")
    val cents = Seq(Array(1.0, 0.0))
    val e = intercept[IllegalArgumentException] {
      Knn.mutualTopK(vecs, "sid", "vec", cents, k = 2)
    }
    assert(e.getMessage.contains("integral id column"))
  }

  test("quality_tuned: kept slice respects the selected threshold and " +
      "the threshold comes from the grid") {
    val rows = SparkEntry.queries("quality_tuned")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val tau = rows.head.getAs[Double]("threshold")
    assert(Seq(0.3, 0.4, 0.5, 0.6, 0.7).contains(tau))
    val f1 = rows.head.getAs[Double]("panel_f1")
    assert(f1 >= 0.0 && f1 <= 1.0)
    rows.foreach { r =>
      assert(r.getAs[Double]("quality_prob") >= tau)
      assert(r.getAs[Double]("threshold") == tau)
    }
  }

  test("serving-path discipline: the online-search composites read " +
      "the STANDING cached index (InMemoryTableScan), never a per-" +
      "query corpus re-tokenize") {
    val dir = "/root/testdata/sf0.001"
    // bm25_topk serves from docsTextIndex: the executed plan must scan
    // the cached docWeights or the index's checkpointed forward
    // relation `(id, fwd)`, and the only Generate (explode) nodes
    // allowed are beneath the cache build, not in the per-query plan
    // (search_collapse's and search_ltr's final plans scan their
    // CHECKPOINTED candidate pages instead — the standing index sits
    // beneath the eager checkpoint, r14's fix for ltr's 4 re-scores —
    // so they are asserted via their bench profiles, not here)
    for (q <- Seq("bm25_topk", "search_prf", "search_snippets",
        "search_fallback_correct")) {
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      val forwardScan = "Scan ExistingRDD\\[id#\\d+L?,fwd#".r
      assert(p.contains("InMemoryTableScan") ||
        forwardScan.findFirstIn(p).isDefined,
        s"$q does not serve from the standing cache:\n$p")
    }
  }

  test("ann_pq_tuned: serving plan keeps the broadcast shortlist " +
      "semi-join and the top-k heap; config comes from the grid") {
    val df = SparkEntry.queries("ann_pq_tuned")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"shortlist semi-join must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    val rows = df.collect()
    assert(rows.length == 10)
    val (m, sl) = (rows.head.getAs[Int]("m"),
      rows.head.getAs[Int]("shortlist"))
    assert(Seq((4, 30), (4, 50), (8, 30), (8, 50)).contains((m, sl)))
  }
}

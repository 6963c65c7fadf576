package graft

import org.apache.spark.sql.functions._

import graft.operators.Phrase

/** Positional phrase search: exact adjacency, repeated-word phrases,
  * overlapping matches, and the map-side pruning plan shape. */
class PhraseSpec extends SparkSpec {
  import spark.implicits._

  /** The standing-vs-inline corpus: "big data" and "spark" near "table"
    * both match some docs, and doc 7 matches nothing. */
  private val gateCorpus = Seq(
    (1L, "spark streaming data big data table"),
    (2L, "customer table error data spark"),
    (3L, "big data spark hash join table"),
    (4L, "error log stream data"),
    (5L, "the spark table holds customer data rows"),
    (6L, "hash partition data table spark big"),
    (7L, "zebra quartz unrelated text"),
    (8L, "data data data table table spark")
  ).toDF("doc_id", "text")

  /** Five of six docs hold the phrase "big data"; the must-not word
    * "error" takes doc 6 out of them. */
  private val mustNotCorpus = Seq(
    (1L, "spark streaming data big data table"),
    (2L, "customer table error data spark"),
    (3L, "big data spark hash join table"),
    (4L, "table spark data big data hash"),
    (5L, "hash spark big data table window"),
    (6L, "spark data error table hash big data")
  ).toDF("doc_id", "text")

  private val docs = Seq(
    (1L, "big data wins and big data scales"), // two matches
    (2L, "big rigs carry data"),               // words present, not adjacent
    (3L, "the data big flip"),                 // reversed order: no match
    (4L, "big data"),                          // match at position 0
    (5L, "zz big big data yy"))                // match not at the first 'big'
    .toDF("doc_id", "text")

  test("golden: adjacency required, 0-based first position, " +
      "multiple matches counted") {
    val got = Phrase.phraseSearch(docs, "doc_id", "text",
        Seq("big", "data"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map(1L -> ((2L, 0L)), 4L -> ((1L, 0L)),
      5L -> ((1L, 2L))), s"$got")
  }

  test("repeated-word phrase cannot false-positive on a single " +
      "occurrence; overlapping matches are counted") {
    val d = Seq(
      (1L, "go go go"),      // 'go go' matches at 0 and 1 (overlap)
      (2L, "go stop go"))    // no adjacent pair
      .toDF("doc_id", "text")
    val got = Phrase.phraseSearch(d, "doc_id", "text", Seq("go", "go"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map(1L -> ((2L, 0L))), s"$got")
  }

  test("proximity: ordered within-slop pairs only; gap measured; " +
      "reverse order and out-of-window occurrences excluded") {
    val d = Seq(
      (1L, "big fast query"),              // gap 2 <= 4: match
      (2L, "query big"),                   // reversed: no match
      (3L, "big aa bb cc dd ee query"),    // gap 6 > 4: no match
      (4L, "big query big fast query"))    // pairs: (0,1),(2,4),(0? 4 gap4)
      .toDF("doc_id", "text")
    val got = Phrase.proximitySearch(d, "doc_id", "text",
        "big", "query", slop = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // doc 4 positions: big@0, query@1, big@2, query@4 →
    // pairs (0,1) g1, (0,4) g4, (2,4) g2 = 3 pairs, min gap 1
    assert(got == Map(1L -> ((1L, 2L)), 4L -> ((3L, 1L))), s"$got")
  }

  test("plan: phrase words prune map-side via a broadcast join; the " +
      "corpus token stream never hash-shuffles before the prune") {
    val p = Phrase.phraseSearch(docs, "doc_id", "text",
        Seq("big", "data"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  // standing positional postings and the fused single-pass gate must
  // equal the inline, chained semi/anti-join gates
  test("phrase and proximity gates probing standing positional " +
      "postings equal the inline tokenize path") {
    val posts = gateCorpus.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.tokensCol(col("text"),
        removeStopwords = false)).as(Seq("pos", "tok")))
    val p1 = Phrase.phraseSearch(gateCorpus, "doc_id", "text",
      Seq("big", "data")).collect().toSet
    val p2 = Phrase.phraseSearch(gateCorpus, "doc_id", "text",
      Seq("big", "data"), standingPostings = Some(posts)).collect().toSet
    assert(p1 == p2 && p1.nonEmpty)
    val x1 = Phrase.proximitySearch(gateCorpus, "doc_id", "text",
      "spark", "table", slop = 3).collect().toSet
    val x2 = Phrase.proximitySearch(gateCorpus, "doc_id", "text",
      "spark", "table", slop = 3,
      standingPostings = Some(posts)).collect().toSet
    assert(x1 == x2 && x1.nonEmpty)
  }

  test("fused gateIds equals the chained phrase/proximity semi-join " +
      "gates (the QuerySyntax standing path's single-pass form)") {
    val posts = gateCorpus.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.tokensCol(col("text"),
        removeStopwords = false)).as(Seq("pos", "tok")))
    val phrases = Seq(Seq("big", "data"))
    val slops = Seq((Seq("spark", "table"), 3))
    // chained form: phrase gate then proximity gate, each a semi-join
    val chained = gateCorpus
      .join(Phrase.phraseSearch(gateCorpus, "doc_id", "text", phrases.head)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .join(Phrase.proximitySearch(gateCorpus, "doc_id", "text",
          "spark", "table", slop = 3)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fused = Phrase.gateIds(posts, phrases, slops)
      .collect().map(_.getLong(0)).toSet
    assert(fused == chained && fused.nonEmpty)
    // phrase-only and slop-only degenerate forms
    assert(Phrase.gateIds(posts, phrases, Nil)
      .collect().map(_.getLong(0)).toSet ==
      Phrase.phraseSearch(gateCorpus, "doc_id", "text", phrases.head)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(Phrase.gateIds(posts, Nil, slops)
      .collect().map(_.getLong(0)).toSet ==
      Phrase.proximitySearch(gateCorpus, "doc_id", "text", "spark", "table",
          slop = 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("gateIds fuses must/mustNot membership verdicts bit-equal to " +
      "the chained semi/anti-join gates") {
    val posts = mustNotCorpus.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.tokensCol(col("text"),
        removeStopwords = false)).as(Seq("pos", "tok")))
    val phrases = Seq(Seq("big", "data"))
    val must = Seq("table")
    val mustNot = Seq("error")
    // chained form: phrase gate, then must membership, then anti-join
    val hasTok = (w: String) => posts.filter(col("tok") === w)
      .select("doc_id").distinct()
    val chained = mustNotCorpus
      .join(graft.operators.Phrase
          .phraseSearch(mustNotCorpus, "doc_id", "text", phrases.head)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .join(hasTok("table"), Seq("doc_id"), "left_semi")
      .join(hasTok("error"), Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fused = graft.operators.Phrase
      .gateIds(posts, phrases, Nil, must = must, mustNot = mustNot)
      .collect().map(_.getLong(0)).toSet
    assert(fused == chained && fused.nonEmpty)
    // a positive gate is REQUIRED — pure must_not would wrongly
    // exclude docs containing none of the gate words
    intercept[IllegalArgumentException] {
      graft.operators.Phrase.gateIds(posts, Nil, Nil,
        mustNot = Seq("error"))
    }
  }

  test("fused gateIds equals the chained gates on seeded-random " +
      "corpora and gate trees (the property form of the equivalence)") {
    val rnd = new scala.util.Random(13L)
    val vocabWords = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    (1 to 6).foreach { trial =>
      val docs = (1L to 40L).map { id =>
        val n = 3 + rnd.nextInt(12)
        (id, Seq.fill(n)(vocabWords(rnd.nextInt(vocabWords.size)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val posts = docs.select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.tokensCol(col("text"),
          removeStopwords = false)).as(Seq("pos", "tok")))
      val ph = Seq(vocabWords(rnd.nextInt(4)), vocabWords(rnd.nextInt(4)))
      val must = Seq(vocabWords(4 + rnd.nextInt(2)))
      val mustNot = Seq(vocabWords(6 + rnd.nextInt(2)))
      val hasTok = (w: String) => posts.filter(col("tok") === w)
        .select("doc_id").distinct()
      val chained = docs
        .join(graft.operators.Phrase
            .phraseSearch(docs, "doc_id", "text", ph)
          .select("doc_id"), Seq("doc_id"), "left_semi")
        .join(hasTok(must.head), Seq("doc_id"), "left_semi")
        .join(hasTok(mustNot.head), Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val fused = graft.operators.Phrase
        .gateIds(posts, Seq(ph), Nil, must = must, mustNot = mustNot)
        .collect().map(_.getLong(0)).toSet
      assert(fused == chained,
        s"trial $trial: phrase=$ph must=$must mustNot=$mustNot " +
          s"fused=$fused chained=$chained")
    }
  }
}
